package graft.util

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Per-task execution stats over a measuring window, from one listener:
  * task count, summed and longest task time, the most shuffle-read records
  * any single task read (the skew straggler metric), and per stage the
  * longest task, task count and summed task time (a straggler attributed
  * to a STAGE, and through its task count to a plan region).
  *
  * The ratio max / (sum / count) tells ONE straggler (high) from a
  * fleet-wide uniform stretch (≈1) — the round-12 burst's signature
  * was "all 32 intersection tasks uniformly ~7.7 s", which no
  * single-channel max can tell apart from a genuinely heavier plan.
  *
  * Usage: [[reset]] before the window, run it, then [[settled]] before
  * reading any channel.
  */
final class TaskStats extends SparkListener {
  private val count = new AtomicLong(0L)
  private val sumMs = new AtomicLong(0L)
  private val maxMs = new AtomicLong(0L)
  private val maxShuffleRead = new AtomicLong(0L)
  private val byStage = new ConcurrentHashMap[Int, TaskStats.Stage]()

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
    if (t.taskInfo != null) {
      val ms = t.taskInfo.duration
      maxMs.getAndAccumulate(ms, math.max)
      sumMs.addAndGet(ms)
      if (t.taskMetrics != null)
        maxShuffleRead.getAndAccumulate(
          t.taskMetrics.shuffleReadMetrics.recordsRead, math.max)
      byStage.merge(t.stageId, TaskStats.Stage(ms, 1, ms), _ merge _)
      // count LAST: [[settled]] polls the count, and a sub-millisecond task
      // (common in local mode) moves the sum by 0 — settling on the sum
      // could return with other updates still in flight. Every event moves
      // the count by exactly 1, and by the time it does, its own channel
      // updates are already published.
      count.incrementAndGet()
    }

  def tasks: Long = count.get
  def taskSumMs: Long = sumMs.get
  def maxTaskMs: Long = maxMs.get
  def maxShuffleReadRecords: Long = maxShuffleRead.get

  /** (stage id, stats), by stage id. */
  def stages: Seq[(Int, TaskStats.Stage)] =
    byStage.asScala.toSeq.sortBy(_._1)

  def reset(): Unit = {
    count.set(0L); sumMs.set(0L); maxMs.set(0L); maxShuffleRead.set(0L)
    byStage.clear()
  }

  /** Waits until the task count stops moving, then returns these stats.
    * The listener bus is asynchronous: the straggler task these channels
    * exist to catch is often the LAST event delivered, after the action
    * has already returned — read-once would miss it or leak it into the
    * next window. Short cadence because Bench settles once per measured
    * run (outside its window).
    */
  def settled(): TaskStats = { Poll.settled(() => count.get, 20, 50); this }
}

object TaskStats {

  /** One stage's longest task, task count and summed task time. */
  final case class Stage(maxMs: Long, tasks: Int, totalMs: Long) {
    def merge(o: Stage): Stage =
      Stage(math.max(maxMs, o.maxMs), tasks + o.tasks, totalMs + o.totalMs)
  }

  /** A fresh listener, attached to `spark`'s context. */
  def attach(spark: SparkSession): TaskStats = {
    val s = new TaskStats
    spark.sparkContext.addSparkListener(s)
    s
  }
}
