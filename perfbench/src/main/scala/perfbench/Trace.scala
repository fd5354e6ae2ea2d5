package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Names the repo module behind a Spark call site. */
object Attribution {

  /** The action module: the job has no graft frame, so the op forced it. */
  val Action = "action"

  /** Module of the innermost `graft.<module>` frame in a long-form call site
    * (one `StackTraceElement` per line, innermost first). Classes directly in
    * package `graft` map to "core". None when no line is a graft frame.
    */
  def module(callSite: String): Option[String] =
    callSite.linesIterator.map(_.trim.stripPrefix("at ").takeWhile(_ != '('))
      .find(_.startsWith("graft."))
      .map { frame =>
        val parts = frame.split('.')
        if (parts.length >= 3 && parts(1).headOption.exists(_.isLower)) parts(1) else "core"
      }

  /** Module of the implementing object of a function value, read from the
    * class the lambda was compiled into (e.g. `graft.analytics.Relational$`).
    */
  def moduleOf(fn: AnyRef): String =
    module(fn.getClass.getName + "(x)").getOrElse("unknown")
}

/** One job as the listener saw it; its module is resolved when it is read. */
final class JobRec(val jobId: Int, val group: String, val execId: Option[Long],
    val start: Long, val stageIds: Seq[Int], val stageDetails: String) {
  var end: Long = -1L
}

/** Task totals of one stage attempt. */
final class StageRec(val stageId: Int, val attempt: Int) {
  var tasks = 0L
  var taskMs = 0L
  var maxTaskMs = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
}

/** Records jobs, stages, task metrics, SQL execution call sites and disk
  * block writes from Spark's listener bus. Events arrive on the bus thread;
  * readers call [[settle]] first and then read under the same lock.
  */
final class Recorder extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stages = mutable.LinkedHashMap.empty[(Int, Int), StageRec]
  private val execDetails = mutable.HashMap.empty[Long, String]
  private val diskBlocks = mutable.ArrayBuffer.empty[(Long, Long)] // (time, bytes)
  @volatile private var events = 0L
  @volatile private var openJobs = 0

  def eventCount: Long = events
  def open: Int = openJobs

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    recordJobStart(e.jobId, e.time, prop("spark.jobGroup.id").getOrElse(""),
      prop("spark.sql.execution.id").map(_.toLong), e.stageIds,
      e.stageInfos.sortBy(_.stageId).headOption.map(_.details).getOrElse(""))
  }

  def recordJobStart(jobId: Int, time: Long, group: String, execId: Option[Long],
      stageIds: Seq[Int], stageDetails: String): Unit = synchronized {
    events += 1
    jobs(jobId) = new JobRec(jobId, group, execId, time, stageIds, stageDetails)
    openJobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    events += 1
    jobs.get(e.jobId).foreach { j =>
      j.end = e.time
      openJobs -= 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    events += 1
    if (e.taskInfo != null) {
      val s = stages.getOrElseUpdate((e.stageId, e.stageAttemptId),
        new StageRec(e.stageId, e.stageAttemptId))
      val ms = e.taskInfo.duration
      s.tasks += 1
      s.taskMs += ms
      s.maxTaskMs = math.max(s.maxTaskMs, ms)
      Option(e.taskMetrics).foreach { m =>
        s.inputBytes += m.inputMetrics.bytesRead
        s.outputBytes += m.outputMetrics.bytesWritten
        s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.spillBytes += m.diskBytesSpilled
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    events += 1
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD && info.storageLevel.useDisk && info.diskSize > 0)
      diskBlocks += ((System.currentTimeMillis(), info.diskSize))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
        events += 1
        execDetails(s.executionId) = s.details
      }
    case _ => ()
  }

  /** Waits until no job is open and the event count stops moving. */
  def settle(): Unit = Settle.await(() => eventCount, () => open == 0)

  /** Jobs of one op group, with their resolved modules. */
  def jobsOf(groups: Set[String]): Seq[(JobRec, Option[String])] = synchronized {
    jobs.values.filter(j => groups.contains(j.group)).map(j => j -> moduleOf(j)).toSeq
  }

  /** Module of a job: its SQL execution's call site, else its first stage's;
    * [[Attribution.Action]] when the call site has no graft frame; None when
    * the call site is not known at all.
    */
  def moduleOf(j: JobRec): Option[String] = synchronized {
    val site = j.execId.flatMap(execDetails.get).orElse(Option(j.stageDetails).filter(_.nonEmpty))
    site.map(s => Attribution.module(s).getOrElse(Attribution.Action))
  }

  def stagesOf(j: JobRec): Seq[StageRec] = synchronized {
    val ids = j.stageIds.toSet
    stages.values.filter(s => ids.contains(s.stageId)).toSeq
  }

  def diskBytesBetween(from: Long, to: Long): Long = synchronized {
    diskBlocks.collect { case (t, b) if t >= from && t <= to => b }.sum
  }

  def allJobs: Seq[JobRec] = synchronized(jobs.values.toSeq)
}

/** Settling the asynchronous listener bus before counts are read: an action
  * can return while its last events are still queued, so the reader polls
  * (the `graft.util.Poll.settled` discipline) until the bus is quiet.
  */
object Settle {
  def await(count: () => Long, quiet: () => Boolean, maxRounds: Int = 100,
      sleepMs: Long = 20): Unit = {
    var rounds = 0
    do {
      graft.util.Poll.settled(count, maxIters = 50, sleepMs = sleepMs)
      rounds += 1
    } while (!quiet() && rounds < maxRounds)
  }
}
