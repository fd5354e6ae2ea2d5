package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Counts the SQL executions (actions) and Spark jobs a block of code runs. */
object SqlExecutions {

  /** The action names (`head`, `count`, `save`, ...) of every SQL execution
    * `body` runs, in completion order.
    */
  def during(spark: SparkSession)(body: => Unit): Seq[String] =
    captured(spark)(body).map(_._1)

  /** The action name and [[QueryExecution]] of every SQL execution `body`
    * runs, in completion order. The listener bus is asynchronous but
    * ordered, so once a marker action run after `body` has been delivered,
    * every execution of `body` has been too.
    */
  def captured(spark: SparkSession)(body: => Unit): Seq[(String, QueryExecution)] = {
    val seen = new ConcurrentLinkedQueue[(String, QueryExecution)]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = { seen.add(f -> qe); () }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = { seen.add(f -> qe); () }
    }
    spark.listenerManager.register(listener)
    try {
      body
      val marker = spark.range(1).toDF()
      marker.collect()
      val deadline = System.nanoTime() + 30L * 1000000000L
      def isMarker(e: (String, QueryExecution)) = e._2 eq marker.queryExecution
      while (!seen.asScala.exists(isMarker)) {
        assert(System.nanoTime() < deadline, "marker execution never reached the listener")
        Thread.sleep(10)
      }
      seen.asScala.toSeq.takeWhile(!isMarker(_))
    } finally spark.listenerManager.unregister(listener)
  }

  /** Spark jobs started while `body` runs. The listener bus is ordered, so
    * once a marker job started after `body` has been delivered, every job
    * of `body` has been too.
    */
  def jobs(spark: SparkSession)(body: => Unit): Int = {
    val jobs = new AtomicInteger
    @volatile var markerSeen = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("graft.jobs.marker") != null)) markerSeen = true
        else { jobs.incrementAndGet(); () }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      body
      sc.setLocalProperty("graft.jobs.marker", "1")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty("graft.jobs.marker", null)
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!markerSeen) {
        assert(System.nanoTime() < deadline, "marker job never reached the listener")
        Thread.sleep(10)
      }
      jobs.get
    } finally sc.removeSparkListener(listener)
  }
}
