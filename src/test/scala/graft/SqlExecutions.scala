package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Counts the SQL executions (actions) a block of code runs. */
object SqlExecutions {

  /** The action names (`head`, `count`, `save`, ...) of every SQL execution
    * `body` runs, in completion order. The listener bus is asynchronous but
    * ordered, so once a marker action run after `body` has been delivered,
    * every execution of `body` has been too.
    */
  def during(spark: SparkSession)(body: => Unit): Seq[String] = {
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
      seen.asScala.toSeq.takeWhile(!isMarker(_)).map(_._1)
    } finally spark.listenerManager.unregister(listener)
  }
}
