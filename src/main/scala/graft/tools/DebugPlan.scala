package graft.tools

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkEntry
import graft.util.{Harness, TaskStats}

/** Query inspector: print a declared query's formatted compile-time plan,
  * then run it N times (noop sink, all columns computed) and print each
  * run's wall with a per-stage task table, plus the AQE-FINAL executed plan
  * of the first and last run's write — the runtime plan shapes the
  * compile-time view can't show.
  *
  * Usage: runMain graft.tools.DebugPlan <queryName> [sfDir] [runs]
  */
object DebugPlan {
  def main(args: Array[String]): Unit = {
    if (args.isEmpty || !SparkEntry.queries.contains(args(0)) ||
        args.drop(2).headOption.exists(r => scala.util.Try(r.toInt).isFailure)) {
      System.err.println(
        "usage: runMain graft.tools.DebugPlan <queryName> [sfDir] [runs]\n" +
          s"  queryName: one of ${SparkEntry.queries.size} declared queries " +
          "(e.g. x_triangles); runs: an integer (default 3)")
      sys.exit(2)
    }
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val runs = if (args.length > 2) args(2).toInt else 3
    val spark = Harness.session()
    val stats = TaskStats.attach(spark)
    // The noop write runs its own QueryExecution (`df`'s adaptive plan
    // never executes), so the plan that ran is the write's, delivered
    // through the listener bus.
    val written = new AtomicReference[QueryExecution]()
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        if (qe.logical.isInstanceOf[V2WriteCommand]) written.set(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    val fn = SparkEntry.queries(name)
    fn(spark, sfDir).explain("formatted")
    (1 to runs).foreach { i =>
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      stats.reset()
      written.set(null)
      // Frame CONSTRUCTION is timed separately: some queries run real
      // driver-side jobs while building the frame (IVF centroid collects,
      // oovRate's vocab top-k) — Bench times fn() inside its window, so a
      // DebugPlan reading that silently excluded the build would
      // under-report exactly those queries (and the printed plan covers
      // only the post-build half either way).
      val tb0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val build = (System.nanoTime() - tb0) / 1e9
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      stats.settled()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (written.get == null && System.nanoTime() < deadline) Thread.sleep(10)
      val buildNote = if (build >= 0.1) f" (+ build $build%.3f s)" else ""
      println(f"run $i: $wall%.3f s$buildNote  maxtask=${stats.maxTaskMs} ms")
      stats.stages.foreach { case (sid, s) =>
        println(f"  stage $sid%3d: tasks=${s.tasks}%3d maxtask=${s.maxMs}%6d ms " +
          f"total=${s.totalMs}%7d ms")
      }
      if (i == 1 || i == runs) {
        println(Option(written.get).fold("(the write's plan never reached the listener)")(
          _.executedPlan.toString.split("== Initial Plan ==").head))
      }
    }
    spark.stop()
  }
}
