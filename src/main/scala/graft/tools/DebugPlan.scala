package graft.tools

import graft.SparkEntry
import graft.util.{Harness, TaskStats}

/** Query inspector: print a declared query's formatted compile-time plan,
  * then run it N times (noop sink, all columns computed) and print each
  * run's wall with a per-stage task table, plus the AQE-FINAL executed plan
  * of the first and last run — the runtime plan shapes the compile-time
  * view can't show.
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
    val fn = SparkEntry.queries(name)
    fn(spark, sfDir).explain("formatted")
    (1 to runs).foreach { i =>
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      stats.reset()
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
      val buildNote = if (build >= 0.1) f" (+ build $build%.3f s)" else ""
      println(f"run $i: $wall%.3f s$buildNote  maxtask=${stats.maxTaskMs} ms")
      stats.stages.foreach { case (sid, s) =>
        println(f"  stage $sid%3d: tasks=${s.tasks}%3d maxtask=${s.maxMs}%6d ms " +
          f"total=${s.totalMs}%7d ms")
      }
      if (i == 1 || i == runs) {
        println(df.queryExecution.executedPlan.toString
          .split("== Initial Plan ==").head)
      }
    }
    spark.stop()
  }
}
