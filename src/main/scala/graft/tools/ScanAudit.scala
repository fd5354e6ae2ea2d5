package graft.tools

import graft.SparkEntry

/** Scratch auditor: execute every declared query and flag FINAL adaptive
  * plans that scan the SAME parquet input more than once with IDENTICAL
  * shape — same location, pushed filters and read schema. Two scans of one
  * table with different pruning are usually the cheap plan (each pushes its
  * own filters); two byte-identical scans are pure waste, the x_novelty
  * double-tokenize class (BENCH_NOTES #80d): at 100 TB they re-read the
  * dominant input. AQE's ReuseExchange collapses most of these at runtime —
  * which is exactly why the audit must read the EXECUTED plan, not the
  * compile-time tree (x_span_dedup prints two scans at compile time and
  * runs one).
  *
  * Usage: runMain graft.tools.ScanAudit [sfDir] [nameFilter,csv]
  */
object ScanAudit {
  /** Identical-FileScan keys occurring more than once in a final-plan tree
    * string. A key is the scan line minus tree-drawing prefix and the
    * plan-id/column-id noise (`#123`), so the same logical scan compares
    * equal across subtree copies. An executed AdaptiveSparkPlan prints the
    * Initial Plan after the Final Plan — only the final section counts
    * (the initial one double-counts every scan).
    */
  def duplicateScans(plan: String): Seq[String] =
    plan.split("== Initial Plan ==").head.linesIterator
      .filter(_.contains("FileScan "))
      .map(_.dropWhile(c => !c.isLetter).replaceAll("#\\d+[L]?", ""))
      .toSeq.groupBy(identity).collect {
        case (k, vs) if vs.size > 1 => s"x${vs.size}: $k"
      }.toSeq.sorted

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val only = args.drop(1).headOption.map(_.split(',').toSet)
    val spark = graft.util.Harness.session()
    spark.sparkContext.setLogLevel("ERROR")
    var flagged = 0
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          df.collect() // finalize THIS frame's adaptive plan
          val dups = duplicateScans(df.queryExecution.executedPlan.toString)
          if (dups.nonEmpty) {
            flagged += 1
            println(s"[scan-audit] $name:")
            dups.foreach(d => println(s"  $d"))
          }
        } catch {
          case e: Throwable =>
            println(s"[scan-audit] $name ERROR ${e.getClass.getSimpleName}: " +
              s"${Option(e.getMessage).getOrElse("").take(120)}")
        }
      }
    println(s"[scan-audit] done: $flagged queries with identical duplicate scans")
    spark.stop()
  }
}
