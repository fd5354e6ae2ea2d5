package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}

import graft.SparkEntry

/** Generates docs/PLANS.md: a physical-plan audit of every declared query —
  * scan pruning (ReadSchema / PushedFilters), join strategies, exchange
  * counts, codegen coverage. This is the written artifact of the
  * ".explain and iterate" loop: the plan facts a reviewer checks when asking
  * "would this survive 100×" live here, regenerated by
  * `runMain graft.tools.PlanAudit [sfDir] [outFile]`.
  */
object PlanAudit {

  private def planFacts(plan: SparkPlan): (Int, Int, Seq[String], Seq[String], Boolean) = {
    val nodes = plan.collectWithSubqueries { case p => p }
    val shuffles = nodes.count(_.isInstanceOf[ShuffleExchangeExec])
    val broadcasts = nodes.count(_.isInstanceOf[BroadcastExchangeExec])
    val joins = nodes.map(_.nodeName).filter(_.toLowerCase.contains("join")).distinct
    val scans = nodes.flatMap {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        val pushed = f.metadata.getOrElse("PushedFilters", "[]")
        Some(s"scan ${f.tableIdentifier.map(_.table).getOrElse("parquet")}: " +
          s"cols=${f.requiredSchema.fieldNames.mkString(",")} pushed=$pushed")
      case _ => None
    }
    // Codegen'd stages render as `*(N)` operator prefixes in the tree (the
    // WholeStageCodegenExec node itself is folded into the notation).
    val codegen = plan.toString.contains("*(")
    (shuffles, broadcasts, joins, scans, codegen)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val out = if (args.length > 1) args(1) else "docs/PLANS.md"
    // static planning view: AQE's final plans hide codegen stages and
    // runtime-convert joins; the audit reports the compile-time shape
    val spark = graft.util.Harness.session(
      conf = Map("spark.sql.adaptive.enabled" -> "false"))
    spark.sparkContext.setLogLevel("ERROR")

    val sb = new StringBuilder
    sb.append("# PLANS — physical-plan audit of every declared query\n\n")
    sb.append(s"Generated by `graft.tools.PlanAudit` at `$sfDir`. Per query: shuffle/broadcast\n")
    sb.append("exchange counts, join strategies, per-scan column pruning and pushed filters.\n")
    sb.append("Compile-time shape (AQE disabled for the audit; at runtime AQE may further\n")
    sb.append("coalesce partitions, convert joins to broadcast, and split skewed tasks).\n\n")
    sb.append("| query | shuffles | broadcasts | joins | codegen |\n")
    sb.append("|---|---|---|---|---|\n")

    val details = new StringBuilder
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val executed = df.queryExecution.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.executedPlan
          case p => p
        }
        val (sh, bc, joins, scans, codegen) = planFacts(executed)
        sb.append(s"| $name | $sh | $bc | ${if (joins.isEmpty) "—" else joins.mkString("; ")} | ${if (codegen) "yes" else "no"} |\n")
        if (scans.nonEmpty) {
          details.append(s"\n### $name\n")
          scans.distinct.foreach(s => details.append(s"- $s\n"))
        }
      } catch {
        case e: Throwable =>
          sb.append(s"| $name | ERROR | | ${e.getClass.getSimpleName} | |\n")
      }
    }
    sb.append("\n## Scan pruning detail\n")
    sb.append(details)
    Files.createDirectories(Paths.get(out).getParent)
    Files.writeString(Paths.get(out), sb.toString)
    println(s"wrote $out")
    spark.stop()
  }
}
