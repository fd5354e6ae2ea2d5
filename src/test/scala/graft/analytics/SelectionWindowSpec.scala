package graft.analytics

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.window.WindowExec

import graft.SparkSpec
import graft.util.Select

/** Pins the domain-bounded-window invariant of the round-14/15 selection
  * rewrites (round-14 verdict #3/#5): each rewrite runs a cumulative or
  * rank window whose input must be the bucket/domain frame — bounded by
  * the value domain or by [[Select.Buckets]]-derived bucket extents —
  * NEVER by the input row count. The single-partition windows among them
  * are safe only BY that construction; these tests execute each seam on
  * an adversarial input (row count ≫ domain) and read every WindowExec's
  * actual input cardinality off the executed plans' metrics, so a future
  * edit that feeds a row-bounded frame into one of these windows fails
  * here instead of becoming a silent scale regression.
  */
class SelectionWindowSpec extends SparkSpec {
  import spark.implicits._

  private def finalOf(p: SparkPlan): SparkPlan = p match {
    case a: AdaptiveSparkPlanExec => finalOf(a.executedPlan)
    case q: QueryStageExec => finalOf(q.plan)
    case other => other
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val here = finalOf(p)
    here +: here.children.flatMap(nodes)
  }

  /** Runs `body`, captures every query execution it triggers (the
    * selection seams run their histogram/selection passes as separate
    * collect jobs during frame construction), and returns the input row
    * count of every WindowExec across all of them — read from the first
    * descendant node carrying a row-count metric (the window's shuffle
    * read, or the aggregate feeding it in the same stage).
    */
  private def windowInputRows(body: => Unit): Seq[Long] =
    graft.SqlExecutions.captured(spark)(body).flatMap { case (_, qe) =>
      nodes(qe.executedPlan).collect { case w: WindowExec =>
        nodes(w.children.head).iterator.flatMap { n =>
          n.metrics.get("recordsRead").orElse(n.metrics.get("numOutputRows"))
            .map(_.value)
        }.toSeq.headOption.getOrElse(
          fail(s"no row-count metric under WindowExec:\n$w"))
      }
    }

  test("weightedMedianOver: the cumulative window moves the picked " +
    "bucket's VALUE DOMAIN, not rows (5000 rows, 37 values)") {
    val rows = Seq.tabulate(5000)(i => ((i % 37).toLong, (i % 7 + 1).toLong))
    val wins = windowInputRows {
      Experiment.weightedMedianOver(rows.toDF("c", "w")).collect(); ()
    }
    assert(wins.nonEmpty)
    wins.foreach(n => assert(n <= 37L,
      s"window input $n exceeds the 37-value domain (rows=5000)"))
  }

  test("winsorizeOver: both fence windows move the (type, cents) domain, " +
    "not rows (9000 rows, <=150 domain pairs)") {
    val rows = Seq.tabulate(9000)(i => (s"t${i % 3}", (i % 50).toLong))
    val domain = rows.distinct.size.toLong
    val wins = windowInputRows {
      Warehouse.winsorizeOver(rows.toDF("event_type", "c")).collect(); ()
    }
    assert(wins.nonEmpty)
    // 2x: the two chained fence windows share one exchange and the
    // shuffle-read counter accumulates both windows' reads of it — still
    // domain-proportional, nowhere near the 9000-row input
    wins.foreach(n => assert(n <= 2 * domain,
      s"window input $n exceeds the $domain-pair domain (rows=9000)"))
  }

  test("calibrationBinsOver: the boundary-rank window reads only the <=9 " +
    "picked buckets (5120 rows -> <=9 bucket extents)") {
    val n = 5120
    val rows = Seq.tabulate(n)(i => (i.toLong, (i % 2).toLong, (i * 997).toLong))
    val bound = 9L * (n / Select.Buckets + 2)
    val wins = windowInputRows {
      llmCalibration(rows); ()
    }
    assert(wins.nonEmpty)
    wins.foreach(w => assert(w <= bound,
      s"window input $w exceeds the picked-bucket bound $bound (rows=$n)"))
  }

  private def llmCalibration(rows: Seq[(Long, Long, Long)]): Unit = {
    graft.llm.Eval.calibrationBinsOver(
      rows.toDF("vec_id", "label", "score")).collect(); ()
  }

  test("rfmScoresOver: the residual-rank window reads only the <=12 " +
    "picked buckets (5120 customers -> <=12 bucket extents)") {
    val n = 5120
    val rows = Seq.tabulate(n)(i =>
      (i.toLong, (i * 31 % 4099).toLong, (i * 997).toLong, (i * 13 % 2503).toLong))
    val bound = 12L * (n / Select.Buckets + 2)
    val wins = windowInputRows {
      Rfm.rfmScoresOver(rows.toDF("o_custkey", "f", "m_cents", "r_days"))
        .collect(); ()
    }
    assert(wins.nonEmpty)
    wins.foreach(w => assert(w <= bound,
      s"window input $w exceeds the picked-bucket bound $bound (rows=$n)"))
  }

  test("ntileDecilesOver: the in-bucket cumulative window reads only the " +
    "picked buckets' domain (6000 rows, 41 values)") {
    val rows = Seq.tabulate(6000)(i => (s"P${i % 4}", (i % 41).toLong))
    val wins = windowInputRows {
      Relational.ntileDecilesOver(rows.toDF("pri", "c")).collect(); ()
    }
    assert(wins.nonEmpty)
    // 4 groups x <=41 distinct cents — the window input is (pri, b, c)
    // domain rows, never the 6000 input rows
    wins.foreach(w => assert(w <= 4L * 41L,
      s"window input $w exceeds the 164-pair domain (rows=6000)"))
  }
}
