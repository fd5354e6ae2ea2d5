package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Declared
import graft.io.Tables

/** Weak supervision — programmatic labeling by keyword heuristics with a
  * deterministic majority vote (the Snorkel-style labeling-function pattern
  * a training-data pipeline uses to bootstrap classifier labels before any
  * model exists). Each labeling function (LF) votes for one topic label when
  * its trigger token appears; a document's label is the vote argmax with a
  * fixed lexicographic tie-break, `(abstain)` when no LF fires. The readout
  * aggregates per final label with the two diagnostics label-model papers
  * care about: how often LFs CONFLICT (≥2 distinct labels voted) and how
  * often the winner was CLEAN (every cast vote agreed) — the
  * coverage/conflict matrix that decides whether the LF set is usable.
  *
  * Everything is one map-only scan (token-array membership tests per row)
  * feeding one aggregate on a ≤4-row key space — at 100 TB this is a single
  * pass with map-side partial aggregation and no shuffle of document data,
  * the cheapest possible shape for a corpus-wide readout.
  */
object WeakLabel {

  /** The LF set: two trigger tokens per topic label, over the fixture's
    * closed tech vocabulary. Two LFs per label make the vote counts 0–2 so
    * majority (not just first-match) genuinely decides, and the shared
    * vocabulary guarantees conflicts exist to diagnose.
    */
  val LabelFns: Seq[(String, String)] = Seq(
    "compute" -> "spark", "compute" -> "hash",
    "query" -> "window", "query" -> "agg",
    "storage" -> "table", "storage" -> "row")

  /** Labels in tie-break order (lexicographic — smallest wins a tie). */
  val Labels: Seq[String] = LabelFns.map(_._1).distinct.sorted

  private def votesFor(toks: Column, label: String): Column =
    LabelFns.filter(_._1 == label)
      .map { case (_, kw) => array_contains(toks, kw).cast("long") }
      .reduce(_ + _)

  /** x_weak_label — per-label doc counts with conflict/clean diagnostics. */
  def weakLabel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = Tokens.tokens($"text")
    val voted = Tables.documents(spark, dir)
      .select($"doc_id",
        votesFor(toks, "compute").as("vc"),
        votesFor(toks, "query").as("vq"),
        votesFor(toks, "storage").as("vs"))
    // argmax with lexicographic tie-break: compute ≥ query ≥ storage
    val winner =
      when($"vc" === 0L && $"vq" === 0L && $"vs" === 0L, lit("(abstain)"))
        .when($"vc" >= $"vq" && $"vc" >= $"vs", lit("compute"))
        .when($"vq" >= $"vs", lit("query"))
        .otherwise(lit("storage"))
    val winVotes = greatest($"vc", $"vq", $"vs")
    val total = $"vc" + $"vq" + $"vs"
    val nLabelsVoted =
      ($"vc" > 0L).cast("long") + ($"vq" > 0L).cast("long") +
        ($"vs" > 0L).cast("long")
    voted
      .select(winner.as("label"),
        (nLabelsVoted >= 2L).cast("long").as("is_conflict"),
        (total > 0L && winVotes === total).cast("long").as("is_clean"))
      .groupBy($"label")
      .agg(count(lit(1)).as("n_docs"),
        sum($"is_conflict").as("n_conflict"),
        sum($"is_clean").as("n_clean"))
      .orderBy($"label")
  }

  val weakLabelSql: String = {
    def v(label: String): String =
      LabelFns.filter(_._1 == label)
        .map { case (_, kw) =>
          s"CAST(list_contains(toks, '$kw') AS BIGINT)" }
        .mkString(" + ")
    s"""WITH voted AS (
       | SELECT doc_id,
       |  ${v("compute")} AS vc,
       |  ${v("query")} AS vq,
       |  ${v("storage")} AS vs
       | FROM (SELECT doc_id, ${Tokens.tokensSql("text")} AS toks FROM documents)),
       |scored AS (
       | SELECT
       |  CASE WHEN vc = 0 AND vq = 0 AND vs = 0 THEN '(abstain)'
       |       WHEN vc >= vq AND vc >= vs THEN 'compute'
       |       WHEN vq >= vs THEN 'query'
       |       ELSE 'storage' END AS label,
       |  CASE WHEN (CASE WHEN vc > 0 THEN 1 ELSE 0 END)
       |          + (CASE WHEN vq > 0 THEN 1 ELSE 0 END)
       |          + (CASE WHEN vs > 0 THEN 1 ELSE 0 END) >= 2
       |       THEN 1 ELSE 0 END AS is_conflict,
       |  CASE WHEN vc + vq + vs > 0
       |         AND greatest(vc, vq, vs) = vc + vq + vs
       |       THEN 1 ELSE 0 END AS is_clean
       | FROM voted)
       |SELECT label, count(*) AS n_docs,
       | CAST(sum(is_conflict) AS BIGINT) AS n_conflict,
       | CAST(sum(is_clean) AS BIGINT) AS n_clean
       |FROM scored
       |GROUP BY label
       |ORDER BY label""".stripMargin
  }

  val declared: Seq[Declared] = Seq(
    Declared("x_weak_label", weakLabel, Some(weakLabelSql)))
}
