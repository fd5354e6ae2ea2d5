package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Declared
import graft.io.Tables

/** Duplicated-span detection — the exact-substring tier of training-data
  * dedup (the "deduplicating training data makes language models better"
  * operation): find every [[SpanK]]-token span that recurs across
  * documents and score each document by how much of it is recycled text.
  * [[Dedup]] removes whole near-duplicate documents; this finds the
  * boilerplate/quotation spans INSIDE otherwise-unique documents.
  *
  * Shape: span extraction is map-side (a sliding window over the token
  * array — no self-join, the [[Terms]] bigram zip generalized to k), the
  * only shuffle is the span-frequency aggregate + the join back to
  * per-document rollups. Spans are counted once per document (DISTINCT),
  * so "duplicated" = appears in ≥ 2 documents, never inflated by
  * within-document repetition (that signal is x_repetition_filter's).
  *
  * At 100 TB: spans-per-doc ~ tokens-per-doc, so the span shuffle is
  * ~k× the corpus tokens; fingerprint the span string to a 128-bit hash
  * for the exchange (same topology, negligible collision mass) and keep
  * the string only for the declared gate — the paper's suffix-array
  * variant trades this shuffle for a global sort. The per-doc rollup
  * re-shuffles on doc_id, integer permille output.
  */
object SpanDedup {

  val SpanK = 5

  /** (doc_id, span): each document's distinct lowercased [[SpanK]]-token
    * spans ([[Tokens.grams]]), the substrate of both queries.
    */
  private def spans(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // Deliberately NOT widened (graft.util.Widen): measured per-stage in
    // DebugPlan, the widened form's doc_id layout makes the span DISTINCT
    // partition-local, which fuses [exchange-read -> explode -> distinct
    // -> join probe -> rollup] into one giant codegen stage whose FIRST
    // execution burns ~30 s of interpreted/pre-C2 task time across its 32
    // tasks (suite pass-1 1.5 -> 3.5-5.9 s; min-of-2 cannot absorb it
    // because run 2 still lags C2) for a steady-state win of only ~0.2 s.
    // The un-widened shape splits derivation at the (doc_id, span)
    // exchange into two smaller stages that warm up 4x cheaper (round 11,
    // BENCH_NOTES #68).
    Tables.documents(spark, dir)
      .select($"doc_id", Tokens.tokens($"text", lower = true).as("toks"))
      .filter(size($"toks") >= SpanK)
      .select($"doc_id", explode(Tokens.grams($"toks", SpanK)).as("span"))
      .distinct()
  }

  /** Oracle twin of [[spans]]: the CTEs `toks` and `sp` (doc_id, span). */
  private val spansSql: String =
    s"""toks AS (
       | SELECT doc_id, ${Tokens.tokensSql("text", lower = true)} AS t FROM documents),
       |sp AS (
       | SELECT DISTINCT doc_id, span FROM (
       |  SELECT doc_id, unnest(${Tokens.gramsSql("t", SpanK)}) AS span
       |  FROM toks WHERE len(t) >= $SpanK))""".stripMargin

  /** x_span_dedup — per document: distinct spans, spans shared with ≥1
    * other document, and the recycled-span permille.
    */
  def spanDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sp = spans(spark, dir)
    val nd = sp.groupBy($"span").agg(count(lit(1)).as("ndocs"))
    sp.join(nd, "span")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(when($"ndocs" >= 2, 1L).otherwise(0L)).as("n_dup"))
      .select($"doc_id", $"n_spans", $"n_dup",
        expr("n_dup * 1000 div n_spans").as("dup_permille"))
      .orderBy($"doc_id")
  }

  val spanDedupSql: String =
    s"""WITH $spansSql,
       |nd AS (SELECT span, count(*) AS ndocs FROM sp GROUP BY 1),
       |pd AS (
       | SELECT sp.doc_id, count(*) AS n_spans,
       |  CAST(sum(CASE WHEN nd.ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
       | FROM sp JOIN nd ON sp.span = nd.span GROUP BY 1)
       |SELECT doc_id, n_spans, n_dup, n_dup * 1000 // n_spans AS dup_permille
       |FROM pd
       |ORDER BY doc_id""".stripMargin

  /** x_novelty — first-occurrence credit: a span is NOVEL in the lowest
    * doc_id that contains it (documents ordered by id = arrival order), so
    * each document's novelty is the fraction of its spans not seen in any
    * earlier document. The dataset-growth signal: novelty permille falling
    * over ingestion time means the crawl is re-reading the same web.
    *
    * Single-substrate form (round 14, BENCH_NOTES #80): the natural
    * DISTINCT + min-per-span + join-back shape made Catalyst DUPLICATE the
    * scan+explode subtree — the distinct side aggregates on (doc_id, span)
    * while the optimizer pushes plain min(doc_id) THROUGH the distinct on
    * the other side, so the two consumers share no exchange and the corpus
    * is tokenized TWICE (DebugPlan at sf0.1: two single-task ~600 ms
    * explode stages per run, ~3 s each cold — and at 100 TB, two full
    * corpus scans of the dominant stage). This form derives both answers
    * from ONE distinct substrate with no join-back on span at all:
    *  - n_spans(doc)  = count over the distinct (doc, span) rows;
    *  - n_novel(doc)  = |{span : first_doc(span) = doc}| — a count over
    *    the TINY per-span min aggregate, grouped by its value, instead of
    *    joining it back against every (doc, span) row;
    * then one doc-level left join (novel-less docs get 0) that AQE
    * broadcasts. first_doc uses min_by(doc_id, doc_id) — semantically
    * min — because plain min is pushed through the distinct by the
    * optimizer, splitting the subtrees again; min_by keeps both consumers
    * on the IDENTICAL distinct exchange, which AQE then ReuseExchange-s:
    * one parquet scan, verified by NoveltySpec's plan-shape test and the
    * DebugPlan stage profile (one ~600 ms explode stage, not two).
    * Everything downstream is hash aggregates with scalar payloads —
    * skew-safe at 100 TB (a collect_set-of-holders variant was measured
    * similar locally but materializes a boilerplate span's full holder
    * list on one reducer; rejected). Deliberately NOT widened —
    * BENCH_NOTES #68 (b+c): fusing this explode into a 32-wide stage
    * multiplied pre-C2 first-run cost for a ~0.2 s steady-state win.
    */
  def novelty(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val distinctSpans = spans(spark, dir)
    val nSpans = distinctSpans.groupBy($"doc_id")
      .agg(count(lit(1)).as("n_spans"))
    val nNovel = distinctSpans.groupBy($"span")
      .agg(min_by($"doc_id", $"doc_id").as("first_doc"))
      .groupBy($"first_doc").agg(count(lit(1)).as("n_novel"))
      .withColumnRenamed("first_doc", "doc_id")
    nSpans.join(nNovel, Seq("doc_id"), "left")
      .select($"doc_id", $"n_spans",
        coalesce($"n_novel", lit(0L)).as("n_novel"),
        expr("coalesce(n_novel, 0L) * 1000 div n_spans")
          .as("novelty_permille"))
      .orderBy($"doc_id")
  }

  val noveltySql: String =
    s"""WITH $spansSql,
       |fs AS (SELECT span, min(doc_id) AS first_doc FROM sp GROUP BY 1),
       |pd AS (
       | SELECT sp.doc_id, count(*) AS n_spans,
       |  CAST(sum(CASE WHEN fs.first_doc = sp.doc_id THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_novel
       | FROM sp JOIN fs ON sp.span = fs.span GROUP BY 1)
       |SELECT doc_id, n_spans, n_novel,
       | n_novel * 1000 // n_spans AS novelty_permille
       |FROM pd
       |ORDER BY doc_id""".stripMargin

  val declared: Seq[Declared] = Seq(
    Declared("x_span_dedup", spanDedup, Some(spanDedupSql)),
    Declared("x_novelty", novelty, Some(noveltySql)))
}
