package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Declared
import graft.io.Tables

/** The per-source "dataset card" rollup — the one-screen summary a corpus
  * release ships with (docs, token volume, language makeup, exact-dup
  * rate): every mixing / filtering decision upstream starts from this
  * table, and it is the first artifact a data audit asks for.
  *
  * One pass computes every signal: the fingerprint reuses the repo-wide
  * canonical hash ([[TextOps.fingerprint]] / [[TextClean.canonicalize]]),
  * so "exact dupes" here and the dedup family can never disagree on what
  * a duplicate is. The majority language is a window rank over per-source
  * LANGUAGE counts (≤ sources×langs rows — aggregated long before the
  * window), ties broken alphabetically; its share is one BIGINT division.
  *
  * Scale notes: the wide aggregate carries two DISTINCTs (lang,
  * fingerprint), which plans as an Expand ×3 of the base — the same
  * trade measured acceptable in q_table_stats (columnar scan reads the
  * same bytes; the expand rows are narrow). Everything after the two
  * hash-aggregates is source-cardinality-sized.
  */
object DataCard {

  /** x_dataset_card — (source, n_docs, n_tokens, n_chars_sum, n_langs,
    * n_exact_dupes, maj_lang, maj_share), ordered by source.
    */
  def datasetCard(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = Tables.documents(spark, dir)
      .select($"source", $"lang", $"n_chars",
        TextClean.fingerprint($"text").as("fp"),
        size(Tokens.tokens($"text")).cast("long").as("ntok"))
    val agg = base.groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"ntok").as("n_tokens"),
        sum($"n_chars").as("n_chars_sum"),
        countDistinct($"lang").as("n_langs"),
        (count(lit(1)) - countDistinct($"fp")).as("n_exact_dupes"))
    val lc = base.groupBy($"source", $"lang").agg(count(lit(1)).as("c"))
    val w = Window.partitionBy($"source").orderBy($"c".desc, $"lang")
    val maj = lc.withColumn("rk", row_number().over(w))
      .filter($"rk" === 1)
      .select($"source", $"lang".as("maj_lang"), $"c")
    agg.join(maj, Seq("source"))
      .withColumn("maj_share", $"c".cast("double") / $"n_docs".cast("double"))
      .drop("c")
      .orderBy($"source")
  }

  val datasetCardSql: String =
    s"""WITH base AS (
       | SELECT source, lang, n_chars,
       |  ${TextClean.fingerprintSql("text")} AS fp,
       |  CAST(len(${Tokens.tokensSql("text")}) AS BIGINT) AS ntok
       | FROM documents),
       |a AS (
       | SELECT source, count(*) AS n_docs,
       |  CAST(sum(ntok) AS BIGINT) AS n_tokens,
       |  CAST(sum(n_chars) AS BIGINT) AS n_chars_sum,
       |  count(DISTINCT lang) AS n_langs,
       |  count(*) - count(DISTINCT fp) AS n_exact_dupes
       | FROM base GROUP BY source),
       |lc AS (SELECT source, lang, count(*) AS c FROM base GROUP BY 1, 2),
       |mj AS (
       | SELECT source, lang AS maj_lang, c,
       |  row_number() OVER (PARTITION BY source ORDER BY c DESC, lang) AS rk
       | FROM lc)
       |SELECT a.source, n_docs, n_tokens, n_chars_sum, n_langs, n_exact_dupes,
       | maj_lang, CAST(c AS DOUBLE) / CAST(n_docs AS DOUBLE) AS maj_share
       |FROM a JOIN mj ON mj.source = a.source AND mj.rk = 1
       |ORDER BY a.source""".stripMargin

  /** x_lang_mismatch — per source: documents whose DECLARED language
    * disagrees with the n-gram language ID ([[LangId.addPredLang]] — the
    * one shared decision chain). A high mismatch rate flags either broken
    * source metadata or a crawler pulling mixed-language pages under one
    * label; every lang-conditioned stage downstream (vocab, filters,
    * mixing) silently degrades when this number drifts. Map-only scoring +
    * one aggregate; the rate is a single BIGINT division.
    */
  def langMismatch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = Tables.documents(spark, dir)
      .select($"source", $"lang", Tokens.tokens($"text").as("toks"))
    LangId.addPredLang(base, $"toks")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when($"pred_lang" =!= $"lang", 1L).otherwise(0L)).as("n_mismatch"))
      .withColumn("mismatch_rate",
        $"n_mismatch".cast("double") / $"n_docs".cast("double"))
      .orderBy($"source")
  }

  val langMismatchSql: String =
    s"""WITH scored AS (
       | SELECT source, lang,
       |  ${LangId.scoreDefsSql}
       | FROM documents),
       |pred AS (
       | SELECT source, lang, ${LangId.predCaseSql} AS pred_lang FROM scored)
       |SELECT source, count(*) AS n_docs,
       | CAST(sum(CASE WHEN pred_lang != lang THEN 1 ELSE 0 END) AS BIGINT)
       |  AS n_mismatch,
       | CAST(sum(CASE WHEN pred_lang != lang THEN 1 ELSE 0 END) AS DOUBLE)
       |  / CAST(count(*) AS DOUBLE) AS mismatch_rate
       |FROM pred GROUP BY source
       |ORDER BY source""".stripMargin

  /** x_source_overlap — the cross-source duplication matrix: verified
    * near-dup pairs ([[Dedup.dedupJaccard]] at [[Cluster.VerifyThreshold]])
    * counted by unordered source pair. The mirror-site / content-farm
    * detector: a heavy off-diagonal cell means source A republishes B.
    * Cost on top of the shared Jaccard pipeline: one doc_id→source lookup
    * join per pair side (narrow broadcastable map at fixture scale, plain
    * equi-join at 100 TB) and a tiny matrix aggregate.
    */
  def sourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val src = Tables.documents(spark, dir).select($"doc_id", $"source")
    Dedup.dedupJaccard(spark, dir)
      .filter($"jaccard" >= Cluster.VerifyThreshold)
      .join(src.select($"doc_id".as("doc_a"), $"source".as("sa")), Seq("doc_a"))
      .join(src.select($"doc_id".as("doc_b"), $"source".as("sb")), Seq("doc_b"))
      .select(least($"sa", $"sb").as("source_x"),
        greatest($"sa", $"sb").as("source_y"))
      .groupBy($"source_x", $"source_y")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy($"source_x", $"source_y")
  }

  val sourceOverlapSql: String =
    s"""WITH pairs AS (${Dedup.dedupJaccardSql})
       |SELECT least(da.source, db.source) AS source_x,
       | greatest(da.source, db.source) AS source_y,
       | count(*) AS n_pairs
       |FROM pairs
       |JOIN documents da ON da.doc_id = pairs.doc_a
       |JOIN documents db ON db.doc_id = pairs.doc_b
       |WHERE pairs.jaccard >= ${Cluster.VerifyThreshold}
       |GROUP BY 1, 2
       |ORDER BY source_x, source_y""".stripMargin

  val declared: Seq[Declared] = Seq(
    Declared("x_dataset_card", datasetCard, Some(datasetCardSql)),
    Declared("x_lang_mismatch", langMismatch, Some(langMismatchSql)),
    Declared("x_source_overlap", sourceOverlap, Some(sourceOverlapSql)))
}
