package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Declared
import graft.io.Tables

/** Text-analysis operators for training-data pipelines over `documents`:
  * token counting, per-doc stats, per-language rollups, quality scoring,
  * document fingerprinting. All built-ins / higher-order functions —
  * everything stays inside whole-stage codegen; no UDFs.
  *
  * Scale notes: per-doc queries are embarrassingly parallel map-only plans
  * (no shuffle); the per-lang rollup is one partial+final hash aggregate on a
  * 5-value key. At 100 TB the scan is the cost; the parquet reader prunes to
  * (doc_id, text, lang) only.
  */
object TextOps {

  // All per-doc queries materialize the token array ONCE (withColumn) before
  // referencing it: an inline split() referenced by several expressions is
  // re-evaluated per reference (the regex-split trap — see Tokens.grams'
  // scaladoc).

  /** x_text_stats — per-doc token/char counts. */
  def textStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .withColumn("toks", Tokens.tokens($"text"))
      .select(
        $"doc_id", $"lang",
        size($"toks").cast("long").as("n_tokens"),
        length($"text").cast("long").as("n_chars_obs"),
        size(array_distinct($"toks")).cast("long").as("n_distinct_tokens"))
      .orderBy($"doc_id")
  }

  val textStatsSql: String =
    s"""SELECT doc_id, lang,
       | CAST(len(${Tokens.tokensSql("text")}) AS BIGINT) AS n_tokens,
       | CAST(length(text) AS BIGINT) AS n_chars_obs,
       | CAST(len(list_distinct(${Tokens.tokensSql("text")})) AS BIGINT) AS n_distinct_tokens
       |FROM documents
       |ORDER BY doc_id""".stripMargin

  /** x_lang_stats — per-language rollup (doc counts, token totals, avg chars). */
  def langStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"lang", $"n_chars", size(Tokens.tokens($"text")).cast("long").as("n_tokens"))
      .groupBy($"lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"n_tokens").as("total_tokens"),
        sum($"n_chars").as("total_chars"),
        (sum($"n_chars").cast("double") / count(lit(1))).as("avg_chars"))
      .orderBy($"lang")
  }

  val langStatsSql: String =
    s"""SELECT lang, count(*) AS n_docs,
       | CAST(sum(len(${Tokens.tokensSql("text")})) AS BIGINT) AS total_tokens,
       | CAST(sum(n_chars) AS BIGINT) AS total_chars,
       | CAST(sum(n_chars) AS DOUBLE) / count(*) AS avg_chars
       |FROM documents
       |GROUP BY lang
       |ORDER BY lang""".stripMargin

  /** Fixed stopword list for quality scoring (deterministic, engine-neutral). */
  val Stopwords: Seq[String] = Seq("the", "a", "of", "and", "in")

  /** Stopword hits in a materialized token array — the ONE definition of
    * "stopword count", shared by qualityScore and CorpusFilter so the two
    * declared queries can never desynchronize.
    */
  def stopwordCount(toks: Column): Column =
    size(filter(toks, t => t.isin(Stopwords: _*))).cast("long")

  /** x_quality_score — length + stopword-ratio quality signals per doc. */
  def qualityScore(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val nTok = size($"toks").cast("long")
    val nStop = stopwordCount($"toks")
    Tables.documents(spark, dir)
      .withColumn("toks", Tokens.tokens($"text"))
      .select(
        $"doc_id",
        nTok.as("n_tokens"),
        nStop.as("n_stopwords"),
        (nStop.cast("double") / nTok).as("stopword_ratio"),
        (length($"text").cast("double") / nTok).as("avg_token_len"))
      .orderBy($"doc_id")
  }

  /** Oracle stopword list interpolated from [[Stopwords]] — a hardcoded
    * literal here would silently desynchronize from the Scala definition.
    * Shared with every oracle that filters on stopwords (CorpusFilter's
    * gopher panel included) for the same reason.
    */
  def stopwordListSql: String = Stopwords.map(w => s"'$w'").mkString(",")

  val qualityScoreSql: String =
    s"""SELECT doc_id,
       | CAST(len(${Tokens.tokensSql("text")}) AS BIGINT) AS n_tokens,
       | CAST(len(list_filter(${Tokens.tokensSql("text")}, t -> t IN ($stopwordListSql))) AS BIGINT) AS n_stopwords,
       | CAST(len(list_filter(${Tokens.tokensSql("text")}, t -> t IN ($stopwordListSql))) AS DOUBLE)
       |   / len(${Tokens.tokensSql("text")}) AS stopword_ratio,
       | CAST(length(text) AS DOUBLE) / len(${Tokens.tokensSql("text")}) AS avg_token_len
       |FROM documents
       |ORDER BY doc_id""".stripMargin

  /** ASCII-safe pre-tokenizer regex (GPT-2-style word/number/punct runs,
    * simplified to dodge unicode-class differences between regex engines).
    */
  val SubtokenPattern: String = "[a-z0-9]+|[^a-z0-9 ]+"

  /** x_token_bpe — BPE-style pre-tokenization counts: subword-ish token runs
    * vs whitespace words (the token-budget estimator for training pipelines).
    */
  def tokenBpe(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .withColumn("lower_text", lower($"text"))
      .select(
        $"doc_id",
        size(regexp_extract_all($"lower_text", lit(SubtokenPattern), lit(0)))
          .cast("long").as("n_subtokens"),
        size(Tokens.tokens($"lower_text")).cast("long").as("n_words"))
      .orderBy($"doc_id")
  }

  val tokenBpeSql: String =
    s"""SELECT doc_id,
       | CAST(len(regexp_extract_all(lower(text), '$SubtokenPattern')) AS BIGINT) AS n_subtokens,
       | CAST(len(${Tokens.tokensSql("text", lower = true)}) AS BIGINT) AS n_words
       |FROM documents
       |ORDER BY doc_id""".stripMargin

  /** x_fertility — per-language tokenizer fertility: subword tokens per
    * whitespace word (the [[tokenBpe]] pre-tokenization aggregated by
    * declared language). THE tokenizer-adequacy metric: a language whose
    * fertility is far above the corpus mean is being shredded into
    * fragments (costing context length and training signal) — the number
    * that decides whether a vocabulary needs rebalancing before a run.
    * Exact integer sums, one division per language.
    */
  def fertility(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .withColumn("lower_text", lower($"text"))
      .select($"lang",
        size(regexp_extract_all($"lower_text", lit(SubtokenPattern), lit(0)))
          .cast("long").as("n_subtokens"),
        size(Tokens.tokens($"lower_text")).cast("long").as("n_words"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_subtokens").as("n_subtokens"),
        sum($"n_words").as("n_words"))
      .withColumn("fertility",
        $"n_subtokens".cast("double") / $"n_words".cast("double"))
      .orderBy($"lang")
  }

  val fertilitySql: String =
    s"""WITH t AS (
       | SELECT lang,
       |  CAST(len(regexp_extract_all(lower(text), '$SubtokenPattern')) AS BIGINT) AS n_subtokens,
       |  CAST(len(${Tokens.tokensSql("text", lower = true)}) AS BIGINT) AS n_words
       | FROM documents)
       |SELECT lang, count(*) AS n_docs,
       | CAST(sum(n_subtokens) AS BIGINT) AS n_subtokens,
       | CAST(sum(n_words) AS BIGINT) AS n_words,
       | CAST(sum(n_subtokens) AS DOUBLE) / CAST(sum(n_words) AS DOUBLE) AS fertility
       |FROM t GROUP BY lang
       |ORDER BY lang""".stripMargin

  /** x_fingerprint — md5 of the CANONICAL text form (exact-dedup key;
    * identical byte-for-byte in any engine). The normalization is
    * [[TextClean.canonicalize]] — ONE definition of "canonical text for
    * dedup keys" across the repo, so this fingerprint and TextClean's
    * canon_hash can never diverge on the same input.
    */
  def fingerprint(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"doc_id", TextClean.fingerprint($"text").as("fingerprint"))
      .orderBy($"doc_id")
  }

  val fingerprintSql: String =
    s"""SELECT doc_id, ${TextClean.fingerprintSql("text")} AS fingerprint
       |FROM documents
       |ORDER BY doc_id""".stripMargin

  /** x_topk_agg — top-3 longest docs per source through the native
    * `top_k_rows` bounded aggregate ([[graft.functions.TopKRows]]) instead
    * of a window rank. The window plan shuffles and sorts EVERY row; the
    * aggregate's partial phase folds each map partition to ≤3 pairs per
    * source before the exchange, so the shuffle carries O(sources × 3)
    * rows — the per-group top-k plan that survives a 100 TB scan. The
    * oracle is the window-rank SQL, proving the two forms equivalent.
    */
  def topkAgg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    Tables.documents(spark, dir)
      .groupBy($"source")
      .agg(call_function("top_k_rows", $"n_chars", $"doc_id", lit(3)).as("top"))
      .select($"source", posexplode($"top"))
      .select($"source", ($"pos" + 1).cast("long").as("rk"),
        $"col.tag".as("doc_id"), $"col.ord".as("n_chars"))
      .orderBy($"source", $"rk")
  }

  val topkAggSql: String =
    """WITH ranked AS (
      | SELECT source, doc_id, n_chars,
      |  row_number() OVER (PARTITION BY source
      |                     ORDER BY n_chars DESC, doc_id) AS rk
      | FROM documents)
      |SELECT source, CAST(rk AS BIGINT) AS rk, doc_id, n_chars
      |FROM ranked WHERE rk <= 3
      |ORDER BY source, rk""".stripMargin

  val declared: Seq[Declared] = Seq(
    Declared("x_text_stats", textStats, Some(textStatsSql)),
    Declared("x_lang_stats", langStats, Some(langStatsSql)),
    Declared("x_quality_score", qualityScore, Some(qualityScoreSql)),
    Declared("x_token_bpe", tokenBpe, Some(tokenBpeSql)),
    Declared("x_fertility", fertility, Some(fertilitySql)),
    Declared("x_fingerprint", fingerprint, Some(fingerprintSql)),
    Declared("x_topk_agg", topkAgg, Some(topkAggSql)))
}
