package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Declared
import graft.io.Tables

/** Corpus distribution monitoring — the checks a training-data pipeline
  * runs when a new crawl snapshot or source lands: did the token
  * distribution DRIFT against the existing corpus, and how much of the new
  * stream does the frozen tokenizer vocabulary still cover?
  *
  * Determinism: the usual drift scores (KL divergence, chi-square) need
  * logs or float division per token — engine-hash-poison. TOTAL-VARIATION
  * distance is a sum of |p_A − p_B| terms, and each term scales to the
  * exact integer |c_A·N_B − c_B·N_A| (common denominator N_A·N_B), so
  * ranking and summing are BIGINT-exact on both engines; the one double
  * emitted is a single division (same rule as q_tpch_q14's share).
  * Overflow: c·N ≤ N² must stay under 2^63 — fine to ~3·10⁹ tokens per
  * side; past that the query RAISES (a per-row guard on the two broadcast
  * totals) instead of silently mis-ranking. A deployment that actually
  * needs >3e9 tokens per side should re-point the products at
  * DECIMAL(38,0); the guard makes forgetting that loud, not wrong.
  *
  * Scale notes: one token-count aggregate with map-side combine per query
  * (the shuffle carries (token, partials), never text), a broadcast of the
  * two scalar totals, and a TakeOrderedAndProject cut. x_vocab_coverage's
  * vocabulary is a top-K aggregate (K rows — broadcast), so coverage is a
  * map-side flag + per-language aggregate: no corpus-sized join.
  */
object Drift {

  /** Split parity: sources `srcN` with even N are corpus A, odd are B —
    * deterministic, append-stable, and trivially mirrored in SQL.
    */
  private val srcParity = pmod(
    regexp_extract(col("source"), "^src([0-9]+)$", 1).cast("long"), lit(2))

  /** x_drift_tv — the 20 tokens contributing most total-variation distance
    * between the even-source and odd-source halves of the corpus:
    * (token, c_a, c_b, tv_scaled) where tv_scaled = |c_A·N_B − c_B·N_A|
    * (the TV term scaled by 2·N_A·N_B). The tokens a drift alert should
    * NAME — "this snapshot is suddenly full of X".
    */
  def driftTv(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = Tables.documents(spark, dir)
      .filter($"source".rlike("^src[0-9]+$"))
      .select(srcParity.as("grp"), explode(Tokens.tokens($"text", lower = true)).as("token"))
    val cnt = toks.groupBy($"token")
      .agg(sum(when($"grp" === 0, 1L).otherwise(0L)).as("c_a"),
        sum(when($"grp" === 1, 1L).otherwise(0L)).as("c_b"))
    val tot = cnt.agg(sum($"c_a").as("n_a"), sum($"c_b").as("n_b"))
    // |c·N| can reach N_A·N_B: overflow-safe only while both totals stay
    // under ~3e9 (√2^63). Guard loudly — a silent wraparound would
    // mis-rank with no error (round-4 advice).
    val lim = 3000000000L
    cnt.crossJoin(broadcast(tot))
      .select($"token", $"c_a", $"c_b",
        when($"n_a" > lim || $"n_b" > lim,
          raise_error(lit("x_drift_tv: side totals exceed 3e9 tokens; " +
            "scaled TV products would overflow BIGINT — route the " +
            "products through DECIMAL(38,0) for this corpus")).cast("long"))
          .otherwise(abs($"c_a" * $"n_b" - $"c_b" * $"n_a")).as("tv_scaled"))
      .orderBy($"tv_scaled".desc, $"token")
      .limit(20)
  }

  val driftTvSql: String =
    s"""WITH toks AS (
       | SELECT CAST(regexp_extract(source, '^src([0-9]+)$$', 1) AS BIGINT) % 2 AS grp,
       |  unnest(${Tokens.tokensSql("text", lower = true)}) AS token
       | FROM documents WHERE regexp_matches(source, '^src[0-9]+$$')),
       |cnt AS (
       | SELECT token,
       |  CAST(sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c_a,
       |  CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c_b
       | FROM toks GROUP BY token),
       |tot AS (SELECT CAST(sum(c_a) AS BIGINT) AS n_a,
       |               CAST(sum(c_b) AS BIGINT) AS n_b FROM cnt)
       |SELECT token, c_a, c_b,
       | abs(c_a * n_b - c_b * n_a) AS tv_scaled
       |FROM cnt, tot
       |ORDER BY tv_scaled DESC, token
       |LIMIT 20""".stripMargin

  /** Vocabulary size for the coverage check. */
  val VocabK = 1000

  /** x_vocab_coverage — per language: what fraction of the token stream the
    * top-[[VocabK]] global vocabulary covers (the OOV-rate complement at
    * word level; a language whose coverage craters under a frozen
    * vocabulary is being tokenized into fragments). Exact covered/total
    * counts plus their single-division ratio.
    */
  def vocabCoverage(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = Tables.documents(spark, dir)
      .select($"lang", explode(Tokens.tokens($"text", lower = true)).as("token"))
    val vocab = toks.groupBy($"token").agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"token").limit(VocabK)
      .select($"token", lit(1L).as("in_vocab"))
    toks.join(broadcast(vocab), Seq("token"), "left")
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_tokens"),
        sum(coalesce($"in_vocab", lit(0L))).as("n_covered"))
      .withColumn("coverage",
        $"n_covered".cast("double") / $"n_tokens".cast("double"))
      .orderBy($"lang")
  }

  val vocabCoverageSql: String =
    s"""WITH toks AS (
       | SELECT lang, unnest(${Tokens.tokensSql("text", lower = true)}) AS token
       | FROM documents),
       |vocab AS (
       | SELECT token FROM (
       |  SELECT token, count(*) AS n FROM toks GROUP BY token
       |  ORDER BY n DESC, token LIMIT $VocabK)),
       |flagged AS (
       | SELECT t.lang, CASE WHEN v.token IS NULL THEN 0 ELSE 1 END AS iv
       | FROM toks t LEFT JOIN vocab v ON t.token = v.token)
       |SELECT lang, count(*) AS n_tokens,
       | CAST(sum(iv) AS BIGINT) AS n_covered,
       | CAST(sum(iv) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS coverage
       |FROM flagged GROUP BY lang
       |ORDER BY lang""".stripMargin

  /** x_source_tail — corpus concentration: sources ranked by token volume
    * with cumulative share ("the top 3 sources are 40% of the corpus") —
    * the long-tail diagnostic behind every mixing decision and the first
    * check against single-source dominance. The window runs over the
    * per-SOURCE aggregate (source-cardinality rows, tiny at any corpus
    * size — the 100 TB of text has already been reduced by the map-side-
    * combined count), cumulated as exact BIGINTs with one division per row.
    */
  def sourceTail(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val bySource = Tables.documents(spark, dir)
      .select($"source", size(Tokens.tokens($"text")).cast("long").as("ntok"))
      .groupBy($"source").agg(sum($"ntok").as("n_tokens"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy($"n_tokens".desc, $"source")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val tot = bySource.agg(sum($"n_tokens").as("total"))
    bySource.crossJoin(broadcast(tot))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy($"n_tokens".desc, $"source"))
        .cast("long"))
      .withColumn("cum_tokens", sum($"n_tokens").over(w))
      .withColumn("cum_share", $"cum_tokens".cast("double") / $"total".cast("double"))
      .select($"rk", $"source", $"n_tokens", $"cum_tokens", $"cum_share")
      .orderBy($"rk")
  }

  val sourceTailSql: String =
    s"""WITH s AS (
       | SELECT source,
       |  CAST(sum(len(${Tokens.tokensSql("text")})) AS BIGINT) AS n_tokens
       | FROM documents GROUP BY source),
       |t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total FROM s)
       |SELECT CAST(row_number() OVER w AS BIGINT) AS rk, source, n_tokens,
       | CAST(sum(n_tokens) OVER (ORDER BY n_tokens DESC, source
       |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens,
       | CAST(sum(n_tokens) OVER (ORDER BY n_tokens DESC, source
       |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
       |  / CAST(t.total AS DOUBLE) AS cum_share
       |FROM s, t
       |WINDOW w AS (ORDER BY n_tokens DESC, source)
       |ORDER BY rk""".stripMargin

  val declared: Seq[Declared] = Seq(
    Declared("x_drift_tv", driftTv, Some(driftTvSql)),
    Declared("x_vocab_coverage", vocabCoverage, Some(vocabCoverageSql)),
    Declared("x_source_tail", sourceTail, Some(sourceTailSql)))
}
