package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Declared
import graft.io.Tables

/** Term-weighting and n-gram operators — the vocabulary-analysis tier of a
  * training-data pipeline (source characterization, boilerplate spotting,
  * domain mixing decisions).
  *
  * Determinism note: textbook tf-idf weights by ln(N/df), but libm `log`
  * is not guaranteed correctly-rounded and differs across engines in the
  * last ulp. The score here is the RATIO form tf·N/df — integer products
  * (exact below 2^53) and one IEEE-exact division — which preserves the
  * tf-idf ORDERING within a fixed corpus (monotone in tf and in N/df) while
  * hashing identically everywhere.
  *
  * Scale notes: both queries are explode → hash-aggregate with map-side
  * combine; the shuffle carries (token, partial counts), never raw text.
  * The per-source top-k window sees one row per (source, token) — the
  * aggregated vocabulary, not the corpus. Bigram extraction is a map-only
  * array expression before the aggregate.
  */
object Terms {

  /** x_tfidf — top-10 distinctive tokens per source by ratio-form tf-idf.
    * tf = in-source count, df = number of sources containing the token,
    * N = number of sources; score = tf·N/df.
    */
  def tfidf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = Tables.documents(spark, dir)
      .select($"source", explode(Tokens.tokens($"text", lower = true)).as("token"))
    val tf = toks.groupBy($"source", $"token").agg(count(lit(1)).as("tf"))
    // df derived from tf's OWN output, not a second pass over the token
    // stream: tf has exactly one row per (source, token) present, so
    // count-per-token over tf ≡ countDistinct(source) over raw toks
    // (non-null sources; the isNotNull guard keeps the equivalence exact
    // on dirty input — countDistinct skips NULLs). Both consumers sit on
    // tf's aggregate, AQE reuses its exchange, and the corpus text is
    // tokenized ONCE instead of twice (ScanAudit round 14; the x_novelty
    // pattern, BENCH_NOTES #80d). The n_sources scan below reads only the
    // single source column — not the text — so it stays its own cheap pass.
    val df = tf.filter($"source".isNotNull)
      .groupBy($"token").agg(count(lit(1)).as("df"))
    val nSrc = Tables.documents(spark, dir)
      .agg(countDistinct($"source").as("n_sources"))
    val w = Window.partitionBy($"source").orderBy($"score".desc, $"token")
    tf.join(df, Seq("token"))
      .crossJoin(broadcast(nSrc))
      .withColumn("score",
        ($"tf" * $"n_sources").cast("double") / $"df".cast("double"))
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= 10)
      .select($"source", $"rk".cast("long").as("rk"), $"token", $"tf", $"df", $"score")
      .orderBy($"source", $"rk")
  }

  val tfidfSql: String =
    s"""WITH toks AS (
       | SELECT source, unnest(${Tokens.tokensSql("text", lower = true)}) AS token
       | FROM documents),
       |tf AS (SELECT source, token, count(*) AS tf FROM toks GROUP BY 1, 2),
       |df AS (SELECT token, count(DISTINCT source) AS df FROM toks GROUP BY 1),
       |n AS (SELECT count(DISTINCT source) AS n_sources FROM documents),
       |scored AS (
       | SELECT tf.source, tf.token, tf.tf, df.df,
       |  CAST(tf.tf * n.n_sources AS DOUBLE) / CAST(df.df AS DOUBLE) AS score
       | FROM tf JOIN df ON tf.token = df.token, n),
       |ranked AS (
       | SELECT *, row_number() OVER (PARTITION BY source ORDER BY score DESC, token) AS rk
       | FROM scored)
       |SELECT source, CAST(rk AS BIGINT) AS rk, token, tf, df, score
       |FROM ranked WHERE rk <= 10
       |ORDER BY source, rk""".stripMargin

  /** x_ngrams — top-50 corpus bigrams with document frequency. Bigrams are
    * the token array's [[Tokens.grams]] — map-only, no self-join — and ties
    * break alphabetically so the cut is deterministic.
    */
  def ngrams(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
      .select($"doc_id", Tokens.tokens($"text", lower = true).as("toks"))
      .filter(size($"toks") >= 2)
    docs.select($"doc_id", explode(Tokens.grams($"toks", 2)).as("bigram"))
      .groupBy($"bigram")
      .agg(count(lit(1)).as("n"), countDistinct($"doc_id").as("n_docs"))
      .orderBy($"n".desc, $"bigram")
      .limit(50)
  }

  val ngramsSql: String =
    s"""WITH toks AS (
       | SELECT doc_id, ${Tokens.tokensSql("text", lower = true)} AS t
       | FROM documents WHERE len(${Tokens.tokensSql("text", lower = true)}) >= 2),
       |bg AS (
       | SELECT doc_id,
       |  unnest(${Tokens.gramsSql("t", 2)}) AS bigram
       | FROM toks)
       |SELECT bigram, count(*) AS n, count(DISTINCT doc_id) AS n_docs
       |FROM bg
       |GROUP BY bigram
       |ORDER BY n DESC, bigram
       |LIMIT 50""".stripMargin

  /** Minimum bigram instances for [[pmiPairs]] — PMI on hapax pairs is
    * pure noise (two rare words co-occurring once max out the score).
    */
  val PmiMinCount = 5L

  /** PMI score scale (4 implied decimal digits). */
  val PmiScale = 10000L

  /** x_pmi_pairs — top-30 collocations by pointwise mutual information:
    * bigrams whose observed count most exceeds what their parts' unigram
    * frequencies predict (PMI = log p(xy)/(p(x)p(y)) — the collocation
    * measure of Church & Hanks 1990). The log is MONOTONE, so ranking by
    * the scaled integer ratio n_xy·N·[[PmiScale]] / (n_x·n_y) preserves
    * the PMI order exactly while staying engine-hash-identical (same
    * reasoning as the ratio-form tf-idf above; emitting the log itself
    * would tie the hash to libm rounding).
    *
    * Overflow bound: n_xy·N·scale ≤ N²·10⁴ must stay under 2⁶³ — fine to
    * N ≈ 10⁹ bigram instances; past that, cast the products to
    * DECIMAL(38,0) (the Det escape hatch) before the division.
    *
    * Scale: one unigram aggregate (broadcast — the vocabulary, Heaps' law),
    * one bigram aggregate, one map-side join + TakeOrderedAndProject.
    */
  def pmiPairs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // ONE tokenize pass for both count tables (ScanAudit round 14 — the
    // unigram and bigram aggregates each re-scanned and re-split the
    // corpus text before): every doc emits its unigrams tagged (x, NULL)
    // and its bigrams (x, y) into a single explode, and one (x, y)
    // aggregate counts both key spaces in one shuffle (same total row
    // volume as the two separate shuffles). The aggregate is ckptDisk-
    // materialized because plan-level sharing is NOT enough here: the
    // uni/bi consumers are filters on the group key, and Catalyst pushes
    // key filters through the aggregate, forking the subtrees back into
    // two corpus scans (measured — the same optimizer-splits-the-share
    // disease as x_novelty's min-through-distinct). The pinned frame is
    // vocabulary + bigram counts (Heaps-law bounded), not the corpus. A
    // split() token is never NULL, so the NULL tag cannot collide with a
    // real bigram key. A single-token doc contributes its unigram and a
    // zero-length bigram zip (slice length 0), matching the old
    // size>=2 filter.
    import graft.util.Ckpt.CkptOps
    val tagged = Tables.documents(spark, dir)
      .select(Tokens.tokens($"text", lower = true).as("toks"))
      .select(explode(concat(
        transform($"toks",
          t => struct(t.as("x"), lit(null).cast("string").as("y"))),
        zip_with(
          slice($"toks", lit(1), size($"toks") - 1),
          slice($"toks", lit(2), size($"toks") - 1),
          (a, b) => struct(a.as("x"), b.as("y"))))).as("p"))
      .select($"p.x", $"p.y")
      .groupBy($"x", $"y").agg(count(lit(1)).as("n"))
      .ckptDisk()
    val uni = tagged.filter($"y".isNull)
      .select($"x".as("w"), $"n".as("nw"))
    val bi = tagged.filter($"y".isNotNull)
      .filter($"n" >= PmiMinCount)
      .select($"x", $"y", $"n".as("n_xy"))
    val total = bi.agg(sum($"n_xy").as("n_total"))
    bi.join(broadcast(uni.select($"w".as("x"), $"nw".as("n_x"))), "x")
      .join(broadcast(uni.select($"w".as("y"), $"nw".as("n_y"))), "y")
      .crossJoin(broadcast(total))
      .select(concat($"x", lit(" "), $"y").as("bigram"), $"n_xy",
        // DIV, not `/`: Column./ on longs is DOUBLE division in Spark;
        // truncating integer division is what DuckDB's // mirrors.
        expr(s"n_xy * n_total * $PmiScale DIV (n_x * n_y)").as("pmi_scaled"))
      .orderBy($"pmi_scaled".desc, $"bigram")
      .limit(30)
  }

  val pmiPairsSql: String =
    s"""WITH t AS (SELECT ${Tokens.tokensSql("text", lower = true)} AS toks FROM documents),
       |uni AS (
       | SELECT w, count(*) AS nw
       | FROM (SELECT unnest(toks) AS w FROM t) GROUP BY w),
       |bi AS (
       | SELECT p[1] AS x, p[2] AS y, count(*) AS n_xy
       | FROM (SELECT unnest(list_zip(toks[1:len(toks)-1], toks[2:len(toks)])) AS p
       |       FROM t WHERE len(toks) >= 2)
       | GROUP BY 1, 2 HAVING count(*) >= $PmiMinCount),
       |n AS (SELECT CAST(sum(n_xy) AS BIGINT) AS n_total FROM bi)
       |SELECT bi.x || ' ' || bi.y AS bigram, bi.n_xy,
       | CAST((bi.n_xy * n.n_total * $PmiScale) // (ux.nw * uy.nw) AS BIGINT) AS pmi_scaled
       |FROM bi JOIN uni ux ON ux.w = bi.x JOIN uni uy ON uy.w = bi.y, n
       |ORDER BY pmi_scaled DESC, bigram
       |LIMIT 30""".stripMargin

  /** x_bpe_merge — the BPE tokenizer-training inner loop: the top-30
    * adjacent CHARACTER-pair merge candidates by corpus frequency (Sennrich
    * et al., "Neural Machine Translation of Rare Words with Subword Units",
    * ACL 2016 — each training round merges the most frequent pair; this
    * query is one round's candidate count at corpus scale).
    *
    * Scale is the whole point of the shape: pair counting runs over the
    * AGGREGATED word vocabulary (Heaps' law — sublinear in corpus size)
    * weighted by word count, never over the raw token stream. One
    * corpus-sized shuffle (the word count, map-side combined), then a
    * vocabulary-sized map stage and a tiny pair aggregate. The naive
    * explode-chars-over-corpus form shuffles every character of 100 TB.
    *
    * Words of length 1 are filtered BEFORE the pair expansion — they have
    * no pairs, and Spark's `sequence(1, 0)` is a descending 2-element
    * array, not empty (the pinned x_dataset_mix trap).
    */
  def bpeMerge(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val vocab = Tables.documents(spark, dir)
      .select(explode(Tokens.tokens($"text", lower = true)).as("w"))
      .filter(length($"w") >= 2)
      .groupBy($"w").agg(count(lit(1)).as("wc"))
    vocab
      .select(explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substr(w, i, 2))")).as("pair"),
        $"wc")
      .groupBy($"pair").agg(sum($"wc").as("n"))
      .orderBy($"n".desc, $"pair")
      .limit(30)
  }

  val bpeMergeSql: String =
    s"""WITH vocab AS (
       | SELECT w, count(*) AS wc
       | FROM (SELECT unnest(${Tokens.tokensSql("text", lower = true)}) AS w FROM documents)
       | WHERE len(w) >= 2 GROUP BY w),
       |pairs AS (
       | SELECT unnest(list_transform(range(1, length(w)),
       |                              i -> substr(w, CAST(i AS INT), 2))) AS pair,
       |        wc
       | FROM vocab)
       |SELECT pair, CAST(sum(wc) AS BIGINT) AS n
       |FROM pairs GROUP BY pair
       |ORDER BY n DESC, pair
       |LIMIT 30""".stripMargin

  val declared: Seq[Declared] = Seq(
    Declared("x_tfidf", tfidf, Some(tfidfSql)),
    Declared("x_ngrams", ngrams, Some(ngramsSql)),
    Declared("x_pmi_pairs", pmiPairs, Some(pmiPairsSql)),
    Declared("x_bpe_merge", bpeMerge, Some(bpeMergeSql)))
}
