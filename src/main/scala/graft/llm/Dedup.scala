package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Declared
import graft.io.Tables
import graft.util.Ckpt._

/** Deduplication operators for training-data pipelines over `documents`.
  *
  *  - Exact dedup: hash-groupBy on a content hash — one shuffle on the hash,
  *    scales linearly; the canonical first step at 100 TB.
  *  - MinHash+LSH near-dedup: shingle → k minhashes → band buckets →
  *    bucket-local pair expansion. Candidate generation groups on
  *    (band, band_hash), so it never goes quadratic: cost is bounded by
  *    bucket sizes, the standard LSH scale-out argument. All hashing is
  *    md5-over-UTF8 so the DuckDB oracle computes identical signatures.
  *
  * Built-ins only (SURVEY.md §7.3): no UDF, no custom Expression — shingles
  * are [[Tokens.grams]] word 3-grams, signatures are an explode +
  * hash-aggregate of primitive mins, all inside whole-stage codegen.
  */
object Dedup {

  /** x_dedup_exact — representative doc (min doc_id) per content hash. */
  def dedupExact(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .groupBy(md5($"text").as("text_hash"))
      .agg(min($"doc_id").as("doc_id"), count(lit(1)).as("n_copies"))
      .orderBy($"doc_id")
  }

  val dedupExactSql: String =
    """SELECT md5(text) AS text_hash, min(doc_id) AS doc_id, count(*) AS n_copies
      |FROM documents
      |GROUP BY md5(text)
      |ORDER BY doc_id""".stripMargin

  val NumHashes = 8   // minhash signature length
  val NumBands = 4    // LSH bands (2 signatures per band)

  /** Shingle width: word 3-grams ([[Tokens.grams]]). */
  val ShingleK = 3

  /** (doc_id, lang, s): the distinct shingle set of each (doc_id, lang,
    * text) row with at least [[ShingleK]] tokens — the set side of the
    * SimJoin and Contain joins.
    */
  def shingleSets(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.withColumn("toks", Tokens.tokens($"text"))
      .filter(size($"toks") >= ShingleK)
      .select($"doc_id", $"lang", array_distinct(Tokens.grams($"toks", ShingleK)).as("s"))
  }

  /** DuckDB twin of [[shingleSets]] over `documents`. */
  val shingleSetsSql: String =
    s"""SELECT doc_id, lang, list_distinct(${Tokens.gramsSql("t", ShingleK)}) AS s
       | FROM (SELECT doc_id, lang, ${Tokens.tokensSql("text")} AS t FROM documents)
       | WHERE len(t) >= $ShingleK""".stripMargin

  // Hash design: ONE md5 per shingle, parsed as two 60-bit longs (15 hex
  // chars each), bit-split into eight 15-bit components — one digest + two
  // hex parses buy all eight hashes; the per-component ops are shifts/ands
  // inside codegen. 15-bit components collide at 2^-30 per band pair, which
  // LSH tolerates (the Jaccard verify stage filters false candidates).
  // (At 100 TB you would swap md5 for xxhash64; md5 is kept because the
  // DuckDB oracle computes byte-identical digests.)

  /** Per-doc minhash signatures (docs with ≥3 tokens; all fixture docs are).
    *
    * Shape: explode shingles → one codegen'd md5 per shingle → hash
    * aggregate of 8 per-slice `min`s on doc_id. Higher-order-function folds
    * are interpreted per element; this explode+groupBy stays fully inside
    * whole-stage codegen with map-side partial mins, and is exactly the
    * distributed shape that scales (the shuffle carries 8 longs per doc,
    * not the shingle set).
    */
  val SliceBits = 15
  val SliceMask: Long = (1L << SliceBits) - 1

  def signatures(spark: SparkSession, dir: String): DataFrame =
    // Widened at the scan (not inside the Over seam — stress harnesses feed
    // that seam frames with upstream shuffles, where partition inspection
    // would execute them): the one-task fixture scan otherwise serializes
    // the whole shingle+md5 signature derivation on one core.
    signaturesOver(graft.util.Widen(
      Tables.documents(spark, dir).select("doc_id", "text"),
      org.apache.spark.sql.functions.col("doc_id")))

  /** Same pipeline over any (doc_id, text) frame — the seam stress/scale
    * harnesses feed synthetic corpora through.
    */
  def signaturesOver(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    // Numeric (long) slices, not hex strings: min(long) hash-aggregates with
    // a primitive Tungsten buffer (min(string) would fall back to
    // SortAggregate — observed via .explain and fixed).
    def half(j: Int): Column = if (j < 4) $"h1" else $"h2"
    val sigAggs = (0 until NumHashes).map(j =>
      min(shiftright(half(j), (j % 4) * SliceBits).bitwiseAND(SliceMask)).as(s"sig$j"))
    docs
      .withColumn("toks", Tokens.tokens($"text"))
      .filter(size($"toks") >= ShingleK)
      .select($"doc_id", explode(Tokens.grams($"toks", ShingleK)).as("s"))
      .select($"doc_id", md5(concat(lit("mh:"), $"s")).as("m"))
      .select($"doc_id",
        conv(substring($"m", 1, 15), 16, 10).cast("long").as("h1"),
        conv(substring($"m", 17, 15), 16, 10).cast("long").as("h2"))
      .groupBy($"doc_id")
      .agg(sigAggs.head, sigAggs.tail: _*)
  }

  /** LSH band rows: (doc_id, band, band_hash), band_hash = md5(sig_{2b}_sig_{2b+1}). */
  def bands(spark: SparkSession, dir: String): DataFrame =
    // Same scan-site widen as [[signatures]].
    bandsOver(graft.util.Widen(
      Tables.documents(spark, dir).select("doc_id", "text"),
      org.apache.spark.sql.functions.col("doc_id")))

  def bandsOver(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val bandStructs = (0 until NumBands).map { b =>
      struct(lit(b).as("band"),
        md5(concat(col(s"sig${2 * b}").cast("string"), lit("_"),
          col(s"sig${2 * b + 1}").cast("string"))).as("bh"))
    }
    signaturesOver(docs)
      .select($"doc_id", explode(array(bandStructs: _*)).as("x"))
      .select($"doc_id", $"x.band".as("band"), $"x.bh".as("bh"))
  }

  /** Bucket-size cap for LSH pair expansion. A crawl corpus hands an
    * adversarial input to LSH by construction — N near-identical boilerplate
    * docs land in ONE bucket and naive expansion emits N²/2 pairs in a single
    * task. Overflow policy past the cap: full pairwise expansion among the
    * first `BucketCap` (smallest) ids, plus one REPRESENTATIVE EDGE from the
    * bucket's first id to each overflow id — every doc in the bucket stays
    * connected to the same dup-cluster component, while worst-case output
    * drops from O(n²) to O(BucketCap² + n) per bucket. The oracle SQL
    * mirrors the SAME capped expansion ([[cappedPairsSqlOverBands]]), so a
    * firing cap is correctness-neutral at any scale (sf0.1's simhash band
    * skew reaches ~270-doc buckets); DedupSpec's adversarial test proves the
    * bound fires on a 1k-identical-doc corpus.
    */
  val BucketCap = 64

  /** Capped in-bucket combination pairs: `ids` must be a sorted array.
    * Shared with [[SimHash.dedupSimhash]] (same bucket-cap policy).
    */
  private[llm] def cappedPairs(ids: Column, mk: (Column, Column) => Column): Column = {
    val head = slice(ids, 1, BucketCap)
    val full = flatten(transform(head, (a, i) =>
      transform(slice(head, i + 2, size(head) - (i + 1)), b => mk(a, b))))
    val overflow = transform(
      slice(ids, lit(BucketCap + 1), greatest(size(ids) - BucketCap, lit(0))),
      b => mk(element_at(ids, 1), b))
    concat(full, overflow)
  }

  /** x_dedup_minhash — candidate near-duplicate pairs: docs sharing any LSH
    * band bucket.
    *
    * Pairs are generated bucket-locally (groupBy band key → sorted doc list →
    * in-bucket combinations) rather than via a bands⋈bands self-join: the
    * self-join would evaluate the whole signature pipeline twice (broadcast
    * kills exchange reuse — observed via .explain), while this shape computes
    * signatures once. Per-bucket cost is ENFORCED bounded via [[BucketCap]].
    */
  def dedupMinhash(spark: SparkSession, dir: String): DataFrame =
    dedupMinhashOver(bands(spark, dir))

  /** Same pipeline from a prepared (doc_id, band, bh) band table — the seam
    * the adversarial bucket-cap test injects through.
    */
  def dedupMinhashOver(bandRows: DataFrame): DataFrame = {
    import bandRows.sparkSession.implicits._
    val buckets = bandRows
      .groupBy($"band", $"bh")
      .agg(sort_array(collect_list($"doc_id")).as("ids"))
      .filter(size($"ids") >= 2)
    val pairStructs = cappedPairs($"ids",
      (a, b) => struct(a.as("doc_a"), b.as("doc_b")))
    buckets.select(explode(pairStructs).as("p"))
      .select($"p.doc_a".as("doc_a"), $"p.doc_b".as("doc_b"))
      .distinct()
      .orderBy($"doc_a", $"doc_b")
  }

  /** Shared oracle fragment: capped in-bucket pair expansion over a `bands`
    * CTE (doc_id, band, bh) — full pairs among the BucketCap smallest ids
    * per bucket plus representative edges first→overflow, mirroring
    * [[cappedPairs]] exactly. An uncapped self-join oracle diverges once a
    * real bucket exceeds the cap (sf0.1's simhash bands already do).
    */
  private[llm] val cappedPairsSqlOverBands: String =
    s"""ranked AS (
       | SELECT doc_id, band, bh,
       |  row_number() OVER (PARTITION BY band, bh ORDER BY doc_id) AS rn,
       |  first_value(doc_id) OVER (PARTITION BY band, bh ORDER BY doc_id) AS f_doc
       | FROM bands),
       |pairs AS (
       | SELECT DISTINCT doc_a, doc_b FROM (
       |  SELECT l.doc_id AS doc_a, r.doc_id AS doc_b
       |  FROM ranked l JOIN ranked r
       |   ON l.band = r.band AND l.bh = r.bh AND l.rn < r.rn AND r.rn <= $BucketCap
       |  UNION ALL
       |  SELECT f_doc, doc_id FROM ranked WHERE rn > $BucketCap) e)""".stripMargin

  /** Oracle-side mirror of `bandsOver` and the capped pair expansion: the
    * CTEs `sh` (each doc's shingles), `bands` (doc_id, band, bh) and
    * `pairs` (doc_a, doc_b). Same single digest per shingle, same 60-bit
    * hex parses, same shift/mask slicing (the oracle re-parses per
    * component for SQL simplicity — values are identical).
    */
  private val candidatePairsSql: String = {
    val sigDefs = (0 until NumHashes).map { j =>
      val off = if (j < 4) 1 else 17
      s"list_min(list_transform(h, x -> (CAST('0x' || substr(x, $off, 15) AS BIGINT) >> ${(j % 4) * SliceBits}) & $SliceMask)) AS sig$j"
    }.mkString(",\n  ")
    val bandRows = (0 until NumBands).map { b =>
      val u = if (b == 0) "" else "UNION ALL "
      s"${u}SELECT doc_id, $b AS band, md5(CAST(sig${2 * b} AS VARCHAR) || '_' || CAST(sig${2 * b + 1} AS VARCHAR)) AS bh FROM sigs"
    }.mkString("\n ")
    s"""toks AS (SELECT doc_id, ${Tokens.tokensSql("text")} AS t FROM documents),
       |sh AS (SELECT doc_id, ${Tokens.gramsSql("t", ShingleK)} AS s
       |  FROM toks WHERE len(t) >= $ShingleK),
       |hm AS (SELECT doc_id, list_transform(s, x -> md5('mh:' || x)) AS h FROM sh),
       |sigs AS (SELECT doc_id,
       |  $sigDefs
       |  FROM hm),
       |bands AS (
       | $bandRows),
       |$cappedPairsSqlOverBands""".stripMargin
  }

  val dedupMinhashSql: String =
    s"""WITH $candidatePairsSql
       |SELECT doc_a, doc_b FROM pairs
       |ORDER BY doc_a, doc_b""".stripMargin

  /** x_dedup_jaccard — exact n-gram Jaccard similarity for candidate pairs
    * (the verify step after LSH blocking): docs sharing a band, scored by
    * |A ∩ B| / |A ∪ B| over distinct shingle sets, exact integer arithmetic.
    */
  def dedupJaccard(spark: SparkSession, dir: String): DataFrame = {
    // The candidate-pair plan is referenced three times in jaccardOver
    // (pairs, the candidate-id set, and the join probe); localCheckpoint
    // materializes it once instead of re-running the whole signature
    // pipeline per reference.
    // NOTE localCheckpoint pins blocks to executor storage and is NOT
    // lost-executor resilient — on a real cluster swap for
    // persist(StorageLevel.DISK_ONLY) or a reliable checkpoint dir.
    // Widened once at the scan; both the band pipeline and the Jaccard
    // verify consume the same widened frame (see [[graft.util.Widen]]).
    val docs = graft.util.Widen(
      Tables.documents(spark, dir).select("doc_id", "text"),
      org.apache.spark.sql.functions.col("doc_id"))
    jaccardOver(docs, dedupMinhashOver(bandsOver(docs)).ckptDisk())
  }

  /** Exact Jaccard scoring of a MATERIALIZED candidate-pair set over any
    * (doc_id, text) frame — the verify stage as a seam, so stress/scale
    * harnesses and the verified-clustering query share one definition.
    * `pairs` must already be materialized (it is referenced three times).
    */
  def jaccardOver(docFrame: DataFrame, pairs: DataFrame): DataFrame = {
    import docFrame.sparkSession.implicits._
    // Shingle sets are only materialized for candidate docs (semi-join
    // first): at scale the candidate set is orders of magnitude smaller
    // than the corpus.
    val candidates = pairs
      .select(explode(array($"doc_a", $"doc_b")).as("doc_id")).distinct()
    val docs = docFrame
      .join(candidates, "doc_id", "left_semi")
      .withColumn("toks", Tokens.tokens($"text"))
      .select($"doc_id", array_distinct(Tokens.grams($"toks", ShingleK)).as("sh"))
    pairs
      .join(docs.select($"doc_id".as("doc_a"), $"sh".as("sh_a")), "doc_a")
      .join(docs.select($"doc_id".as("doc_b"), $"sh".as("sh_b")), "doc_b")
      .select($"doc_a", $"doc_b",
        size(array_intersect($"sh_a", $"sh_b")).cast("long").as("n_common"),
        size(array_union($"sh_a", $"sh_b")).cast("long").as("n_union"))
      .withColumn("jaccard", $"n_common".cast("double") / $"n_union")
      .orderBy($"doc_a", $"doc_b")
  }

  val dedupJaccardSql: String =
    s"""WITH $candidatePairsSql,
       |sets AS (SELECT doc_id, list_distinct(s) AS s FROM sh)
       |SELECT doc_a, doc_b,
       | CAST(len(list_intersect(a.s, b.s)) AS BIGINT) AS n_common,
       | CAST(len(list_distinct(list_concat(a.s, b.s))) AS BIGINT) AS n_union,
       | CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(list_distinct(list_concat(a.s, b.s))) AS jaccard
       |FROM pairs JOIN sets a ON a.doc_id = doc_a JOIN sets b ON b.doc_id = doc_b
       |ORDER BY doc_a, doc_b""".stripMargin

  /** x_dup_inflation — the capacity impact of exact dedup, token-weighted:
    * dup RATE by docs understates (or overstates) the compute at stake
    * when duplicate docs are longer/shorter than average — training cost
    * scales with TOKENS. One fingerprint aggregate (argmin keeper via
    * struct-min, the x_cross_dedup shape) + one global rollup: n_docs,
    * dup docs, n_tokens, dup tokens, and both rates. "Dedup saves X% of
    * the token budget" is this query's last column.
    */
  def dupInflation(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = Tables.documents(spark, dir)
      .select($"doc_id",
        TextClean.fingerprint($"text").as("fp"),
        size(Tokens.tokens($"text")).cast("long").as("ntok"))
    base.groupBy($"fp")
      .agg(count(lit(1)).as("n"), sum($"ntok").as("tok"),
        min(struct($"doc_id", $"ntok")).as("kp"))
      .agg(
        sum($"n").as("n_docs"),
        sum($"n" - 1).as("n_dup_docs"),
        sum($"tok").as("n_tokens"),
        sum($"tok" - $"kp.ntok").as("n_dup_tokens"))
      .withColumn("doc_dup_rate",
        $"n_dup_docs".cast("double") / $"n_docs".cast("double"))
      .withColumn("token_dup_rate",
        $"n_dup_tokens".cast("double") / $"n_tokens".cast("double"))
  }

  val dupInflationSql: String =
    s"""WITH base AS (
       | SELECT doc_id,
       |  ${TextClean.fingerprintSql("text")} AS fp,
       |  CAST(len(${Tokens.tokensSql("text")}) AS BIGINT) AS ntok
       | FROM documents),
       |g AS (
       | SELECT fp, count(*) AS n, CAST(sum(ntok) AS BIGINT) AS tok,
       |  arg_min(ntok, doc_id) AS ktok
       | FROM base GROUP BY fp)
       |SELECT CAST(sum(n) AS BIGINT) AS n_docs,
       | CAST(sum(n - 1) AS BIGINT) AS n_dup_docs,
       | CAST(sum(tok) AS BIGINT) AS n_tokens,
       | CAST(sum(tok - ktok) AS BIGINT) AS n_dup_tokens,
       | CAST(sum(n - 1) AS DOUBLE) / CAST(sum(n) AS DOUBLE) AS doc_dup_rate,
       | CAST(sum(tok - ktok) AS DOUBLE) / CAST(sum(tok) AS DOUBLE) AS token_dup_rate
       |FROM g""".stripMargin

  /** x_lsh_precision — the dedup-index quality eval (the MinHash analogue
    * of x_ann_recall): of the LSH candidate pairs, how many clear the
    * exact Jaccard bar, bucketed by jaccard decile so the score histogram
    * is visible — a precision crater means the band geometry (rows×bands)
    * no longer matches the duplicate profile and the verify stage is
    * burning compute on noise. One extra aggregate over the shared verify
    * output; the single-row precision is derivable as
    * Σ n_pairs[decile ≥ bar] / Σ n_pairs.
    */
  def lshPrecision(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    dedupJaccard(spark, dir)
      // decile on the EXACT integer ratio: 10·common ≥ d·union ⇔ J ≥ d/10
      .withColumn("decile",
        expr("CAST((n_common * 10) DIV greatest(n_union, 1) AS BIGINT)"))
      .groupBy($"decile")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy($"decile")
  }

  val lshPrecisionSql: String =
    s"""WITH scored AS ($dedupJaccardSql)
       |SELECT CAST((n_common * 10) // greatest(n_union, 1) AS BIGINT) AS decile,
       | count(*) AS n_pairs
       |FROM scored
       |GROUP BY 1
       |ORDER BY decile""".stripMargin

  /** x_cross_dedup — source-priority keeper selection: among exact
    * duplicates (same canonical fingerprint), keep the copy from the most
    * trusted source tier (stream number mod 3 — curated 0 beats mirror 1
    * beats crawl 2), ties by lowest doc_id. This is the crawl-pipeline rule
    * "prefer the curated copy over the scraped one", one step past
    * x_dedup_exact's keep-any-min.
    *
    * Scale: ONE hash-aggregate shuffle on the fingerprint, with `min` over
    * a (priority, doc_id, source) struct — lexicographic struct min is the
    * argmin, and it partial-aggregates map-side, so no window/sort over the
    * corpus exists (the oracle's row_number form is DuckDB-only).
    */
  /** Source-tier parse: 'srcN' → N % 3, anything else → tier 2 (least
    * trusted). Regexp-anchored with an explicit fallback so Spark and the
    * DuckDB oracle agree on malformed names — substring().cast() yields
    * NULL (which sorts BEFORE 0 in the struct-min, i.e. silently MOST
    * trusted) while DuckDB's bare CAST errors: two engines, three outcomes.
    */
  def sourceTier(source: Column): Column = {
    // digits capped at 9 so the ANSI cast can never overflow/throw; the
    // when() short-circuits the cast on non-matches (ANSI '' cast throws)
    val n = regexp_extract(source, "^src([0-9]{1,9})$", 1)
    (when(n === "", lit(2)).otherwise(n.cast("int")) % 3).cast("long")
  }

  def crossDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"doc_id", $"source",
        TextClean.fingerprint($"text").as("fp"),
        sourceTier($"source").as("priority"))
      .groupBy($"fp")
      .agg(min(struct($"priority", $"doc_id", $"source")).as("best"),
        count(lit(1)).as("n_copies"))
      .select($"fp", $"best.doc_id".as("kept_doc_id"),
        $"best.priority".as("kept_priority"),
        $"best.source".as("kept_source"), $"n_copies")
      .orderBy($"fp")
  }

  val crossDedupSql: String =
    s"""WITH d AS (
       | SELECT doc_id, source,
       |  ${TextClean.fingerprintSql("text")} AS fp,
       |  CAST(coalesce(TRY_CAST(regexp_extract(source, '^src([0-9]{1,9})$$', 1) AS INTEGER), 2) % 3 AS BIGINT) AS priority
       | FROM documents),
       |r AS (
       | SELECT *,
       |  row_number() OVER (PARTITION BY fp ORDER BY priority, doc_id) AS rk,
       |  count(*) OVER (PARTITION BY fp) AS n_copies
       | FROM d)
       |SELECT fp, doc_id AS kept_doc_id, priority AS kept_priority,
       | source AS kept_source, n_copies
       |FROM r WHERE rk = 1
       |ORDER BY fp""".stripMargin

  /** x_dedup_incr — incremental dedup: the arriving batch (doc_id ≥ 250,
    * standing in for today's crawl) is checked against the HISTORICAL
    * fingerprint store (doc_id < 250) — the production shape where dedup
    * runs per-ingest against an index, not corpus × corpus. Each batch doc
    * reports whether its canonical fingerprint is already indexed and
    * whether it duplicates an earlier doc WITHIN the batch (first
    * occurrence by doc_id wins) — the two verdicts a crawl pipeline routes
    * on (skip vs index-and-keep).
    *
    * Scale: the history side reduces to DISTINCT fingerprints (one narrow
    * column — the store a real pipeline keeps pre-built); the check is one
    * equi join on fp plus one in-batch min-window, both partitioned by fp.
    * Nothing rescans history text.
    */
  def dedupIncr(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
      .select($"doc_id", TextClean.fingerprint($"text").as("fp"))
    val history = docs.filter($"doc_id" < 250).select($"fp").distinct()
    val batch = docs.filter($"doc_id" >= 250)
    val wFirst = org.apache.spark.sql.expressions.Window.partitionBy($"fp")
    batch
      .join(history.withColumn("in_history", lit(true)), Seq("fp"), "left")
      .withColumn("in_history", coalesce($"in_history", lit(false)))
      .withColumn("first_in_batch", min($"doc_id").over(wFirst))
      .select($"doc_id", $"fp", $"in_history",
        ($"doc_id" =!= $"first_in_batch").as("dup_in_batch"))
      .orderBy($"doc_id")
  }

  val dedupIncrSql: String =
    s"""WITH d AS (
       | SELECT doc_id,
       |  ${TextClean.fingerprintSql("text")} AS fp
       | FROM documents),
       |hist AS (SELECT DISTINCT fp FROM d WHERE doc_id < 250),
       |batch AS (SELECT doc_id, fp FROM d WHERE doc_id >= 250)
       |SELECT b.doc_id, b.fp,
       | (hist.fp IS NOT NULL) AS in_history,
       | (b.doc_id <> min(b.doc_id) OVER (PARTITION BY b.fp)) AS dup_in_batch
       |FROM batch b LEFT JOIN hist ON b.fp = hist.fp
       |ORDER BY b.doc_id""".stripMargin

  /** Chunk width (tokens) for [[chunkDedup]] — the paragraph analogue on a
    * corpus whose text has no paragraph breaks.
    */
  val ChunkW = 16

  /** x_chunk_dedup — sub-document (paragraph-level) dedup: each document is
    * cut into fixed [[ChunkW]]-token chunks, chunks are hashed, and every
    * chunk instance whose hash occurs more than once corpus-wide is a
    * duplicated passage. Per doc: total chunks and duplicated chunks — the
    * signal behind "drop the boilerplate paragraphs but keep the document"
    * (exact-dedup only catches whole-document copies; repeated headers,
    * footers, and license blocks live at chunk granularity).
    *
    * Scale: the explode emits len/W rows per doc (bounded fan-out), then
    * one hash-aggregate on the chunk hash, one equi join back on the hash,
    * and one per-doc aggregate — all partitioned by their keys, nothing
    * quadratic, no windows. A doc repeating its OWN paragraph counts as
    * duplicated (instance semantics, deliberately).
    */
  def chunkDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = Tables.documents(spark, dir)
      .select($"doc_id", Tokens.tokens($"text").as("tk"))
    val nc = floor((size($"tk") + lit(ChunkW - 1)) / lit(ChunkW)).cast("long")
    val chunks = toks
      .select($"doc_id", $"tk", explode(sequence(lit(0L), nc - 1L)).as("i"))
      .select($"doc_id",
        md5(concat_ws(" ",
          slice($"tk", ($"i" * ChunkW + 1).cast("int"), lit(ChunkW)))).as("h"))
    val freq = chunks.groupBy($"h").agg(count(lit(1)).as("n_inst"))
    chunks.join(freq, Seq("h"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when($"n_inst" > 1, 1L).otherwise(0L)).as("n_dup_chunks"))
      .orderBy($"doc_id")
  }

  val chunkDedupSql: String =
    s"""WITH t AS (SELECT doc_id, ${Tokens.tokensSql("text")} AS tk FROM documents),
       |c AS (SELECT doc_id,
       |        md5(array_to_string(list_slice(tk, s + 1, s + $ChunkW), ' ')) AS h
       |      FROM (SELECT doc_id, tk, unnest(range(0, len(tk), $ChunkW)) AS s FROM t)),
       |f AS (SELECT h, count(*) AS n_inst FROM c GROUP BY h)
       |SELECT doc_id, count(*) AS n_chunks,
       | CAST(sum(CASE WHEN n_inst > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks
       |FROM c JOIN f USING (h)
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  /** x_dedup_keep_best — quality-aware exact dedup: per canonical
    * fingerprint group, KEEP THE LONGEST copy (ties to the lowest doc_id)
    * instead of an arbitrary one — the heuristic a crawl dedup actually
    * ships, because the longest duplicate is the least-truncated one. One
    * argmax hash aggregate on the fingerprint (struct-max rides the
    * map-side combine; no window over the corpus), emitting the kept doc,
    * the group size, and the chars the group discards — the direct input
    * to "dedup keeps the best N% of bytes" reporting.
    */
  def dedupKeepBest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"doc_id", $"n_chars",
        TextClean.fingerprint($"text").as("fp"))
      .groupBy($"fp")
      .agg(count(lit(1)).as("n_copies"),
        max_by(struct($"doc_id".as("id"), $"n_chars".as("nc")),
          struct($"n_chars", -$"doc_id")).as("k"),
        sum($"n_chars").as("group_chars"))
      .select($"fp", $"k.id".as("kept_doc_id"), $"k.nc".as("kept_n_chars"),
        $"n_copies", ($"group_chars" - $"k.nc").as("discarded_chars"))
      .orderBy($"kept_doc_id")
  }

  val dedupKeepBestSql: String =
    s"""WITH f AS (
       | SELECT doc_id, n_chars,
       |  ${TextClean.fingerprintSql("text")} AS fp
       | FROM documents),
       |r AS (
       | SELECT fp, doc_id, n_chars,
       |  row_number() OVER (PARTITION BY fp ORDER BY n_chars DESC, doc_id) AS rk,
       |  count(*) OVER (PARTITION BY fp) AS n_copies,
       |  CAST(sum(n_chars) OVER (PARTITION BY fp) AS BIGINT) AS group_chars
       | FROM f)
       |SELECT fp, doc_id AS kept_doc_id, n_chars AS kept_n_chars,
       | CAST(n_copies AS BIGINT) AS n_copies,
       | group_chars - n_chars AS discarded_chars
       |FROM r WHERE rk = 1
       |ORDER BY kept_doc_id""".stripMargin

  val declared: Seq[Declared] = Seq(
    Declared("x_dedup_keep_best", dedupKeepBest, Some(dedupKeepBestSql)),
    Declared("x_chunk_dedup", chunkDedup, Some(chunkDedupSql)),
    Declared("x_dedup_incr", dedupIncr, Some(dedupIncrSql)),
    Declared("x_dedup_exact", dedupExact, Some(dedupExactSql)),
    Declared("x_dedup_minhash", dedupMinhash, Some(dedupMinhashSql)),
    Declared("x_dedup_jaccard", dedupJaccard, Some(dedupJaccardSql)),
    Declared("x_lsh_precision", lshPrecision, Some(lshPrecisionSql)),
    Declared("x_dup_inflation", dupInflation, Some(dupInflationSql)),
    Declared("x_cross_dedup", crossDedup, Some(crossDedupSql)))
}
