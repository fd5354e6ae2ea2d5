package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Declared
import graft.io.Tables

/** Training-batch assembly operators — the last mile of an LLM data
  * pipeline, where a cleaned corpus becomes model-ready token streams:
  * sequence packing (where does each document land in the fixed-length
  * training sequences?), epoch-weighted dataset mixing (up/down-sample
  * sources to a target mixture, with repetition for weights > 1), and
  * benchmark-contamination screening (which training docs share long
  * n-grams with a held-out eval set?).
  *
  * Determinism: token counts are whitespace-split sizes (integers), packing
  * offsets are integer prefix sums, mixing uses md5-prefix thresholds
  * (16ths, single hex-char compares — reproducible under any partition
  * layout, unlike rand()), and contamination counts distinct exact 8-gram
  * matches. No floats anywhere.
  */
object Pack {

  /** Fixed training-sequence length for [[seqPack]]. 512 stands in for the
    * usual 2k–8k; the arithmetic is length-independent.
    */
  val SeqLen = 512

  /** x_seq_pack — GPT-style sequence packing offsets. Documents are
    * concatenated per source in doc_id order and chunked into
    * [[SeqLen]]-token training sequences (documents MAY cross sequence
    * boundaries); each doc's placement is fully determined by the running
    * token offset: start_tok (prefix sum of earlier docs' token counts),
    * seq_id = start/512, tok_offset = start%512, and n_seqs_spanned.
    *
    * Scale: the prefix sum is windowed PER SOURCE — the shuffle is a hash
    * partition on source and each stream's cumsum is independent. At 100 TB
    * a single source would itself be sharded (pack per (source, shard) with
    * shard = the ingest file/bucket id — the layout training loaders
    * actually consume); the per-source form here is that plan with one
    * shard per source. No global sort exists anywhere.
    */
  def seqPack(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"source").orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.documents(spark, dir)
      .select($"source", $"doc_id",
        size(Tokens.tokens($"text")).cast("long").as("n_toks"))
      .withColumn("start_tok", coalesce(sum($"n_toks").over(w), lit(0L)))
      .select($"source", $"doc_id", $"n_toks", $"start_tok",
        expr(s"start_tok div $SeqLen").as("seq_id"),
        ($"start_tok" % SeqLen).as("tok_offset"),
        (expr(s"(start_tok + n_toks - 1) div $SeqLen")
          - expr(s"start_tok div $SeqLen") + lit(1L)).as("n_seqs_spanned"))
      .orderBy($"source", $"doc_id")
  }

  val seqPackSql: String =
    s"""WITH d AS (
       | SELECT source, doc_id,
       |  CAST(len(${Tokens.tokensSql("text")}) AS BIGINT) AS n_toks
       | FROM documents),
       |off AS (
       | SELECT source, doc_id, n_toks,
       |  CAST(coalesce(sum(n_toks) OVER (
       |    PARTITION BY source ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |    AS start_tok
       | FROM d)
       |SELECT source, doc_id, n_toks, start_tok,
       | start_tok // $SeqLen AS seq_id,
       | start_tok % $SeqLen AS tok_offset,
       | (start_tok + n_toks - 1) // $SeqLen - start_tok // $SeqLen + 1
       |   AS n_seqs_spanned
       |FROM off
       |ORDER BY source, doc_id""".stripMargin

  /** x_dataset_mix — epoch-weighted source mixing with repetition. Each
    * source gets a mixture weight from its stream number mod 4
    * (0→0.25×, 1→1×, 2→2.5×, 3→3×): integer part = guaranteed copies,
    * fractional part = per-doc md5 threshold (16ths → one hex-char
    * compare). Weights > 1 model multi-epoch upsampling (wiki-style),
    * < 1 model crawl downsampling; output is one row per (doc, copy).
    *
    * Scale: map-only — weight lookup is arithmetic on the source name,
    * the copy fan-out is a bounded explode (≤3), and no shuffle exists at
    * all. The md5 threshold keeps the kept-set stable under repartitioning,
    * which is what makes a 100 TB mix resumable.
    */
  def datasetMix(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val grp = substring($"source", 4, 10).cast("int") % 4
    val h = substring(md5(concat($"doc_id".cast("string"), lit(":mix"))), 1, 1)
    Tables.documents(spark, dir)
      .select($"doc_id", $"source",
        (when(grp === 0, 0L).when(grp === 1, 1L).when(grp === 2, 2L)
          .otherwise(3L)
          + when(grp === 0 && h < "4", 1L)
            .when(grp === 2 && h < "8", 1L)
            .otherwise(0L)).as("n_copies"))
      // sequence(1, 0) in Spark is the DESCENDING [1, 0], not empty —
      // zero-copy docs must be filtered out before the explode.
      .filter($"n_copies" >= 1)
      .withColumn("copy_id", explode(sequence(lit(1L), $"n_copies")))
      .select($"doc_id", $"source", $"copy_id", $"n_copies")
      .orderBy($"doc_id", $"copy_id")
  }

  val datasetMixSql: String =
    """WITH wt AS (
      | SELECT doc_id, source,
      |  CAST(substr(source, 4) AS INTEGER) % 4 AS grp,
      |  substr(md5(CAST(doc_id AS VARCHAR) || ':mix'), 1, 1) AS h
      | FROM documents),
      |nc AS (
      | SELECT doc_id, source,
      |  CAST(CASE grp WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 2 THEN 2 ELSE 3 END
      |   + CASE WHEN grp = 0 AND h < '4' THEN 1
      |          WHEN grp = 2 AND h < '8' THEN 1 ELSE 0 END AS BIGINT)
      |   AS n_copies
      | FROM wt)
      |SELECT doc_id, source, g AS copy_id, n_copies
      |FROM nc CROSS JOIN generate_series(1, 3) gs(g)
      |WHERE g <= n_copies
      |ORDER BY doc_id, copy_id""".stripMargin

  /** Gram width for [[contamination]]: word 8-grams are long enough that on
    * this corpus (and any natural one) a shared 8-gram means real shared
    * text, not vocabulary coincidence.
    */
  val ContaminationK = 8

  /** x_contamination — benchmark-contamination screen. A held-out "eval
    * set" (md5(doc_id) prefix '0' — a deterministic 1/16 slice standing in
    * for a real benchmark) is checked against every remaining training doc
    * for shared word 8-grams; a hit means the training corpus contains
    * eval text and would inflate measured model quality. Output: each
    * contaminated doc with its distinct-ngram and distinct-eval-doc hit
    * counts.
    *
    * Scale: the eval side is a benchmark — thousands of docs, not
    * billions — so its distinct n-gram set is explicitly `broadcast()`:
    * the screen is a MAP-ONLY semi-join over the 100 TB training side
    * (explode → hash-probe → partial count), with the only shuffle being
    * the final per-doc count aggregation on already-matched rows.
    */
  def contamination(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
      .select($"doc_id", Tokens.tokens($"text").as("toks"),
        substring(md5($"doc_id".cast("string")), 1, 1).as("h"))
    val evalGrams = docs.filter($"h" === "0")
      .select($"doc_id".as("eval_doc_id"),
        explode(Tokens.grams($"toks", ContaminationK)).as("g"))
      .distinct()
    // No distinct on the training side: that would shuffle every n-gram of
    // the 100 TB corpus. The broadcast join filters map-side first, so only
    // MATCHED rows reach the aggregate, where countDistinct dedups both the
    // repeated grams within a doc and multi-eval-doc hits of one gram.
    val trainGrams = docs.filter($"h" =!= "0")
      .select($"doc_id", explode(Tokens.grams($"toks", ContaminationK)).as("g"))
    trainGrams.join(broadcast(evalGrams), Seq("g"))
      .groupBy($"doc_id")
      .agg(countDistinct($"g").as("n_shared_ngrams"),
        countDistinct($"eval_doc_id").as("n_eval_docs"))
      .orderBy($"doc_id")
  }

  val contaminationSql: String =
    s"""WITH toks AS (
       | SELECT doc_id, ${Tokens.tokensSql("text")} AS t,
       |  substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS h
       | FROM documents),
       |grams AS (
       | SELECT doc_id, h,
       |  unnest(${Tokens.gramsSql("t", ContaminationK)}) AS g
       | FROM toks),
       |ev AS (SELECT DISTINCT doc_id AS eval_doc_id, g FROM grams WHERE h = '0'),
       |tr AS (SELECT doc_id, g FROM grams WHERE h <> '0')
       |SELECT tr.doc_id, count(DISTINCT tr.g) AS n_shared_ngrams,
       | count(DISTINCT ev.eval_doc_id) AS n_eval_docs
       |FROM tr JOIN ev ON tr.g = ev.g
       |GROUP BY tr.doc_id
       |ORDER BY tr.doc_id""".stripMargin

  /** Chunk geometry for [[docSplit]]: 64-token windows every 48 tokens
    * (16-token overlap) — the RAG/embedding-index chunking shape.
    */
  val ChunkLen = 64
  val ChunkStride = 48

  /** x_doc_split — overlapping-window document chunking: every doc becomes
    * ceil(n_toks/48) chunks of ≤64 tokens starting at 1, 49, 97, …, each
    * carrying its reconstructed text. Map-only (explode bounded by doc
    * length over stride) — the embarrassingly parallel shape that feeds an
    * embedding or indexing stage at any corpus size.
    */
  def docSplit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .withColumn("toks", Tokens.tokens($"text"))
      .withColumn("n_toks", size($"toks").cast("long"))
      .select($"doc_id", $"toks", $"n_toks",
        posexplode(sequence(lit(1L), $"n_toks", lit(ChunkStride.toLong))))
      .select($"doc_id",
        ($"pos" + 1).cast("long").as("chunk_id"),
        $"col".as("start_tok"),
        least(lit(ChunkLen.toLong), $"n_toks" - $"col" + 1L).as("chunk_len"),
        concat_ws(" ", slice($"toks", $"col", lit(ChunkLen))).as("chunk_text"))
      .orderBy($"doc_id", $"chunk_id")
  }

  val docSplitSql: String =
    s"""WITH d AS (
       | SELECT doc_id, ${Tokens.tokensSql("text")} AS t,
       |  CAST(len(${Tokens.tokensSql("text")}) AS BIGINT) AS n_toks
       | FROM documents),
       |starts AS (
       | SELECT doc_id, t, n_toks,
       |  unnest(generate_series(1, n_toks, $ChunkStride)) AS start_tok
       | FROM d)
       |SELECT doc_id,
       | (start_tok - 1) // $ChunkStride + 1 AS chunk_id,
       | CAST(start_tok AS BIGINT) AS start_tok,
       | least($ChunkLen, n_toks - start_tok + 1) AS chunk_len,
       | array_to_string(t[start_tok:start_tok + ${ChunkLen - 1}], ' ')
       |   AS chunk_text
       |FROM starts
       |ORDER BY doc_id, chunk_id""".stripMargin

  /** x_split_assign — deterministic stratified train/val/test assignment:
    * within each source, docs route 14/16 train, 1/16 val, 1/16 test by
    * md5 hex prefix (frac < 'e' → train, < 'f' → val, else test). The
    * salt differs from [[datasetMix]]'s so the two decisions are
    * independent. Hash routing is what makes a 100 TB split REPRODUCIBLE
    * and APPEND-STABLE: re-running after new data arrives never moves an
    * existing doc between splits (rand() or row-number splits move docs
    * whenever the layout or count changes). Map-only + one tiny rollup.
    */
  def splitAssign(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val h = substring(md5(concat($"doc_id".cast("string"), lit(":split"))), 1, 1)
    Tables.documents(spark, dir)
      .select($"source",
        when(h < "e", "train").when(h < "f", "val").otherwise("test")
          .as("split"))
      .groupBy($"source", $"split")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy($"source", $"split")
  }

  val splitAssignSql: String =
    """WITH d AS (
      | SELECT source,
      |  CASE WHEN substr(md5(CAST(doc_id AS VARCHAR) || ':split'), 1, 1) < 'e'
      |       THEN 'train'
      |       WHEN substr(md5(CAST(doc_id AS VARCHAR) || ':split'), 1, 1) < 'f'
      |       THEN 'val'
      |       ELSE 'test' END AS split
      | FROM documents)
      |SELECT source, split, count(*) AS n_docs
      |FROM d GROUP BY source, split
      |ORDER BY source, split""".stripMargin

  /** x_repetition_filter — Gopher-style intra-document repetition signal:
    * the most frequent bigram's share of all bigram occurrences, as an
    * exact cross-multiplied integer flag (repeated = max_count · 10 >
    * n_bigrams · 2, i.e. share > 20%) — no float division in the gated
    * columns. Boilerplate and template spam score high; prose scores low.
    * Map-only explode → two bounded aggregates keyed by doc — the
    * per-doc bigram space is doc-length-bounded, so the shuffle never
    * exceeds the token count.
    */
  def repetitionFilter(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val bigrams = Tables.documents(spark, dir)
      .select($"doc_id", Tokens.tokens($"text").as("toks"))
      .filter(size($"toks") >= 2)
      .select($"doc_id",
        explode(Tokens.grams($"toks", 2)).as("bigram"))
    bigrams.groupBy($"doc_id", $"bigram").agg(count(lit(1)).as("c"))
      .groupBy($"doc_id")
      .agg(max($"c").as("max_bigram_count"), sum($"c").as("n_bigrams"))
      .select($"doc_id", $"max_bigram_count", $"n_bigrams",
        ($"max_bigram_count" * 10 > $"n_bigrams" * 2).as("repeated"))
      .orderBy($"doc_id")
  }

  val repetitionFilterSql: String =
    s"""WITH toks AS (
       | SELECT doc_id, ${Tokens.tokensSql("text")} AS t
       | FROM documents WHERE len(${Tokens.tokensSql("text")}) >= 2),
       |bg AS (
       | SELECT doc_id,
       |  unnest(${Tokens.gramsSql("t", 2)}) AS bigram
       | FROM toks),
       |counts AS (
       | SELECT doc_id, bigram, count(*) AS c FROM bg GROUP BY 1, 2),
       |agg AS (
       | SELECT doc_id, max(c) AS max_bigram_count,
       |  CAST(sum(c) AS BIGINT) AS n_bigrams
       | FROM counts GROUP BY doc_id)
       |SELECT doc_id, max_bigram_count, n_bigrams,
       | max_bigram_count * 10 > n_bigrams * 2 AS repeated
       |FROM agg
       |ORDER BY doc_id""".stripMargin

  /** x_pack_stats — the packing-efficiency rollup over [[seqPack]]'s
    * layout: per source, the sequence count, the tokens left unfilled in
    * the final sequence (contiguous packing fills every other sequence
    * exactly), and how many documents straddle a sequence boundary —
    * boundary-crossing docs are the attention-fragmentation metric a
    * packing strategy is judged by (cross-doc attention bleed / truncation
    * loss both start there). One aggregate over the map-only offset
    * derivation; the per-source window is the same one seqPack already
    * pays.
    */
  def packStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    seqPack(spark, dir)
      .groupBy($"source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"n_toks").as("total_toks"),
        (expr(s"(max(start_tok + n_toks) - 1) div $SeqLen") + 1L).as("n_seqs"),
        sum(when($"n_seqs_spanned" > 1L, 1L).otherwise(0L)).as("n_boundary_docs"))
      .withColumn("last_seq_fill",
        $"total_toks" - ($"n_seqs" - 1L) * SeqLen)
      .orderBy($"source")
  }

  val packStatsSql: String =
    s"""WITH d AS (
       | SELECT source, doc_id,
       |  CAST(len(${Tokens.tokensSql("text")}) AS BIGINT) AS n_toks
       | FROM documents),
       |off AS (
       | SELECT source, doc_id, n_toks,
       |  CAST(coalesce(sum(n_toks) OVER (
       |    PARTITION BY source ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |    AS start_tok
       | FROM d),
       |sp AS (
       | SELECT source, n_toks, start_tok,
       |  (start_tok + n_toks - 1) // $SeqLen - start_tok // $SeqLen + 1
       |    AS n_seqs_spanned
       | FROM off)
       |SELECT source, count(*) AS n_docs,
       | CAST(sum(n_toks) AS BIGINT) AS total_toks,
       | (max(start_tok + n_toks) - 1) // $SeqLen + 1 AS n_seqs,
       | CAST(sum(CASE WHEN n_seqs_spanned > 1 THEN 1 ELSE 0 END) AS BIGINT)
       |   AS n_boundary_docs,
       | CAST(sum(n_toks) AS BIGINT)
       |   - ((max(start_tok + n_toks) - 1) // $SeqLen) * $SeqLen
       |   AS last_seq_fill
       |FROM sp
       |GROUP BY source
       |ORDER BY source""".stripMargin

  /** Per-source token budget for [[tokenBudget]]. */
  val SourceTokenBudget = 1000L

  /** x_token_budget — budgeted admission per source: walk each source's
    * docs in a DETERMINISTIC shuffled order (md5(doc_id) — append-stable,
    * partition-independent) and admit until the running token total
    * crosses [[SourceTokenBudget]], the way a trainer caps an
    * over-represented source without biasing toward any crawl order. The
    * running sum is a window per source (parallel across sources, never
    * SinglePartition); output is the per-source admission report: docs and
    * tokens admitted vs total — the mixing dashboard's first table.
    * Boundary rule pinned on both engines: PREFIX CUTOFF — a doc is
    * admitted iff the running total through it (accumulated over ALL
    * walked docs, admitted or not) stays ≤ budget, so the straddling doc
    * and everything after it are rejected. Skip-the-straddler-and-continue
    * would need the running sum over admitted docs only, which is not a
    * plain window sum.
    */
  def tokenBudget(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"source")
      .orderBy($"h".asc, $"doc_id".asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(spark, dir)
      .select($"doc_id", $"source",
        size(Tokens.tokens($"text")).cast("long").as("ntok"),
        md5($"doc_id".cast("string")).as("h"))
      .withColumn("run", sum($"ntok").over(w))
      .withColumn("admitted", ($"run" <= SourceTokenBudget).cast("long"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"ntok").as("total_tokens"),
        sum($"admitted").as("n_admitted"),
        sum($"admitted" * $"ntok").as("admitted_tokens"))
      .orderBy($"source")
  }

  val tokenBudgetSql: String =
    s"""WITH d AS (
       | SELECT doc_id, source,
       |  CAST(len(${Tokens.tokensSql("text")}) AS BIGINT) AS ntok,
       |  md5(CAST(doc_id AS VARCHAR)) AS h
       | FROM documents),
       |r AS (
       | SELECT *, CAST(sum(ntok) OVER (PARTITION BY source
       |   ORDER BY h, doc_id
       |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run
       | FROM d)
       |SELECT source, count(*) AS n_docs,
       | CAST(sum(ntok) AS BIGINT) AS total_tokens,
       | CAST(sum(CASE WHEN run <= $SourceTokenBudget THEN 1 ELSE 0 END) AS BIGINT) AS n_admitted,
       | CAST(sum(CASE WHEN run <= $SourceTokenBudget THEN ntok ELSE 0 END) AS BIGINT) AS admitted_tokens
       |FROM r
       |GROUP BY source
       |ORDER BY source""".stripMargin

  /** Total document quota the largest-remainder allocation distributes. */
  val QuotaTotal = 100L

  /** x_quota_sample — EXACT-count corpus downsampling: allocate
    * [[QuotaTotal]] document slots across sources by largest-remainder
    * apportionment over sub-linear weights, then pick each source's
    * winners in a deterministic md5 order. The third sampling guarantee in
    * the set: `q_sample_stratified` gives per-stratum RATES (count varies
    * with the md5 draw), `x_token_budget` admits by running token sum
    * (count is whatever fits), this gives EXACT per-source COUNTS — what a
    * curator needs when the downstream contract says "exactly N docs, mix
    * fixed" (eval-set carving, labeling budgets).
    *
    * Mechanics, all engine-exact: weight w_i = ⌊√(Σ n_chars)⌋ per source
    * (sub-linear — big sources capped, IEEE sqrt is correctly rounded so
    * both engines floor identically); base_i = ⌊K·w_i / W⌋ via integer
    * division; the K − Σ base_i leftover slots go to the largest
    * remainders `(K·w_i) mod W`, ties to the lexicographically first
    * source. Within a source, winners are the first quota_i docs by
    * (md5(doc_id‖":quota"), doc_id) — repartition- and run-invariant.
    * (NOT append-stable: the quota is fixed, so a newly arrived doc that
    * hashes early displaces the current last pick — the exact-count
    * guarantee and append-stability are mutually exclusive; callers who
    * need the latter want the rate-based `q_sample_stratified`.)
    *
    * PRECONDITION for the exact-count guarantee: every source must hold at
    * least its allocated quota of documents (quota_i ≤ cnt_i). A source
    * allocated more slots than it has docs fills what it can and the output
    * totals fewer than K rows — silently, because both engines agree on the
    * shortfall. The ⌊√chars⌋ weights make this hard to trip (a source's
    * share shrinks as its corpus does), and the spec asserts the
    * precondition on every fixture SF; exact-count under saturated sources
    * is a water-filling loop (iterate: cap, re-apportion the remainder over
    * unsaturated sources), deliberately out of scope — callers with
    * starved sources should lower K or drop the starved source first.
    *
    * Scale shape: one fact-sized aggregate (per-source totals), a
    * source-count-sized allocation frame (broadcast back), and one window
    * rank partitioned by source for the pick — the window sorts only
    * within sources, never globally. At 100 TB with huge per-source doc
    * counts, swap the rank for the bounded `top_k_rows` aggregate keyed by
    * negated hash; the declared K here keeps quotas window-cheap.
    */
  def quotaSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    quotaSampleOver(
      Tables.documents(spark, dir).select($"doc_id", $"source", $"n_chars"),
      QuotaTotal)
  }

  /** Frame-parametric core of [[quotaSample]] over any
    * (doc_id, source, n_chars) frame — the seam the scale stress drives
    * with planted per-source weights and a driver-model apportionment.
    */
  def quotaSampleOver(docs: DataFrame, k: Long): DataFrame = {
    import docs.sparkSession.implicits._
    val srcw = docs
      .groupBy($"source")
      .agg(sum($"n_chars").as("tc"))
      .select($"source", floor(sqrt($"tc".cast("double"))).cast("long").as("w"))
    val tot = srcw.agg(sum($"w").as("bigw"))
    val alloc0 = srcw.crossJoin(broadcast(tot))
      .select($"source",
        expr(s"($k * w) div bigw").as("base"),
        expr(s"($k * w) % bigw").as("rem"))
    val spent = alloc0.agg(sum($"base").as("spent"))
    val wRem = Window.orderBy($"rem".desc, $"source".asc)
    // the allocation frame is |sources| rows — the driver-free window over
    // it is a single tiny partition by construction, not a scale hazard
    val quota = alloc0.crossJoin(broadcast(spent))
      .withColumn("rrk", row_number().over(wRem))
      .select($"source",
        ($"base" + when($"rrk" <= lit(k) - $"spent", 1L).otherwise(0L))
          .as("quota"))
    val wPick = Window.partitionBy($"source")
      .orderBy(md5(concat($"doc_id".cast("string"), lit(":quota"))), $"doc_id")
    docs
      .select($"doc_id", $"source")
      .withColumn("pick_rank", row_number().over(wPick).cast("long"))
      .join(broadcast(quota), Seq("source"))
      .filter($"pick_rank" <= $"quota")
      .select($"doc_id", $"source", $"pick_rank")
      .orderBy($"doc_id")
  }

  val quotaSampleSql: String =
    s"""WITH srcw AS (
       | SELECT source, CAST(floor(sqrt(CAST(sum(n_chars) AS DOUBLE))) AS BIGINT) AS w
       | FROM documents GROUP BY source),
       |tot AS (SELECT sum(w) AS bigw FROM srcw),
       |alloc0 AS (
       | SELECT source, ($QuotaTotal * w) // bigw AS base,
       |        ($QuotaTotal * w) % bigw AS rem
       | FROM srcw, tot),
       |spent AS (SELECT sum(base) AS spent FROM alloc0),
       |quota AS (
       | SELECT source,
       |  base + CASE WHEN row_number() OVER (ORDER BY rem DESC, source)
       |              <= $QuotaTotal - spent THEN 1 ELSE 0 END AS quota
       | FROM alloc0, spent),
       |ranked AS (
       | SELECT doc_id, source,
       |  CAST(row_number() OVER (PARTITION BY source
       |   ORDER BY md5(CAST(doc_id AS VARCHAR) || ':quota'), doc_id) AS BIGINT)
       |   AS pick_rank
       | FROM documents)
       |SELECT r.doc_id, r.source, r.pick_rank
       |FROM ranked r JOIN quota q ON q.source = r.source
       |WHERE r.pick_rank <= q.quota
       |ORDER BY r.doc_id""".stripMargin

  val declared: Seq[Declared] = Seq(
    Declared("x_quota_sample", quotaSample, Some(quotaSampleSql)),
    Declared("x_token_budget", tokenBudget, Some(tokenBudgetSql)),
    Declared("x_pack_stats", packStats, Some(packStatsSql)),
    Declared("x_split_assign", splitAssign, Some(splitAssignSql)),
    Declared("x_repetition_filter", repetitionFilter, Some(repetitionFilterSql)),
    Declared("x_seq_pack", seqPack, Some(seqPackSql)),
    Declared("x_dataset_mix", datasetMix, Some(datasetMixSql)),
    Declared("x_contamination", contamination, Some(contaminationSql)),
    Declared("x_doc_split", docSplit, Some(docSplitSql)))
}
