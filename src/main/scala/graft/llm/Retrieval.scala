package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Declared
import graft.functions.GraftFunctions
import graft.io.Tables

/** Lexical + hybrid retrieval over the document corpus — the query side of
  * a training-data pipeline (eval-set retrieval, contamination probes,
  * RAG-corpus curation all start with "give me the top-k docs for this
  * query").
  *
  * Reference scope: the reference pipeline ships raw documents only
  * (`etl_pipeline.py`'s document tables); retrieval is part of the
  * LLM-data extension tier, same as the ANN family it composes with.
  *
  * Two declared queries:
  *   - `x_bm25_topk` — BM25-weighted lexical top-k, INTEGER-EXACT: the
  *     engine's all-integer policy extends to the scoring function itself
  *     (no `ln`, no doubles — see [[bm25TermScore]]), so the hash gate
  *     pins every score bit-for-bit against the oracle.
  *   - `x_rrf_hybrid` — reciprocal-rank fusion of the BM25 list with a
  *     cosine-to-probe vector list: the standard hybrid-search shape
  *     (lexical ∪ semantic, fused on rank not score, so the two scales
  *     never need calibrating).
  *
  * Scale shape (100 TB): the token explode + `(doc_id, term)` aggregate is
  * the inverted-index build — one shuffle of the term-pruned fact (the
  * `isin` filter keeps only query-vocabulary terms BEFORE the exchange, so
  * the shuffled volume is query-sized, not corpus-sized). Document stats
  * ride a broadcast; per-query top-k goes through the bounded native
  * `top_k_rows` aggregate (map-side k-row partials, never a per-query
  * global sort). The vector leg is the brute-force probe scan of
  * `x_sim_topk` — swap in the IVF route (`AnnMulti`) when the corpus
  * outgrows it; fusion itself is a k-row-per-query join, scale-free.
  */
object Retrieval {

  /** BM25 shape parameters k1 = 1.2, b = 0.75 (the textbook operating
    * point), folded into integer constants by [[bm25TermScore]]'s
    * common-denominator rewrite.
    */
  val BmTopK = 10
  val RrfTopK = 10
  /** Depth of each per-modality rank list entering the fusion. */
  val RrfListK = 50
  /** The standard RRF dampening constant (Cormack et al.'s 60). */
  val RrfK = 60L
  /** Fixed-point scales: scores are `floor(value · scale)` so both engines
    * floor identically — integer division, never float rounding.
    */
  val BmScale = 1000000L
  val RrfScale = 1000000000L

  /** The declared query workload: id, lexical terms, and the probe vector
    * (vec_id ↔ doc_id — the fixture generates one embedding per document)
    * whose neighborhood seeds the semantic leg. Terms mix the corpus's one
    * rare token (`dup`, df ≈ 5% of docs) with common ones so the idf term
    * actually discriminates.
    */
  val QueryDefs: Seq[(Long, Seq[String], Long)] = Seq(
    (1L, Seq("dup", "key"), 7L),
    (2L, Seq("vector", "table", "scan"), 42L),
    (3L, Seq("spark", "join", "query"), 123L),
    (4L, Seq("hash", "merge", "dup", "window"), 321L))

  private def allTerms: Seq[String] = QueryDefs.flatMap(_._2).distinct

  /** Integer-exact BM25 term score, `floor(BmScale · idf · tfNorm)`.
    *
    * The log-free rational idf: Robertson's idf is
    * `ln((N − df + 0.5) / (df + 0.5) + 1) = ln((N + 1) / (df + 0.5))`; we
    * use its argument `(N + 1)/(df + 0.5) = (2N + 2)/(2df + 1)` directly —
    * a strictly monotone per-term transform of the textbook weight that
    * keeps `ln` (whose last bits differ between libm builds) out of a
    * hash-gated column. The tf leg multiplies through by `10·T`:
    * `tf·2.2 / (tf + 0.3 + 0.9·dl·N/T) = 22·tf·T / (10·T·tf + 3·T + 9·dl·N)`
    * with T = total corpus tokens, so the whole score is one integer
    * division. The outer products are DECIMAL(38,0) (HUGEINT on the oracle
    * side): the numerator is ~3·10²⁰ at SF 1 — past int64, nowhere near
    * 38 digits.
    */
  private def bm25TermScore: Column = expr(
    s"""(cast(2*nn + 2 as decimal(38,0)) * cast(22*tf as decimal(38,0))
       |  * cast(tt as decimal(38,0)) * $BmScale)
       |div
       |(cast(2*df + 1 as decimal(38,0))
       |  * cast(10*tt*tf + 3*tt + 9*dl*nn as decimal(38,0)))""".stripMargin
      .replace('\n', ' '))

  /** (query_id, doc_id, score) for every query × matching doc — the shared
    * scored frame behind both declared queries.
    */
  private def bm25Scored(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
      .select($"doc_id", Tokens.tokens($"text").as("toks"))
    // One postings pass: dl rides the projection into the (doc_id, term)
    // aggregate, so tf and dl come out of a single scan + single exchange
    // (the naive tf ⋈ dl formulation costs a second text scan AND a
    // shuffle join — measured: 3 scans of the fact, one per derived
    // frame). Term-prune BEFORE the exchange: the shuffle carries only
    // query-vocabulary postings, not the corpus's token stream.
    val tf = docs
      .select($"doc_id", size($"toks").cast("long").as("dl"),
        explode(filter($"toks", t => t.isInCollection(allTerms))).as("term"))
      .groupBy($"doc_id", $"term")
      .agg(count(lit(1)).as("tf"), max($"dl").as("dl"))
    val dfreq = tf.groupBy($"term").agg(count(lit(1)).as("df"))
    // Corpus stats need every doc (zero-match ones included), so they are
    // the second — unavoidable — pass over the text column; at the 100 TB
    // design point (N, Σ tokens) is a slowly-moving corpus constant a
    // deployment maintains incrementally rather than rescanning per query.
    val stats = docs
      .select(size($"toks").cast("long").as("dl"))
      .agg(count(lit(1)).as("nn"), sum($"dl").as("tt"))
    val qt = QueryDefs.flatMap { case (q, ts, _) => ts.map(t => (q, t)) }
      .toDF("query_id", "term")
    tf.join(broadcast(dfreq), Seq("term"))
      .crossJoin(broadcast(stats))
      .join(broadcast(qt), Seq("term"))
      .groupBy($"query_id", $"doc_id")
      .agg(sum(bm25TermScore).as("score"))
  }

  /** x_bm25_topk — top-10 docs per lexical query by integer-exact BM25;
    * ties (same floored score) break on the smaller doc_id, which is
    * exactly `top_k_rows`'s (ord DESC, tag ASC) order.
    */
  def bm25TopK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    GraftFunctions.register(spark)
    bm25Scored(spark, dir)
      .groupBy($"query_id")
      .agg(call_function("top_k_rows", $"score", $"doc_id", lit(BmTopK)).as("top"))
      .select($"query_id", posexplode($"top"))
      .select($"query_id", ($"pos" + 1).cast("long").as("rank"),
        $"col.tag".as("doc_id"), $"col.ord".as("score"))
      .orderBy($"query_id", $"rank")
  }

  /** The shared oracle prefix: per-doc lengths, pruned postings, document
    * frequencies, corpus stats, and the literal query-term table.
    */
  private def bm25CtePrefix: String = {
    val termList = allTerms.map(t => s"'$t'").mkString(",")
    val qtRows = QueryDefs
      .flatMap { case (q, ts, _) => ts.map(t => s"($q, '$t')") }
      .mkString(", ")
    s"""WITH docs AS (
       | SELECT doc_id, ${Tokens.tokensSql("text")} AS toks FROM documents),
       |dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM docs),
       |tf AS (
       | SELECT doc_id, term, count(*) AS tf FROM (
       |  SELECT doc_id, unnest(toks) AS term FROM docs)
       | WHERE term IN ($termList)
       | GROUP BY 1, 2),
       |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |stats AS (SELECT count(*) AS nn, sum(dl) AS tt FROM dl),
       |qt AS (SELECT * FROM (VALUES $qtRows) AS t(query_id, term)),
       |scored AS (
       | SELECT qt.query_id, tf.doc_id,
       |  sum((CAST(2*nn + 2 AS HUGEINT) * CAST(22*tf.tf AS HUGEINT)
       |       * CAST(tt AS HUGEINT) * $BmScale)
       |      // (CAST(2*dfreq.df + 1 AS HUGEINT)
       |       * CAST(10*tt*tf.tf + 3*tt + 9*dl.dl*nn AS HUGEINT))) AS score
       | FROM tf
       |  JOIN dl USING (doc_id)
       |  JOIN dfreq USING (term)
       |  JOIN qt USING (term), stats
       | GROUP BY 1, 2)""".stripMargin
  }

  val bm25TopKSql: String =
    s"""$bm25CtePrefix
       |SELECT CAST(query_id AS BIGINT) AS query_id, rank, doc_id,
       | CAST(score AS BIGINT) AS score
       |FROM (
       | SELECT query_id, doc_id, score,
       |  CAST(row_number() OVER (PARTITION BY query_id
       |   ORDER BY score DESC, doc_id) AS BIGINT) AS rank
       | FROM scored)
       |WHERE rank <= $BmTopK
       |ORDER BY query_id, rank""".stripMargin

  /** x_rrf_hybrid — reciprocal-rank fusion of the lexical and semantic
    * rank lists: `fused(d) = Σ_lists ⌊RrfScale / (60 + rank_list(d))⌋`,
    * absent-from-list contributing 0. Rank fusion needs no score
    * calibration between modalities — exactly why production hybrid
    * search uses it — and the floored contributions keep the fused score
    * integer-exact. Ten fused winners per query, ties to the smaller
    * doc_id.
    */
  def rrfHybrid(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    GraftFunctions.register(spark)
    def ranked(scored: DataFrame, ord: Column, tag: Column): DataFrame = scored
      .groupBy($"query_id")
      .agg(call_function("top_k_rows", ord, tag, lit(RrfListK)).as("top"))
      .select($"query_id", posexplode($"top"))
      .select($"query_id", $"col.tag".as("doc_id"),
        ($"pos" + 1).cast("long").as("rank"))
    val lex = ranked(bm25Scored(spark, dir), $"score", $"doc_id")
    val e = Tables.embeddings(spark, dir)
      .select($"vec_id", Similarity.asDouble($"embedding").as("v"))
    val probes = QueryDefs.map { case (q, _, p) => (q, p) }
      .toDF("query_id", "probe_id")
    val pv = broadcast(probes.join(e, $"probe_id" === $"vec_id")
      .select($"query_id", $"probe_id", $"v".as("qv")))
    val sem = ranked(
      pv.crossJoin(e.select($"vec_id".as("cand_id"), $"v".as("cv")))
        .filter($"cand_id" =!= $"probe_id") // a probe is not its own neighbor
        .select($"query_id", $"cand_id",
          Similarity.microSim(spark, $"qv", $"cv").as("micro_sim")),
      $"micro_sim", $"cand_id")
    val fused = lex.select($"query_id", $"doc_id",
        expr(s"$RrfScale div (${RrfK} + rank)").as("c"))
      .unionByName(sem.select($"query_id", $"doc_id",
        expr(s"$RrfScale div (${RrfK} + rank)").as("c")))
      .groupBy($"query_id", $"doc_id")
      .agg(sum($"c").as("rrf"))
    fused.groupBy($"query_id")
      .agg(call_function("top_k_rows", $"rrf", $"doc_id", lit(RrfTopK)).as("top"))
      .select($"query_id", posexplode($"top"))
      .select($"query_id", ($"pos" + 1).cast("long").as("rank"),
        $"col.tag".as("doc_id"), $"col.ord".as("rrf_scaled"))
      .orderBy($"query_id", $"rank")
  }

  val rrfHybridSql: String = {
    val probeRows = QueryDefs
      .map { case (q, _, p) => s"($q, $p)" }.mkString(", ")
    s"""$bm25CtePrefix,
       |lex AS (
       | SELECT query_id, doc_id, rank FROM (
       |  SELECT query_id, doc_id,
       |   row_number() OVER (PARTITION BY query_id
       |    ORDER BY score DESC, doc_id) AS rank
       |  FROM scored) WHERE rank <= $RrfListK),
       |${Similarity.vecsSql()},
       |pr AS (SELECT * FROM (VALUES $probeRows) AS t(query_id, probe_id)),
       |sem0 AS (
       | SELECT pr.query_id, c.vec_id AS doc_id, ${Similarity.microSimSql("p.v", "c.v")} AS micro_sim
       | FROM pr JOIN e p ON p.vec_id = pr.probe_id
       |  JOIN e c ON c.vec_id != pr.probe_id),
       |sem AS (
       | SELECT query_id, doc_id, rank FROM (
       |  SELECT query_id, doc_id,
       |   row_number() OVER (PARTITION BY query_id
       |    ORDER BY micro_sim DESC, doc_id) AS rank
       |  FROM sem0) WHERE rank <= $RrfListK),
       |contrib AS (
       | SELECT query_id, doc_id, $RrfScale // ($RrfK + rank) AS c FROM lex
       | UNION ALL
       | SELECT query_id, doc_id, $RrfScale // ($RrfK + rank) AS c FROM sem),
       |fused AS (
       | SELECT query_id, doc_id, sum(c) AS rrf
       | FROM contrib GROUP BY 1, 2)
       |SELECT CAST(query_id AS BIGINT) AS query_id, rank, doc_id,
       | CAST(rrf AS BIGINT) AS rrf_scaled
       |FROM (
       | SELECT query_id, doc_id, rrf,
       |  CAST(row_number() OVER (PARTITION BY query_id
       |   ORDER BY rrf DESC, doc_id) AS BIGINT) AS rank
       | FROM fused)
       |WHERE rank <= $RrfTopK
       |ORDER BY query_id, rank""".stripMargin
  }

  val declared: Seq[Declared] = Seq(
    Declared("x_bm25_topk", bm25TopK, Some(bm25TopKSql)),
    Declared("x_rrf_hybrid", rrfHybrid, Some(rrfHybridSql)))
}
