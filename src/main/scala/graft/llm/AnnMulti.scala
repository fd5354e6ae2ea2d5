package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Declared
import graft.functions.GraftFunctions
import graft.io.Tables
import graft.util.Ckpt._

/** Multi-probe ANN retrieval with its recall eval — the answer to the
  * number x_ann_recall exists to surface: the single 8-bit sign-table
  * route retrieves recall@10 ≈ 0.035 on this fixture (near-random 64-dim
  * embeddings put the true top-10 at cosine ~0.2–0.4, where one sign
  * bucket almost never collides). The fix an IVF deployment actually
  * ships is MULTI-PROBE (Multi-probe LSH, Lv et al. VLDB 2007; FAISS's
  * nprobe): route each query to its [[MultiNProbe]] nearest coarse cells
  * instead of one, trading scanned-fraction for recall along a dial.
  *
  * x_ann_recall_multi runs the same oracle-gated eval shape as
  * x_ann_recall — brute-force truth UNCHANGED, only the approximate route
  * swapped — and additionally reports n_cand, the per-query candidate
  * count, so the artifact quantifies BOTH sides of the trade: recall@10
  * rises from ≈0.035 to ≥0.5 while scanning ~[[MultiNProbe]]/[[MultiNList]]
  * of the corpus instead of all of it.
  *
  * Determinism: the coarse quantizer is [[Ivf]]'s (stride seeds,
  * fixed-point Lloyd, 6 dp-rounded cosines with ties to the lowest cell
  * id), and the final ranking key is the exact integer micro-cosine.
  *
  * Scale notes: centroids broadcast (nlist rows); cell assignment is one
  * map-side-combined argmax aggregate (never a window over N·nlist scored
  * rows); candidate generation is an equi-join of the probe routing table
  * (probes × nprobe rows, broadcast) against the cid-keyed lists; top-k
  * goes through the bounded native `top_k_rows` aggregate, so the shuffle
  * carries O(probes·k) rows. The corpus-sized frames move exactly once.
  */
object AnnMulti {

  /** Coarse cells and probes per query: 8 of 16 cells ≈ half the corpus
    * scanned — the honest price of recall ≥ 0.5 on near-random vectors
    * (real embedding corpora cluster, which moves the dial toward FAISS's
    * typical 1–8% scanned; the fixture's randomness is the worst case).
    */
  val MultiNList = 16
  val MultiNProbe = 8

  /** Lloyd refinement passes over the stride seeds (round-6 upgrade). Two
    * iterations move the mid-dial most (nprobe=4 recall 0.52 → 0.60 at
    * sf0.1, docs/ANN_RECALL.md); the nprobe=8 point is already at the
    * fixture's ceiling (~0.79; best-of-5 restarts with Lloyd-5 top out at
    * 0.835 — random 64-dim vectors have no cluster structure to find).
    * The passes are [[Ivf.train]]'s fixed-point Lloyd, which the oracle
    * unrolls in [[Ivf.trainSql]].
    */
  val LloydIters = 2

  /** The multi-probe candidate pairs every query here scores: each probe
    * (query_id, qv, …) is routed to its `nProbe` nearest of `nlist` cells —
    * [[Ivf.train]] with [[LloydIters]] passes — and joined to those cells'
    * inverted lists, the probe itself excluded. One row per (probe,
    * neighbor): the probe's columns, the cell's routing rank `prn`, the
    * neighbor as `neighbor_id`, `nv` plus `e`'s other columns, and the
    * micro-cosine `s` the queries rank by. The routing
    * table is probes × nProbe rows behind a window the planner can't size,
    * so it is broadcast explicitly.
    */
  private def candidates(spark: SparkSession, e: DataFrame, probes: DataFrame,
      nlist: Int, nProbe: Int): DataFrame = {
    import spark.implicits._
    val coarse = Ivf.train(spark, e, nlist, LloydIters)
    val lists = Ivf.assign(spark, e, coarse).join(e, "vec_id")
      .withColumnRenamed("vec_id", "neighbor_id").withColumnRenamed("v", "nv")
    broadcast(Ivf.route(spark, probes, coarse, nProbe)).join(lists, "cid")
      .filter($"neighbor_id" =!= $"query_id")
      .withColumn("s", Similarity.microSim(spark, $"qv", $"nv"))
  }

  /** [[candidates]]' twin for the probes vec_id < [[Similarity.RecallProbes]]:
    * CTEs `e` (vec_id, label, v), the [[Ivf.trainSql]] index `cent`, its
    * lists `cass`, the probes `p` (query_id, qv, qlabel), their routing
    * `pcell` and the scored pairs `cs` (query_id, qlabel, prn, neighbor_id,
    * label, s).
    */
  private def candidatesSql(nProbe: Int): String =
    s"""WITH ${Similarity.vecsSql("label")},
       |${Ivf.trainSql("cent", MultiNList, LloydIters)},
       |${Ivf.assignSql("cass", "cent")},
       |p AS (SELECT vec_id AS query_id, v AS qv, label AS qlabel FROM e
       |      WHERE vec_id < ${Similarity.RecallProbes}),
       |${Ivf.routeSql("pcell", "p", "cent", nProbe)},
       |cs AS (
       | SELECT p.query_id, p.qlabel, pc.prn, c.vec_id AS neighbor_id, c.label,
       |  ${Similarity.microSimSql("p.qv", "c.v")} AS s
       | FROM p
       | JOIN pcell pc ON pc.query_id = p.query_id
       | JOIN cass ca ON ca.cid = pc.cid AND ca.vec_id != p.query_id
       | JOIN e c ON c.vec_id = ca.vec_id)""".stripMargin

  /** x_ann_recall_multi — recall@[[Similarity.RecallK]] of the multi-probe
    * IVF route vs exact brute force, per probe: (query_id, n_true, n_cand,
    * n_approx, n_overlap, recall).
    */
  def annRecallMulti(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddings(spark, dir)
      .select($"vec_id", Similarity.asDouble($"embedding").as("v"))

    val probes = broadcast(e.filter($"vec_id" < Similarity.RecallProbes)
      .select($"vec_id".as("query_id"), $"v".as("qv")))
    val truth = Similarity.recallTruth(spark, probes, e)
    // approximate: score only the probed cells' candidates
    val scored = candidates(spark, e, probes, MultiNList, MultiNProbe)
      .select($"query_id", $"neighbor_id", $"s")
      .ckptDisk() // referenced twice (top-k + n_cand): one scan, not two
    val approx = Similarity.topNeighbors(scored, Similarity.RecallK)
      .select($"query_id", $"neighbor_id")

    val tc = truth.groupBy($"query_id").agg(count(lit(1)).as("n_true"))
    val cc = scored.groupBy($"query_id").agg(count(lit(1)).as("n_cand"))
    val ac = approx.groupBy($"query_id").agg(count(lit(1)).as("n_approx"))
    // ≤ probes·k rows each, but behind aggregates the planner can't size —
    // broadcast explicitly or the overlap join plans as a sort-merge
    val ov = truth.join(broadcast(approx), Seq("query_id", "neighbor_id"))
      .groupBy($"query_id").agg(count(lit(1)).as("n_overlap"))
    tc.join(broadcast(cc), Seq("query_id"), "left")
      .join(broadcast(ac), Seq("query_id"), "left")
      .join(broadcast(ov), Seq("query_id"), "left")
      .select($"query_id", $"n_true",
        coalesce($"n_cand", lit(0L)).as("n_cand"),
        coalesce($"n_approx", lit(0L)).as("n_approx"),
        coalesce($"n_overlap", lit(0L)).as("n_overlap"))
      .withColumn("recall", $"n_overlap".cast("double") / $"n_true".cast("double"))
      .orderBy($"query_id")
  }

  val annRecallMultiSql: String =
    s"""${candidatesSql(MultiNProbe)},
       |${Similarity.recallTruthSql},
       |approx AS (SELECT query_id, neighbor_id FROM (${Similarity.topNeighborsSql("cs", Similarity.RecallK)})),
       |tc AS (SELECT query_id, count(*) AS n_true FROM truth GROUP BY 1),
       |cc AS (SELECT query_id, count(*) AS n_cand FROM cs GROUP BY 1),
       |ac AS (SELECT query_id, count(*) AS n_approx FROM approx GROUP BY 1),
       |ov AS (
       | SELECT t.query_id, count(*) AS n_overlap
       | FROM truth t JOIN approx a
       |  ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
       | GROUP BY 1)
       |SELECT tc.query_id, tc.n_true,
       | COALESCE(cc.n_cand, 0) AS n_cand,
       | COALESCE(ac.n_approx, 0) AS n_approx,
       | COALESCE(ov.n_overlap, 0) AS n_overlap,
       | CAST(COALESCE(ov.n_overlap, 0) AS DOUBLE) / CAST(tc.n_true AS DOUBLE) AS recall
       |FROM tc
       |LEFT JOIN cc ON cc.query_id = tc.query_id
       |LEFT JOIN ac ON ac.query_id = tc.query_id
       |LEFT JOIN ov ON ov.query_id = tc.query_id
       |ORDER BY tc.query_id""".stripMargin

  /** x_ann_multiprobe_topk — the multi-probe route as a first-class SEARCH
    * query, not just its eval: per probe vector, the top-[[Similarity.RecallK]]
    * candidates from the [[MultiNProbe]] nearest coarse cells, ranked by
    * exact integer micro-cosine. Complements x_ivf_topk (whose oracle
    * leg is exhaustive-probe = brute force): here the APPROXIMATE route
    * itself is oracle-gated, because stride-seeded centroids + 6 dp
    * routing are DuckDB-expressible — the hash gate pins cell assignment,
    * routing, and ranking end to end at nprobe < nlist.
    */
  def multiprobeTopK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddings(spark, dir)
      .select($"vec_id", Similarity.asDouble($"embedding").as("v"))
    searchOver(spark, e,
      e.filter($"vec_id" < Similarity.RecallProbes)
        .select($"vec_id".as("query_id"), $"v".as("qv")),
      MultiNList, MultiNProbe, Similarity.RecallK)
  }

  /** The multi-probe search over any (vec_id, v) corpus and (query_id, qv)
    * probe frame — the seam the scale-stress scenario drives 200k-vector
    * synthetic corpora through (nlist ≈ √N there; the declared query pins
    * the fixture constants).
    */
  def searchOver(spark: SparkSession, e: DataFrame, probesDf: DataFrame,
      nlist: Int, nProbe: Int, topK: Int): DataFrame = {
    import spark.implicits._
    Similarity.topNeighbors(candidates(spark, e, broadcast(probesDf), nlist, nProbe), topK)
      .withColumnRenamed("s", "micro_sim")
      .orderBy($"query_id", $"rnk")
  }

  /** The top-k searches' oracle: per probe, the [[Similarity.RecallK]]
    * pairs of `from` over [[candidatesSql]] at `nProbe` with the highest
    * micro-cosine — (query_id, neighbor_id, rnk, micro_sim).
    */
  private def topKSql(nProbe: Int, from: String): String =
    s"""${candidatesSql(nProbe)}
       |SELECT query_id, neighbor_id, rk AS rnk, s AS micro_sim
       |FROM (${Similarity.topNeighborsSql(from, Similarity.RecallK)})
       |ORDER BY query_id, rnk""".stripMargin

  val multiprobeTopKSql: String = topKSql(MultiNProbe, "cs")

  /** Probe depth for the FILTERED search: the label predicate keeps ~1/10
    * of each cell's list, so the filtered route probes every cell — the
    * classic filtered-ANN trade (Milvus/FAISS "filtered search"): as the
    * filter gets more selective, per-cell candidate yield drops and nprobe
    * must rise to keep top-k full; at 10% selectivity × 16 cells, probing
    * all 16 still scans only ~10% of the corpus.
    */
  val FilteredNProbe = 16

  /** x_ann_filtered_topk — METADATA-FILTERED vector search: per probe, the
    * top-[[Similarity.RecallK]] same-label neighbors from its
    * [[FilteredNProbe]] nearest coarse cells. The constrained-search shape
    * every production vector store exposes ("nearest within this tenant /
    * class / date range"), absent from the plain top-k queries. The label
    * predicate is applied to the INVERTED LISTS before scoring
    * (post-routing pre-scoring — the IVF sweet spot: routing stays
    * label-blind so one index serves every filter, but no excluded vector
    * is ever scored), and it rides the candidate equi-join, not a
    * post-hoc filter on scored output — at 100 TB that is the difference
    * between scoring 10× too many candidates and scoring exactly the
    * matching ones. Queries whose label is rare may return fewer than k
    * rows; both engines agree, and that honesty is part of the contract.
    */
  def filteredTopK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // label rides the inverted-list rows — the filter column lives beside
    // the vectors, so filtered candidate generation is one equi-join
    val e = Tables.embeddings(spark, dir).select($"vec_id",
      Similarity.asDouble($"embedding").as("v"), $"label")
    val probes = broadcast(e.filter($"vec_id" < Similarity.RecallProbes)
      .select($"vec_id".as("query_id"), $"v".as("qv"), $"label".as("qlabel")))
    // the label equality joins beside the cell id (the optimizer pushes it
    // into the candidate join's keys)
    Similarity.topNeighbors(
        candidates(spark, e, probes, MultiNList, FilteredNProbe)
          .filter($"qlabel" === $"label"), Similarity.RecallK)
      .withColumnRenamed("s", "micro_sim")
      .orderBy($"query_id", $"rnk")
  }

  val filteredTopKSql: String = topKSql(FilteredNProbe, "cs WHERE label = qlabel")

  /** The nprobe operating points the curve sweeps. */
  val CurveProbes: Seq[Int] = Seq(1, 2, 4, 8)

  /** x_ann_nprobe_curve — the recall-vs-scanned-fraction DIAL as one query:
    * mean recall@10 and mean candidate count at nprobe ∈ [[CurveProbes]].
    * The tuning table an ANN deployment reads before picking its operating
    * point — and it costs ONE candidate scan, not four: every candidate
    * (query, neighbor) pair belongs to exactly one coarse cell, so it
    * carries the cell's routing rank `prn`; recall at nprobe = p is just
    * the same scored frame filtered to prn ≤ p. The scored frame is
    * localCheckpointed and the four operating points are a bounded
    * explode over it — no re-route, no re-scan, no re-score.
    */
  def annNprobeCurve(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    GraftFunctions.register(spark)
    val e = Tables.embeddings(spark, dir)
      .select($"vec_id", Similarity.asDouble($"embedding").as("v"))

    val probes = broadcast(e.filter($"vec_id" < Similarity.RecallProbes)
      .select($"vec_id".as("query_id"), $"v".as("qv")))
    // one scored frame, routed to the deepest operating point, prn attached
    // (each neighbor sits in exactly one cell)
    val scored = candidates(spark, e, probes, MultiNList, CurveProbes.max)
      .select($"query_id", $"prn", $"neighbor_id", $"s")
      .ckptDisk()
    val truth = Similarity.recallTruth(spark, probes, e)

    val points = CurveProbes.toDF("nprobe")
    val approx = broadcast(points).join(scored, $"prn" <= $"nprobe")
      .groupBy($"nprobe", $"query_id")
      .agg(call_function("top_k_rows", $"s", $"neighbor_id",
        lit(Similarity.RecallK)).as("top"),
        count(lit(1)).as("n_cand"))
      .ckptDisk() // referenced twice (overlap + base): one computation
    val overlap = approx
      .select($"nprobe", $"query_id", explode($"top").as("x"))
      .select($"nprobe", $"query_id", $"x.tag".as("neighbor_id"))
      .join(broadcast(truth), Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy($"nprobe", $"query_id")
      .agg(count(lit(1)).as("n_overlap"))
    // LEFT join: a query whose top-k misses the truth entirely still counts
    // in the mean with overlap 0 — dropping it would inflate recall.
    approx.select($"nprobe", $"query_id", $"n_cand")
      .join(broadcast(overlap), Seq("nprobe", "query_id"), "left")
      .groupBy($"nprobe")
      .agg(count(lit(1)).as("n_queries"),
        sum(coalesce($"n_overlap", lit(0L))).as("total_overlap"),
        sum($"n_cand").as("total_cand"))
      .withColumn("mean_recall", $"total_overlap".cast("double") /
        (lit(Similarity.RecallK) * $"n_queries").cast("double"))
      .orderBy($"nprobe")
  }

  val annNprobeCurveSql: String =
    s"""${candidatesSql(CurveProbes.max)},
       |${Similarity.recallTruthSql},
       |pts AS (SELECT unnest([${CurveProbes.mkString(", ")}]) AS nprobe),
       |cand AS (
       | SELECT pts.nprobe, sc.query_id, sc.neighbor_id, sc.s
       | FROM pts JOIN cs sc ON sc.prn <= pts.nprobe),
       |ccount AS (
       | SELECT nprobe, query_id, count(*) AS n_cand
       | FROM cand GROUP BY 1, 2),
       |approx AS (
       | SELECT nprobe, query_id, neighbor_id
       | FROM (${Similarity.topNeighborsSql("cand", Similarity.RecallK, "nprobe, query_id")})),
       |hits AS (
       | SELECT a.nprobe, a.query_id, count(*) AS n_overlap
       | FROM approx a JOIN truth t
       |  ON t.query_id = a.query_id AND t.neighbor_id = a.neighbor_id
       | GROUP BY 1, 2)
       |SELECT cc.nprobe, count(*) AS n_queries,
       | CAST(sum(coalesce(h.n_overlap, 0)) AS BIGINT) AS total_overlap,
       | CAST(sum(cc.n_cand) AS BIGINT) AS total_cand,
       | CAST(sum(coalesce(h.n_overlap, 0)) AS DOUBLE)
       |  / (${Similarity.RecallK} * count(*)) AS mean_recall
       |FROM ccount cc
       |LEFT JOIN hits h ON h.nprobe = cc.nprobe AND h.query_id = cc.query_id
       |GROUP BY cc.nprobe
       |ORDER BY cc.nprobe""".stripMargin

  val declared: Seq[Declared] = Seq(
    Declared("x_ann_recall_multi", annRecallMulti, Some(annRecallMultiSql)),
    Declared("x_ann_multiprobe_topk", multiprobeTopK, Some(multiprobeTopKSql)),
    Declared("x_ann_filtered_topk", filteredTopK, Some(filteredTopKSql)),
    Declared("x_ann_nprobe_curve", annNprobeCurve, Some(annNprobeCurveSql)))
}
