package graft.llm

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Declared
import graft.io.Tables
import graft.util.Ckpt._

/** IVF-PQ — the billion-scale ANN architecture (Jégou et al. 2011, the
  * layout behind FAISS's workhorse index): the [[Ivf]] coarse
  * quantizer routes each query to a few inverted lists, and candidates
  * inside them are scored WITHOUT touching their original vectors — each
  * candidate is [[Pq.M]] small codes, and the query precomputes an ADC
  * (asymmetric-distance) LOOKUP TABLE of per-subspace distances to every
  * sub-centroid, so scoring a candidate is M table lookups + an add. At
  * 100 TB this is the difference between scanning 256-byte vectors and
  * scanning 4-byte codes with a broadcast LUT.
  *
  * Deterministic end to end: the coarse quantizer is [[Ivf]]'s with no
  * Lloyd pass, the PQ codes are the DECLARED x_pq_assign codes
  * ([[Pq.subCodebook]], so index and query agree with the standalone
  * assignment query by construction), every cosine and every LUT cell is
  * 6 dp-rounded before any argmax/argmin, and the final ranking key is the
  * exact integer micro-ADC.
  *
  * Scale notes: coarse centroids (16 rows), the PQ codebook (M·K rows) and
  * the per-query LUT (probes × M·K rows) all broadcast; candidate
  * generation is an equi-join on the coarse cell id; the 4 LUT attachments
  * are broadcast joins; nothing but (cell, neighbor, 4 codes) ever
  * shuffles. The final top-k window partitions by query id.
  */
object IvfPq {

  /** Coarse cells; nlist ≈ √N at production scale (see Semantic). */
  val CoarseNList = 16
  val NProbe = 4
  val Probes = 10L
  val TopK = 10

  /** x_ivfpq_topk — (query_id, neighbor_id, rnk, adc): per probe vector,
    * the [[TopK]] candidates from the [[NProbe]] nearest coarse cells with
    * the smallest PQ-approximated squared distance.
    */
  def ivfpqTopK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddings(spark, dir)
      .select($"vec_id", Similarity.asDouble($"embedding").as("v"))
    searchOver(spark, e, e.filter($"vec_id" < Probes)
        .select($"vec_id".as("query_id"), $"v".as("qv")),
      CoarseNList, NProbe, TopK)
  }

  /** The full IVF-PQ pipeline over any (vec_id, v) corpus and
    * (query_id, qv) probe frame — the seam the scale-stress scenario
    * drives synthetic corpora through (nlist ≈ √N there; the declared
    * query pins the fixture constants).
    */
  def searchOver(spark: SparkSession, e: DataFrame, probes: DataFrame,
      nlist: Int, nProbe: Int, topK: Int): DataFrame = {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)

    // ONE explicit vec_id exchange, materialized. Every index-build
    // aggregate downstream (coarse argmax, per-subspace argmin, code
    // pivot) clusters on vec_id — HashPartitioning(vec_id) satisfies them
    // all, so they run partition-local, and the cass ⋈ codes join below is
    // zero-exchange. Without this, cass and codesOver each shuffled their
    // own aggregates and the join (two frames behind aggregates — no size
    // estimates, BENCH_NOTES #25) fell back to a SortMergeJoin over the
    // whole index: 6 exchanges where the index build needs 1.
    // Materialized: both seed collects and both index aggregates sit on
    // ep — without the checkpoint each action re-executes the scan +
    // exchange (measured 3.6 s vs 2.0 s at sf0.1). The row count both seed
    // strides need is observed on the checkpoint's own job, not counted
    // once per seeding.
    val counted = Observation()
    val ep = e.observe(counted, count(lit(1)).as("n"))
      .repartition(spark.sparkContext.defaultParallelism, $"vec_id")
      .ckptDisk()
    val rows = Some(counted.get("n").asInstanceOf[Long])

    // coarse quantizer: stride seeds, no Lloyd pass (the oracle seeds
    // without one); cell assignment is partition-local on ep
    val coarse = Ivf.train(spark, ep, nlist, lloyd = 0, rows)

    // inverted lists carry ONLY the PQ codes — the point of the layout.
    // Both sides inherit ep's vec_id partitioning (aggregates were
    // partition-local), so this is exchange-free; the shuffle_hash hint
    // swaps the planner's sort-merge fallback for a no-sort hash join.
    // PQ sub-codebook built ONCE, shared by code assignment and the ADC
    // LUT below (each build is one seed collect).
    val subCb = Pq.subCodebook(spark, ep, rows)
    val lists = Ivf.assign(spark, ep, coarse).hint("shuffle_hash")
      .join(Pq.codesOver(spark, ep, Some(subCb)), Seq("vec_id"))
      .select($"cid", $"vec_id".as("neighbor_id"), $"c0", $"c1", $"c2", $"c3")

    val pcell = Ivf.route(spark, probes, coarse, nProbe).select($"query_id", $"cid")

    // ADC lookup table: per (query, subspace, code) squared distance
    val lut = probes.crossJoin(subCb)
      .withColumn("qsub",
        expr(s"slice(qv, CAST(m * ${Pq.SubDim} + 1 AS INT), ${Pq.SubDim})"))
      .withColumn("d", expr(
        "round(aggregate(zip_with(qsub, c, (x, y) -> (x - y) * (x - y)), 0D, (acc, x) -> acc + x), 6)"))
      .select($"query_id", $"m", $"cid", $"d")
    def lutM(m: Int, code: String, d: String) = broadcast(
      lut.filter($"m" === m)
        .select($"query_id", $"cid".as(code), $"d".as(d)))

    // pcell is probes×nProbe rows but sits behind a window, so the planner
    // has no size estimate — broadcast explicitly or it sort-merge-joins
    // the inverted lists (shuffling + sorting the whole index)
    val cand = broadcast(pcell).join(lists, Seq("cid"))
      .filter($"neighbor_id" =!= $"query_id")
      .join(lutM(0, "c0", "d0"), Seq("query_id", "c0"))
      .join(lutM(1, "c1", "d1"), Seq("query_id", "c1"))
      .join(lutM(2, "c2", "d2"), Seq("query_id", "c2"))
      .join(lutM(3, "c3", "d3"), Seq("query_id", "c3"))
      // fixed-order 4-term sum — deterministic IEEE, never an agg order
      .withColumn("adc", $"d0" + $"d1" + $"d2" + $"d3")
      .withColumn("adcs", round($"adc" * 1000000L).cast("long"))
    val wTop = Window.partitionBy($"query_id").orderBy($"adcs".asc, $"neighbor_id".asc)
    cand.withColumn("rnk", row_number().over(wTop))
      .filter($"rnk" <= topK)
      .select($"query_id", $"neighbor_id", $"rnk".cast("long").as("rnk"), $"adc")
      .orderBy($"query_id", $"rnk")
  }

  val ivfpqTopKSql: String =
    s"""WITH ${Similarity.vecsSql()},
       |codes AS (SELECT vec_id, c0, c1, c2, c3 FROM (${Pq.pqAssignSql})),
       |${Ivf.trainSql("cent", CoarseNList, lloyd = 0)},
       |${Ivf.assignSql("cass", "cent")},
       |probes AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < $Probes),
       |${Ivf.routeSql("pcell", "probes", "cent", NProbe)},
       |${Pq.codebookSql},
       |lut AS (
       | SELECT p.query_id, cb.m, cb.cid, ${Pq.subDistSql("p.qv")} AS d
       | FROM probes p, cb),
       |cand AS (
       | SELECT pc.query_id, ca.vec_id AS neighbor_id
       | FROM pcell pc JOIN cass ca ON ca.cid = pc.cid
       | WHERE ca.vec_id != pc.query_id),
       |scored AS (
       | SELECT c.query_id, c.neighbor_id,
       |  l0.d + l1.d + l2.d + l3.d AS adc
       | FROM cand c
       | JOIN codes k ON k.vec_id = c.neighbor_id
       | JOIN lut l0 ON l0.query_id = c.query_id AND l0.m = 0 AND l0.cid = k.c0
       | JOIN lut l1 ON l1.query_id = c.query_id AND l1.m = 1 AND l1.cid = k.c1
       | JOIN lut l2 ON l2.query_id = c.query_id AND l2.m = 2 AND l2.cid = k.c2
       | JOIN lut l3 ON l3.query_id = c.query_id AND l3.m = 3 AND l3.cid = k.c3),
       |ranked AS (
       | SELECT query_id, neighbor_id, adc,
       |  row_number() OVER (PARTITION BY query_id
       |   ORDER BY CAST(round(1000000 * adc) AS BIGINT), neighbor_id) AS rk
       | FROM scored)
       |SELECT query_id, neighbor_id, CAST(rk AS BIGINT) AS rnk, adc
       |FROM ranked WHERE rk <= $TopK
       |ORDER BY query_id, rnk""".stripMargin

  val declared: Seq[Declared] = Seq(
    Declared("x_ivfpq_topk", ivfpqTopK, Some(ivfpqTopKSql)))
}
