package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Declared
import graft.io.Tables

/** Product quantization — the memory side of billion-scale ANN (Jégou et
  * al., "Product Quantization for Nearest Neighbor Search", TPAMI 2011):
  * split each vector into [[M]] subvectors, quantize each against its own
  * [[K]]-entry sub-codebook, and a 64-dim float vector (256 bytes) becomes
  * [[M]] small codes (4 bytes) — the compressed representation an IVF-PQ
  * index stores and scans. This module implements the ASSIGNMENT pass
  * (vector → PQ code + reconstruction error); [[Ivf]] owns the coarse
  * index and the stride seeds.
  *
  * Deterministic end to end: sub-codebooks are slices of [[Ivf.seeds]]
  * with no Lloyd pass, and every distance is rounded to 6 dp BEFORE the
  * argmin, ties broken by lowest code, so both engines assign identically.
  * The reconstruction error sums M=4 rounded doubles in FIXED projection
  * order (never an aggregation order).
  *
  * Scale notes: the codebook is M·K rows — broadcast; assignment is ONE
  * map-side pass over the vectors (cross join against the broadcast, argmin
  * as a map-side-combined hash aggregate — never a window over N·M·K scored
  * rows, [[Ivf.assign]]'s measured trap), then a second tiny aggregate
  * pivots the M codes onto one row per vector. Nothing but (vec_id, m, cid,
  * dist) ever shuffles.
  */
object Pq {

  /** Subspaces × sub-dimension must equal the fixture embedding dim (64). */
  val M = 4
  val SubDim = 16

  /** Codes per sub-codebook (production: 256 for byte codes). */
  val K = 8

  /** Stride-seeded sub-codebooks over any (vec_id, v) frame: (m, cid, c) —
    * M·K rows, broadcastable. Shared with [[IvfPq]] so the PQ codes an
    * IVF-PQ index scans are EXACTLY the ones x_pq_assign declares.
    * `rows` is [[Ivf.seeds]]'s: the row count of `e`, when known.
    */
  def subCodebook(spark: SparkSession, e: DataFrame, rows: Option[Long] = None): DataFrame = {
    import spark.implicits._
    broadcast(
      Ivf.seeds(spark, e, K, rows).zipWithIndex.flatMap { case (v, i) =>
        (0 until M).map(m => (m.toLong, i.toLong, v.slice(m * SubDim, (m + 1) * SubDim)))
      }.toSeq.toDF("m", "cid", "c"))
  }

  /** Per-(vector, subspace) argmin code: (vec_id, m, cid, dist), dist
    * 6 dp-rounded BEFORE the argmin (the oracle-determinism pivot).
    * `cb` lets a caller that already built the codebook (IvfPq shares it
    * with the ADC LUT) reuse it — each subCodebook build is a count + a
    * seed collect, two driver round-trips worth saving in a probe path.
    */
  def bestCodes(spark: SparkSession, e: DataFrame,
      cb: Option[DataFrame] = None): DataFrame = {
    import spark.implicits._
    val scored = e.crossJoin(cb.getOrElse(subCodebook(spark, e)))
      .withColumn("sub", expr(s"slice(v, CAST(m * $SubDim + 1 AS INT), $SubDim)"))
      .withColumn("dist", expr(
        "round(aggregate(zip_with(sub, c, (x, y) -> (x - y) * (x - y)), 0D, (acc, x) -> acc + x), 6)"))
    scored
      .groupBy($"vec_id", $"m")
      .agg(min(struct($"dist", $"cid")).as("b"))
      .select($"vec_id", $"m", $"b.cid".as("cid"), $"b.dist".as("dist"))
  }

  /** (vec_id, c0..c3): the packed PQ code row per vector. */
  def codesOver(spark: SparkSession, e: DataFrame,
      cb: Option[DataFrame] = None): DataFrame = {
    import spark.implicits._
    bestCodes(spark, e, cb).groupBy($"vec_id")
      .agg(
        max(when($"m" === 0, $"cid")).as("c0"),
        max(when($"m" === 1, $"cid")).as("c1"),
        max(when($"m" === 2, $"cid")).as("c2"),
        max(when($"m" === 3, $"cid")).as("c3"))
  }

  /** x_pq_assign — (vec_id, c0..c3, err): each vector's PQ code under the
    * stride-seeded sub-codebooks and its total squared reconstruction
    * error against the chosen centroids' subvectors.
    */
  def pqAssign(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddings(spark, dir)
      .select($"vec_id", Similarity.asDouble($"embedding").as("v"))
    bestCodes(spark, e).groupBy($"vec_id")
      .agg(
        max(when($"m" === 0, $"cid")).as("c0"),
        max(when($"m" === 1, $"cid")).as("c1"),
        max(when($"m" === 2, $"cid")).as("c2"),
        max(when($"m" === 3, $"cid")).as("c3"),
        max(when($"m" === 0, $"dist")).as("d0"),
        max(when($"m" === 1, $"dist")).as("d1"),
        max(when($"m" === 2, $"dist")).as("d2"),
        max(when($"m" === 3, $"dist")).as("d3"))
      .select($"vec_id", $"c0", $"c1", $"c2", $"c3",
        ($"d0" + $"d1" + $"d2" + $"d3").as("err"))
      .orderBy($"vec_id")
  }

  /** [[subCodebook]]'s twin: CTE `cb` (m, cid, c) over the vector CTE `e`,
    * after its [[Ivf.seedsSql]] CTE `cbseeds`.
    */
  private[llm] def codebookSql: String =
    s"""${Ivf.seedsSql("cbseeds", K)},
       |cb AS (
       | SELECT m, cid, v[CAST(m * $SubDim + 1 AS BIGINT):CAST((m + 1) * $SubDim AS BIGINT)] AS c
       | FROM cbseeds, (SELECT unnest(range($M)) AS m))""".stripMargin

  /** The 6 dp-rounded squared distance of subspace `cb.m` of the DOUBLE[]
    * expression `v` to code vector `cb.c`: [[bestCodes]]' `dist`.
    */
  private[llm] def subDistSql(v: String): String =
    s"""round(list_sum(list_transform(
       |    list_zip($v[CAST(cb.m * $SubDim + 1 AS BIGINT):CAST((cb.m + 1) * $SubDim AS BIGINT)], cb.c),
       |    z -> (z[1] - z[2]) * (z[1] - z[2]))), 6)""".stripMargin

  val pqAssignSql: String =
    s"""WITH ${Similarity.vecsSql()},
       |$codebookSql,
       |scored AS (
       | SELECT e.vec_id, cb.m, cb.cid, ${subDistSql("e.v")} AS dist
       | FROM e, cb),
       |best AS (
       | SELECT vec_id, m, cid, dist,
       |  row_number() OVER (PARTITION BY vec_id, m ORDER BY dist, cid) AS rk
       | FROM scored)
       |SELECT vec_id,
       | max(CASE WHEN m = 0 THEN cid END) AS c0,
       | max(CASE WHEN m = 1 THEN cid END) AS c1,
       | max(CASE WHEN m = 2 THEN cid END) AS c2,
       | max(CASE WHEN m = 3 THEN cid END) AS c3,
       | max(CASE WHEN m = 0 THEN dist END) + max(CASE WHEN m = 1 THEN dist END)
       |  + max(CASE WHEN m = 2 THEN dist END) + max(CASE WHEN m = 3 THEN dist END) AS err
       |FROM best WHERE rk = 1
       |GROUP BY vec_id
       |ORDER BY vec_id""".stripMargin

  val declared: Seq[Declared] = Seq(
    Declared("x_pq_assign", pqAssign, Some(pqAssignSql)))
}
