package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Declared
import graft.io.Tables
import graft.llm.Similarity.{asDouble, cosineSql, roundedCosine, vecsSql}

/** Semantic (embedding-space) deduplication — the SemDeDup recipe (Abbas et
  * al., "SemDeDup: Data-efficient learning at web-scale through semantic
  * deduplication", 2023): cluster the embedding space coarsely, then compare
  * pairs only WITHIN a cluster and drop every vector that has a lower-id
  * cluster-mate above the similarity bar (greedy keep-lowest, the same
  * keeper rule as the exact-dedup family). This removes semantically
  * redundant training samples that no lexical dedup (MinHash/SimHash
  * operate on surface text) can see.
  *
  * Deterministic end to end, so the DuckDB gate covers the FULL pipeline —
  * the clusters are [[Ivf]]'s cells over its stride seeds with no Lloyd
  * pass, and every cosine is rounded to 6 dp (with -0.0 canonicalized)
  * BEFORE both the argmax assignment and the threshold, so both engines
  * rank and cut identically.
  *
  * Scale notes: the centroid frame is nlist rows — broadcast; assignment is
  * ONE map-side pass with the argmax as a hash aggregate ([[Ivf.assign]]).
  * The pair join is an equi-join on cid, so candidate volume is
  * Σ cluster², the paper's own cost model — at 100 TB, scale nlist ∝ N to
  * keep clusters bounded (√N clusters of √N) and the shuffle carries only
  * (cid, id, vector). No corpus-wide window, no cross join past the
  * broadcast centroids.
  */
object Semantic {

  /** Cluster count — at the fixture SFs this gives clusters of ~30-300
    * vectors; production sizing is nlist ≈ √N (see scale notes).
    */
  val NList = 16

  /** Rounded-cosine duplicate bar (compared as `sim >= 0.35` on the 6 dp
    * rounding both engines share). CALIBRATION MATTERS: for random
    * d-dimensional vectors the null cosine distribution has σ ≈ 1/√d, so
    * τ must sit well above ~4σ or the greedy rule chains through noise
    * pairs and collapses the corpus (measured in the Stress `sem`
    * scenario: τ at 1.4σ marked 99.7% of a 200k synthetic corpus as
    * duplicates; the fixture's 64-dim embeddings put 0.35 at 2.8σ with a
    * ~0.2% pair rate — deliberate, so the declared query emits rows).
    */
  val Tau = 0.35

  /** x_semantic_dedup — the drop list: (loser_id, keeper_id, cid,
    * n_partners) for every vector with at least one lower-id cluster-mate
    * at sim ≥ τ; keeper is the LOWEST such mate, n_partners counts them.
    * Ordered by loser_id.
    */
  def semanticDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    semanticDedupOver(spark,
      Tables.embeddings(spark, dir)
        .select($"vec_id", asDouble($"embedding").as("v")))
  }

  /** Same pipeline over any (vec_id, v: array<double>) frame — the seam the
    * planted-duplicate spec and the Stress harness drive synthetic corpora
    * through. `nlist` is the coarse cluster count: the declared query pins
    * [[NList]]; at scale pass nlist ≈ √N so in-cluster pair volume stays
    * ~N (√N clusters × (√N)²/... per-cluster quadratic over √N members) —
    * exercised at 200k vectors by `graft.tools.Stress sem`.
    */
  def semanticDedupOver(spark: SparkSession, e: DataFrame,
      nlist: Int = NList, tau: Double = Tau): DataFrame = {
    import spark.implicits._
    // Stride seeds, no Lloyd pass (the oracle seeds without one); cid is
    // the rank of the seed's vec_id, pinned on both engines.
    val centroids = Ivf.train(spark, e, nlist, lloyd = 0)
    val assigned = Ivf.assign(spark, e, centroids).join(e, "vec_id")
    val a = assigned.select($"cid", $"vec_id".as("ka"), $"v".as("va"))
    val b = assigned.select($"cid", $"vec_id".as("kb"), $"v".as("vb"))
    a.join(b, Seq("cid"))
      .filter($"ka" < $"kb")
      .withColumn("sim", roundedCosine(spark, $"va", $"vb"))
      .filter($"sim" >= tau)
      .groupBy($"kb".as("loser_id"))
      .agg(first($"cid").as("cid"), min($"ka").as("keeper_id"),
        count(lit(1)).as("n_partners"))
      .select($"loser_id", $"keeper_id", $"cid", $"n_partners")
      .orderBy($"loser_id")
  }

  /** The oracle mirrors every stage: stride seeds by row count, argmax via
    * row_number on (sim DESC, cid), in-cluster pairs, greedy keep-lowest.
    */
  val semanticDedupSql: String =
    s"""WITH ${vecsSql()},
       |${Ivf.trainSql("seeds", NList, lloyd = 0)},
       |${Ivf.assignSql("asg", "seeds")},
       |m AS (SELECT a.vec_id, a.cid, e.v FROM asg a JOIN e ON e.vec_id = a.vec_id),
       |pairs AS (
       | SELECT a.cid, a.vec_id AS ka, b.vec_id AS kb, ${cosineSql("a.v", "b.v")} AS sim
       | FROM m a JOIN m b ON a.cid = b.cid AND a.vec_id < b.vec_id)
       |SELECT kb AS loser_id, min(ka) AS keeper_id,
       | CAST(min(cid) AS INTEGER) AS cid, count(*) AS n_partners
       |FROM pairs WHERE sim >= $Tau
       |GROUP BY kb
       |ORDER BY loser_id""".stripMargin

  val declared: Seq[Declared] = Seq(
    Declared("x_semantic_dedup", semanticDedup, Some(semanticDedupSql)))
}
