package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Declared
import graft.io.Tables

/** Per-dimension embedding QA — the health check that runs BEFORE any ANN
  * index build or semantic dedup: a dead dimension (zero variance), a
  * mis-scaled one (mean far off its siblings), or a clipped one (min/max
  * at a saturation bound) silently poisons every cosine downstream, and
  * none of them are visible in query-level recall numbers until much
  * later.
  *
  * Fixed-point contract: every statistic is integer micro-units —
  * `q = floor(x · 10⁶)` per element (float→double cast first, so the
  * product is IEEE-exact and `floor` agrees bit-for-bit on both engines;
  * `round` would hang the gate on half-way ties, which the two engines
  * break differently for negatives). Means are integer floor-divisions;
  * `rms2_micro` is the mean of squares (`Σq²/n`, q² ≤ 10¹² so the sum
  * fits int64 to ~9 M vectors per dimension — loud decimal widening
  * needed beyond, as with the other micro-unit aggregates). Variance is
  * `rms2 − mean²` up to flooring — derivable by the reader, deliberately
  * not a column (two floored terms subtract to a misleading near-zero on
  * tight dimensions).
  *
  * Scale shape: one scan, one explode (64 rows per vector), one 64-group
  * aggregate with map-side partials — the cheapest possible full-corpus
  * pass, same family as the Gopher rule stack.
  */
object EmbedStats {

  /** x_embed_dim_stats — per dimension: vector count, micro-unit mean,
    * min, max, and mean square. 64 rows, ordered by dimension.
    */
  def embedDimStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val q = Tables.embeddings(spark, dir)
      .select(posexplode(Similarity.asDouble($"embedding")))
      .select($"pos".cast("long").as("dim"),
        floor($"col" * lit(1000000.0)).cast("long").as("q"))
    q.groupBy($"dim")
      .agg(count(lit(1)).as("n_vecs"),
        expr("sum(q) div count(1)").as("mean_micro"),
        min($"q").as("min_micro"),
        max($"q").as("max_micro"),
        expr("sum(q * q) div count(1)").as("rms2_micro"))
      .orderBy($"dim")
  }

  val embedDimStatsSql: String =
    """WITH q AS (
      | SELECT CAST(r.i AS BIGINT) AS dim,
      |  CAST(floor(CAST(embedding[CAST(r.i + 1 AS INT)] AS DOUBLE)
      |             * 1000000) AS BIGINT) AS q
      | FROM embeddings, range(64) r(i))
      |SELECT dim, count(*) AS n_vecs,
      | CAST(sum(q) // count(*) AS BIGINT) AS mean_micro,
      | min(q) AS min_micro,
      | max(q) AS max_micro,
      | CAST(sum(q * q) // count(*) AS BIGINT) AS rms2_micro
      |FROM q
      |GROUP BY dim
      |ORDER BY dim""".stripMargin

  val declared: Seq[Declared] = Seq(
    Declared("x_embed_dim_stats", embedDimStats, Some(embedDimStatsSql)))
}
