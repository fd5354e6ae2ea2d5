package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Declared
import graft.io.Tables
import graft.util.Det

/** Time-weighted averaging over the event step function — the TWAP/TWA
  * operator of finance and IoT telemetry: each observation holds until
  * the user's next one, so the average weights each value by its holding
  * duration, not its sample count (a sensor that reports once an hour
  * and once a millisecond must agree).
  *
  * Exactness: value → integer cents, holding time → whole seconds
  * (integer µs difference div 10⁶ — the declared resolution), so the
  * weighted sum is exact long arithmetic with documented headroom
  * (cents ≤ 10⁶ × dur_s ≤ 10⁸ per interval ≪ 2⁶³; ANSI mode keeps any
  * breach loud). The terminal observation has no successor and carries
  * zero weight; users whose observed span rounds below one second are
  * excluded by the `dur_s > 0` gate on BOTH engines, so no divide-by-zero
  * path exists anywhere.
  *
  * At 100 TB: one user_id window (lead) on the sessionization
  * partitioning + one aggregate on the same key — the second shuffle
  * collapses because the aggregate's distribution is already satisfied.
  */
object Twap {

  /** x_twap — per-user time-weighted average value in cents. */
  def twap(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val byUser = Window.partitionBy($"user_id").orderBy($"tus".asc, $"event_id".asc)
    Tables.events(spark, dir)
      .filter($"value".isNotNull)
      .select($"event_id", $"user_id", Det.cents($"value").as("cents"),
        unix_micros($"ts".cast("timestamp")).as("tus"))
      .withColumn("dt_s",
        expr("(lead(tus, 1) OVER (PARTITION BY user_id ORDER BY tus, event_id) - tus) div 1000000"))
      .filter($"dt_s".isNotNull)
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_intervals"),
        sum($"dt_s").as("dur_s"),
        sum($"cents" * $"dt_s").as("wsum"))
      .filter($"dur_s" > 0)
      .select($"user_id", $"n_intervals", $"dur_s",
        expr("wsum div dur_s").as("twap_cents"))
      .orderBy($"user_id")
  }

  val twapSql: String =
    """WITH e AS (
      | SELECT event_id, user_id,
      |  CAST(round(value * 100) AS BIGINT) AS cents, epoch_us(ts) AS tus
      | FROM events WHERE value IS NOT NULL),
      |iv AS (
      | SELECT user_id, cents,
      |  (lead(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id) - tus)
      |    // 1000000 AS dt_s
      | FROM e),
      |agg AS (
      | SELECT user_id, count(*) AS n_intervals,
      |  CAST(sum(dt_s) AS BIGINT) AS dur_s,
      |  CAST(sum(cents * dt_s) AS BIGINT) AS wsum
      | FROM iv WHERE dt_s IS NOT NULL GROUP BY 1)
      |SELECT user_id, n_intervals, dur_s, wsum // dur_s AS twap_cents
      |FROM agg WHERE dur_s > 0
      |ORDER BY user_id""".stripMargin

  val declared: Seq[Declared] = Seq(
    Declared("x_twap", twap, Some(twapSql)))
}
