package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Declared
import graft.io.Tables

/** Robust anomaly detection over the event stream: per-type median /
  * MAD (median absolute deviation) outlier counts — the outlier rule that
  * survives heavy tails, unlike mean±3σ which a single bot event drags
  * (§2.3 event-analytics contract; the DQ `value_range` check is the
  * static-threshold cousin, this one derives its threshold from the data).
  *
  * Determinism: both engines interpolate the even-count median as
  * `lower + (upper - lower) * 0.5` (Spark `percentile`, DuckDB
  * `quantile_cont`) over the same doubles, so med/MAD/the `dev > 3·mad`
  * comparison are bit-identical — no integer scaling needed. NULL values
  * are filtered explicitly up front so both engines see the same rows.
  *
  * Scale: exact per-group medians sort within each event_type group —
  * acceptable while the group count is bounded and per-group cardinality
  * fits a task's spill budget; at a 100 TB event table swap the exact
  * percentile for `approx_percentile` (t-digest partial+merge, no
  * per-group sort) and keep the same two-pass shape. The second pass
  * (deviations) re-shuffles on the same key, and the final flag count is
  * a partial+final aggregate. The declared form keeps EXACT as the
  * contract because the oracle can state it; [[Sketch]] owns the
  * approximate tier.
  */
object Anomaly {

  /** x_anomaly_mad — per event_type: n, median, MAD, anomaly count. */
  def anomalyMad(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.events(spark, dir)
      .filter($"value".isNotNull)
      .select($"event_type", $"value")
    val med = e.groupBy($"event_type")
      .agg(expr("percentile(value, 0.5)").as("med"))
    val dev = e.join(broadcast(med), "event_type")
      .withColumn("dev", abs($"value" - $"med"))
    val mad = dev.groupBy($"event_type")
      .agg(expr("percentile(dev, 0.5)").as("mad"))
    dev.join(broadcast(mad), "event_type")
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"),
        first($"med").as("med"),
        first($"mad").as("mad"),
        sum(when($"dev" > lit(3.0) * $"mad", 1L).otherwise(0L)).as("n_anom"))
      .orderBy($"event_type")
  }

  val anomalyMadSql: String =
    """WITH e AS (
      | SELECT event_type, value FROM events WHERE value IS NOT NULL),
      |med AS (
      | SELECT event_type, quantile_cont(value, 0.5) AS med
      | FROM e GROUP BY 1),
      |dev AS (
      | SELECT e.event_type, e.value, med.med,
      |  abs(e.value - med.med) AS dev
      | FROM e JOIN med ON e.event_type = med.event_type),
      |mad AS (
      | SELECT event_type, quantile_cont(dev, 0.5) AS mad
      | FROM dev GROUP BY 1)
      |SELECT dev.event_type, count(*) AS n_events,
      | any_value(dev.med) AS med, any_value(mad.mad) AS mad,
      | CAST(sum(CASE WHEN dev.dev > 3.0 * mad.mad THEN 1 ELSE 0 END) AS BIGINT)
      |   AS n_anom
      |FROM dev JOIN mad ON dev.event_type = mad.event_type
      |GROUP BY dev.event_type
      |ORDER BY dev.event_type""".stripMargin

  val declared: Seq[Declared] = Seq(
    Declared("x_anomaly_mad", anomalyMad, Some(anomalyMadSql)))
}
