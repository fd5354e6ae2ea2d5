package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Declared
import graft.io.Tables

/** Forecast backtesting — the seasonal-naive baseline (predict this
  * week's event volume with last week's) scored by mean absolute error,
  * per event type. The point is not the model (it is deliberately the
  * floor every real forecaster must beat) but the BACKTEST operator: a
  * self-join of the weekly series against its own lag, scored in exact
  * integers — the shape any rolling-origin evaluation takes at scale.
  *
  * Weeks are integer epoch-microsecond divisions ([[Cohort.WeekMicros]],
  * same constant both engines). Only OBSERVED adjacent-week pairs score
  * (a week with zero events does not appear, so neither does its pair) —
  * declared semantics, stated in the oracle by the same inner join.
  * `mae_x1000 = Σ|err|·1000 div n` keeps libm out.
  *
  * At 100 TB: the weekly rollup collapses the corpus to |types|×|weeks|
  * rows; the lag self-join and scoring are dimension-sized. One fact
  * shuffle total.
  */
object Forecast {

  /** x_forecast_naive — per-type seasonal-naive backtest score. */
  def forecastNaive(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val wk = Tables.events(spark, dir)
      .select($"event_type",
        expr(s"unix_micros(cast(ts as timestamp)) div ${Cohort.WeekMicros}L").as("wk"))
      .groupBy($"event_type", $"wk")
      .agg(count(lit(1)).as("n"))
    val pred = wk.select($"event_type", ($"wk" + 1).as("wk"), $"n".as("n_pred"))
    wk.join(pred, Seq("event_type", "wk"))
      .withColumn("abs_err", abs($"n" - $"n_pred"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_weeks_scored"),
        sum($"abs_err").as("sum_abs_err"))
      .select($"event_type", $"n_weeks_scored", $"sum_abs_err",
        expr("sum_abs_err * 1000 div n_weeks_scored").as("mae_x1000"))
      .orderBy($"event_type")
  }

  val forecastNaiveSql: String =
    s"""WITH wk AS (
       | SELECT event_type, epoch_us(ts) // ${Cohort.WeekMicros} AS wk,
       |  count(*) AS n
       | FROM events GROUP BY 1, 2),
       |sc AS (
       | SELECT a.event_type, abs(a.n - b.n) AS abs_err
       | FROM wk a JOIN wk b
       |   ON a.event_type = b.event_type AND a.wk = b.wk + 1)
       |SELECT event_type, count(*) AS n_weeks_scored,
       | CAST(sum(abs_err) AS BIGINT) AS sum_abs_err,
       | CAST(sum(abs_err) AS BIGINT) * 1000 // count(*) AS mae_x1000
       |FROM sc GROUP BY 1
       |ORDER BY event_type""".stripMargin

  val declared: Seq[Declared] = Seq(
    Declared("x_forecast_naive", forecastNaive, Some(forecastNaiveSql)))
}
