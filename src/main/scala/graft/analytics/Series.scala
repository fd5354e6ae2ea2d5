package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Declared
import graft.io.Tables

/** Time-series smoothing and changepoint detection with EXACT arithmetic —
  * the two ops every monitoring pipeline runs over a day-grain rollup, built
  * so a cross-engine hash gate can hold them.
  *
  * `x_ewma`: exponential smoothing is normally a sequential recurrence
  * (s_t = α·y_t + (1−α)·s_{t−1}) — the classic "doesn't distribute" trap.
  * With α = 1/2 and a truncated K-lag window it becomes a FINITE kernel of
  * binary weights 2^(K−1−k), so each output day is an independent integer
  * dot product: expand each source day to the ≤K future days it influences
  * (a broadcast of K offsets — no window, no sequential scan), partial+final
  * sum the weighted contributions, and divide ONCE at the end. Truncation
  * error vs the infinite recurrence is ≤ 2^(1−K) of the scale — with K=20,
  * below one part per million, i.e. under the dollar resolution emitted.
  * Missing days carry no weight: the denominator is the sum of weights of
  * the days actually present, so gaps renormalize instead of decaying
  * through phantom zeros (stated contract).
  *
  * `x_cusum_shift`: CUSUM level-shift detection, the sequentially-defined
  * statistic S_t = Σ_{s≤t} (y_s − ȳ) — kept exact by scaling with the day
  * count (n·y_s − Σy is integer; S_t/n is the textbook value). The argmax
  * |S_t| day is the maximum-likelihood single changepoint under a mean
  * shift. One cumulative window over the DAY-GRAIN frame — cardinality =
  * timespan (thousands of rows at any data scale), so the global ordering
  * is over the rollup, never the raw corpus.
  */
object Series {

  /** Kernel length: weights 2^19 … 2^0 over the last 20 observed days. */
  val K = 20

  /** Truncated-kernel EWMA over any (d, y) day-grain frame — the
    * frame-parametric core (PropertySpec drives it on generated series;
    * the declared query binds it to daily revenue).
    */
  def ewmaOver(daily: DataFrame): DataFrame = {
    val spark = daily.sparkSession
    import spark.implicits._
    val offsets = spark.range(0, K).select($"id".cast("long").as("k"))
    // Day s contributes y_s·2^(K−1−k) to day t = s+k: the kernel as a
    // broadcast fan-out of K rows per source day, aggregated by target day.
    val contrib = daily.crossJoin(broadcast(offsets))
      .select(($"d" + $"k").as("d"),
        ($"y" * expr(s"shiftleft(CAST(1 AS BIGINT), CAST(${K - 1} - k AS INT))"))
          .as("num_part"),
        expr(s"shiftleft(CAST(1 AS BIGINT), CAST(${K - 1} - k AS INT))").as("den_part"))
      .groupBy($"d")
      .agg(sum($"num_part").as("ewma_num"), sum($"den_part").as("ewma_den"))
    daily.join(contrib, "d")
      .select($"d", $"y", $"ewma_num", $"ewma_den",
        ($"ewma_num".cast("double") / $"ewma_den".cast("double")).as("ewma"))
      .orderBy($"d")
  }

  /** x_ewma — half-life-one-day truncated EWMA of daily revenue dollars.
    * One row per observed day: y, exact kernel numerator/denominator, and
    * the smoothed value from one final IEEE division.
    */
  def ewma(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    ewmaOver(Tables.orders(spark, dir)
      .groupBy(datediff(to_date($"o_orderdate"), lit("1970-01-01").cast("date"))
        .cast("long").as("d"))
      .agg(expr("sum(cast(round(o_totalprice * 100) as long)) div 100").as("y")))
  }

  val ewmaSql: String =
    s"""WITH daily AS (
       | SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS d,
       |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) // 100 AS y
       | FROM orders GROUP BY 1),
       |off AS (SELECT range AS k FROM range(0, $K)),
       |contrib AS (
       | SELECT daily.d + off.k AS d,
       |  CAST(sum(daily.y * (CAST(1 AS BIGINT) << CAST(${K - 1} - off.k AS INTEGER)))
       |    AS BIGINT) AS ewma_num,
       |  CAST(sum(CAST(1 AS BIGINT) << CAST(${K - 1} - off.k AS INTEGER))
       |    AS BIGINT) AS ewma_den
       | FROM daily CROSS JOIN off GROUP BY 1)
       |SELECT daily.d, daily.y, contrib.ewma_num, contrib.ewma_den,
       | CAST(contrib.ewma_num AS DOUBLE) / CAST(contrib.ewma_den AS DOUBLE) AS ewma
       |FROM daily JOIN contrib ON daily.d = contrib.d
       |ORDER BY daily.d""".stripMargin

  /** x_cusum_shift — maximum-likelihood single changepoint of the daily
    * order-count series: the day with the largest |Σ_{s≤t}(n·y_s − Σy)|,
    * with exact before/after mean rationals for the implied level shift.
    * Ties (same |S|) break on the earlier day.
    */
  def cusumShift(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    cusumOver(Tables.orders(spark, dir)
      .groupBy(datediff(to_date($"o_orderdate"), lit("1970-01-01").cast("date"))
        .cast("long").as("d"))
      .agg(count(lit(1)).as("y")))
  }

  /** Scaled-CUSUM changepoint over any (d, y) day-grain frame — the
    * frame-parametric core behind [[cusumShift]].
    */
  def cusumOver(daily: DataFrame): DataFrame = {
    val spark = daily.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val tot = daily.agg(count(lit(1)).as("n"), sum($"y").as("sy"))
    val w = Window.orderBy($"d").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = daily.crossJoin(broadcast(tot))
      .withColumn("s_scaled", sum($"y" * $"n" - $"sy").over(w))
      .withColumn("cum_y", sum($"y").over(w))
      .withColumn("cum_n", count(lit(1)).over(w))
    cum
      .orderBy(abs($"s_scaled").desc, $"d")
      .limit(1)
      .select($"d".as("d_star"), $"s_scaled", $"n".as("n_days"),
        $"sy".as("total"),
        $"cum_y".as("before_num"), $"cum_n".as("before_den"),
        ($"sy" - $"cum_y").as("after_num"), ($"n" - $"cum_n").as("after_den"),
        ($"cum_y".cast("double") / $"cum_n".cast("double")).as("mean_before"),
        (($"sy" - $"cum_y").cast("double") / ($"n" - $"cum_n").cast("double"))
          .as("mean_after"))
  }

  val cusumShiftSql: String =
    """WITH daily AS (
      | SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS d,
      |  count(*) AS y
      | FROM orders GROUP BY 1),
      |tot AS (SELECT count(*) AS n, CAST(sum(y) AS BIGINT) AS sy FROM daily),
      |cum AS (
      | SELECT d, y, tot.n, tot.sy,
      |  CAST(sum(y * tot.n - tot.sy)
      |    OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS BIGINT) AS s_scaled,
      |  CAST(sum(y) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_y,
      |  CAST(count(*) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_n
      | FROM daily, tot)
      |SELECT d AS d_star, s_scaled, n AS n_days, sy AS total,
      | cum_y AS before_num, cum_n AS before_den,
      | sy - cum_y AS after_num, n - cum_n AS after_den,
      | CAST(cum_y AS DOUBLE) / CAST(cum_n AS DOUBLE) AS mean_before,
      | CAST(sy - cum_y AS DOUBLE) / CAST(n - cum_n AS DOUBLE) AS mean_after
      |FROM cum
      |ORDER BY abs(s_scaled) DESC, d
      |LIMIT 1""".stripMargin

  val declared: Seq[Declared] = Seq(
    Declared("x_ewma", ewma, Some(ewmaSql)),
    Declared("x_cusum_shift", cusumShift, Some(cusumShiftSql)))
}
