package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Declared
import graft.io.Tables
import graft.util.Det

/** Statistics primitives as ALGEBRAIC aggregates — the two shapes that
  * make "fit a model / put an error bar on a number" scale: every term is
  * a partial+final sum, so the cluster computes moments, and only the
  * final (per-group constant-size) arithmetic touches them.
  *
  * `x_trend_fit`: OLS slope over the daily-revenue series from EXACT
  * integer moment sums (n, Σx, Σy, Σxy, Σx²) — the closed form
  * `slope = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²)` emitted as an EXACT RATIONAL
  * (numerator and denominator as exact longs — with x centered, the
  * numerator n²·cov(x,y) sits orders of magnitude under 2⁶³ where a
  * fixed-point ×10³ product measurably overflowed at sf0.1; ANSI keeps
  * any breach loud) plus ONE final double division, which is IEEE-exact
  * and engine-identical. This is `regr_slope` without the float
  * fold-order drift — the reason the oracle agrees bit-for-bit.
  *
  * `x_poisson_bootstrap`: resampling variance WITHOUT resampling — the
  * Poisson(1) bootstrap (each row enters replicate b with weight ~
  * Poisson(1)), the standard scale formulation because it needs no
  * global sample coordination: weights come per (row, replicate) from
  * the canonical md5 integer idiom against a PINNED inverse-CDF
  * threshold table (2²⁰-scaled cumulative Poisson(1) probabilities, a
  * declared constant like Benford's permilles — no libm at query time),
  * so both engines draw identical "randomness". Output: one row per
  * replicate with its weighted revenue-cents mean — the replicate spread
  * IS the standard error of the corpus mean.
  */
object Stats {

  /** x_trend_fit — OLS slope/moments of daily revenue vs day index. Two
    * conditioning steps keep every moment exact long, both stated
    * identically on each engine: the regressor is CENTERED to the first
    * observed day (slope is x-shift-invariant; raw epoch-day indices
    * inflate n·Σxy − ΣxΣy by ~x̄² and measurably overflow), and daily
    * revenue is truncated to WHOLE DOLLARS (exact integer `div 100` —
    * the declared unit; cents-level Σxy crossed 2⁶³ at sf0.1's ~2 400-day
    * span).
    */
  def trendFit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily = Tables.orders(spark, dir)
      .groupBy(datediff(to_date($"o_orderdate"), lit("1970-01-01").cast("date"))
        .cast("long").as("d"))
      .agg(expr("sum(cast(round(o_totalprice * 100) as long)) div 100").as("y"))
    val mind = daily.agg(min($"d").as("d0"))
    daily.crossJoin(broadcast(mind))
      .select(($"d" - $"d0").as("x"), $"y")
      .agg(
        count(lit(1)).as("n"),
        sum($"x").as("sx"), sum($"y").as("sy"),
        sum($"x" * $"y").as("sxy"), sum($"x" * $"x").as("sxx"))
      .select($"n", $"sx", $"sy", $"sxy", $"sxx",
        expr("n * sxy - sx * sy").as("slope_num"),
        expr("n * sxx - sx * sx").as("slope_den"),
        expr("cast(n * sxy - sx * sy as double) / cast(n * sxx - sx * sx as double)")
          .as("slope_dollars_per_day"))
  }

  val trendFitSql: String =
    """WITH daily AS (
      | SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS d,
      |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) // 100 AS y
      | FROM orders GROUP BY 1),
      |c AS (SELECT d - (SELECT min(d) FROM daily) AS x, y FROM daily),
      |m AS (
      | SELECT count(*) AS n,
      |  CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |  CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx
      | FROM c)
      |SELECT n, sx, sy, sxy, sxx,
      | n * sxy - sx * sy AS slope_num,
      | n * sxx - sx * sx AS slope_den,
      | CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)
      |   AS slope_dollars_per_day
      |FROM m""".stripMargin

  /** Number of bootstrap replicates. */
  val Replicates = 20

  /** Cumulative Poisson(1) thresholds scaled by 2²⁰ (pinned constants:
    * P(X≤k)·2²⁰ for k = 0..5; weights are capped at 6, which truncates
    * less than 10⁻⁴ of the mass — a declared approximation of the tail,
    * identical on both engines).
    */
  val PoissonCdf20: Seq[Long] =
    Seq(385749L, 771499L, 964374L, 1028666L, 1044739L, 1047953L)

  /** x_poisson_bootstrap — replicate-weighted means of order totals. */
  def poissonBootstrap(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cdf = PoissonCdf20
    val weightExpr = cdf.zipWithIndex.reverse
      .foldLeft(lit(6L)) { case (acc, (thr, k)) =>
        when($"u" < thr, k.toLong).otherwise(acc)
      }
    // repartition BEFORE the 20× replicate expansion: the parquet scan
    // yields a handful of partitions, and the downstream md5-per-(row,b)
    // work would otherwise run ~2-way parallel (measured 5.4 s at sf0.1;
    // one narrow exchange of the base rows buys 32-way hashing). The
    // replicate axis is an explode in the SAME stage — no join at all.
    Tables.orders(spark, dir)
      .select($"o_orderkey", Det.cents($"o_totalprice").as("cents"))
      .repartition(spark.sparkContext.defaultParallelism, $"o_orderkey")
      .withColumn("b", explode(expr(s"sequence(1L, ${Replicates}L)")))
      .withColumn("u",
        pmod(conv(substring(md5(concat($"o_orderkey".cast("string"),
          lit(":"), $"b".cast("string"))), 1, 15), 16, 10).cast("long"),
          lit(1L << 20)))
      .withColumn("w", weightExpr)
      .groupBy($"b")
      .agg(sum($"w").as("n_eff"), sum($"w" * $"cents").as("wsum"))
      .filter($"n_eff" > 0)
      .select($"b", $"n_eff", expr("wsum div n_eff").as("mean_cents"))
      .orderBy($"b")
  }

  val poissonBootstrapSql: String = {
    val cases = PoissonCdf20.zipWithIndex
      .map { case (thr, k) => s"WHEN u < $thr THEN $k" }
      .mkString(" ")
    s"""WITH r AS (SELECT unnest(generate_series(1, ${Replicates})) AS b),
       |w AS (
       | SELECT r.b,
       |  CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
       |  CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || ':' ||
       |    CAST(r.b AS VARCHAR)), 1, 15) AS BIGINT) % ${1L << 20} AS u
       | FROM orders, r),
       |ww AS (
       | SELECT b, cents, CASE $cases ELSE 6 END AS w FROM w),
       |agg AS (
       | SELECT b, CAST(sum(w) AS BIGINT) AS n_eff,
       |  CAST(sum(w * cents) AS BIGINT) AS wsum
       | FROM ww GROUP BY 1)
       |SELECT b, n_eff, wsum // n_eff AS mean_cents
       |FROM agg WHERE n_eff > 0
       |ORDER BY b""".stripMargin
  }

  val declared: Seq[Declared] = Seq(
    Declared("x_trend_fit", trendFit, Some(trendFitSql)),
    Declared("x_poisson_bootstrap", poissonBootstrap, Some(poissonBootstrapSql)))
}
