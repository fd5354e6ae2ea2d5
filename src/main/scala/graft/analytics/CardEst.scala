package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Declared
import graft.io.Tables

/** Join-cardinality estimation audit — the query-optimizer-internals
  * operator: compare the textbook uniformity estimate every cost-based
  * optimizer starts from, `|A ⋈ B| ≈ |A|·|B| / max(ndv_A, ndv_B)`,
  * against the EXACT join cardinality, per declared join. The error ppm
  * is the number that decides whether a planner picks broadcast vs
  * shuffle vs sort-merge — and the audit quantifies exactly when the
  * uniformity assumption lies (skewed keys, partial domain overlap).
  *
  * The exact cardinality never materializes the join: it is
  * Σ_k cA(k)·cB(k) over the two (key → count) aggregates — the
  * count-frame join is |keys|-sized, not |rows|-sized, which is also how
  * a stats collector would compute truth at 100 TB. NDVs here are exact
  * count-distincts (dimension-bounded); at petabyte key domains swap in
  * the KMV sketch ([[Sketch]]) — same audit, estimated inputs.
  *
  * Two declared joins stress the assumption from both sides: a partial
  * domain overlap with skew (orders ⋈ events on customer — most
  * customers never emit events) and a self-equi-join on a low-NDV
  * derived key (orders ⋈ orders on order day — any non-uniformity in
  * the date distribution shows up as Σc² > n²/ndv).
  */
object CardEst {

  private def audit(
      name: String, a: DataFrame, b: DataFrame): DataFrame = {
    val ca = a.groupBy("k").agg(count(lit(1)).as("ca"))
    val cb = b.groupBy("k").agg(count(lit(1)).as("cb"))
    val actual = ca.join(cb, "k")
      .agg(coalesce(sum(col("ca") * col("cb")), lit(0L)).as("actual"))
    val stats = a.agg(count(lit(1)).as("n_left"),
        countDistinct(col("k")).as("ndv_left"))
      .crossJoin(b.agg(count(lit(1)).as("n_right"),
        countDistinct(col("k")).as("ndv_right")))
    stats.crossJoin(actual)
      .select(lit(name).as("join_name"), col("n_left"), col("n_right"),
        col("ndv_left"), col("ndv_right"), col("actual"),
        expr("n_left * n_right div greatest(ndv_left, ndv_right)")
          .as("est_uniform"),
        expr("""abs(actual - n_left * n_right div greatest(ndv_left, ndv_right))
               | * 1000000 div actual""".stripMargin).as("err_ppm"))
  }

  /** x_join_card_est — uniformity-estimate error audit over two joins. */
  def joinCardEst(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val orders = Tables.orders(spark, dir)
    val events = Tables.events(spark, dir)
    val oe = audit("orders_events_cust",
      orders.select($"o_custkey".as("k")),
      events.select($"user_id".as("k")))
    val day = orders.select(
      datediff(to_date($"o_orderdate"), lit("1970-01-01").cast("date"))
        .cast("long").as("k"))
    val oo = audit("orders_self_day", day, day)
    oe.unionAll(oo).orderBy($"join_name")
  }

  val joinCardEstSql: String =
    """WITH oa AS (SELECT o_custkey AS k, count(*) AS c FROM orders GROUP BY 1),
      |ea AS (SELECT user_id AS k, count(*) AS c FROM events GROUP BY 1),
      |oe AS (
      | SELECT 'orders_events_cust' AS join_name,
      |  (SELECT count(*) FROM orders) AS n_left,
      |  (SELECT count(*) FROM events) AS n_right,
      |  (SELECT count(DISTINCT o_custkey) FROM orders) AS ndv_left,
      |  (SELECT count(DISTINCT user_id) FROM events) AS ndv_right,
      |  (SELECT CAST(coalesce(sum(oa.c * ea.c), 0) AS BIGINT)
      |   FROM oa JOIN ea ON oa.k = ea.k) AS actual),
      |da AS (
      | SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS k,
      |  count(*) AS c
      | FROM orders GROUP BY 1),
      |oo AS (
      | SELECT 'orders_self_day' AS join_name,
      |  (SELECT count(*) FROM orders) AS n_left,
      |  (SELECT count(*) FROM orders) AS n_right,
      |  (SELECT count(*) FROM da) AS ndv_left,
      |  (SELECT count(*) FROM da) AS ndv_right,
      |  (SELECT CAST(sum(c * c) AS BIGINT) FROM da) AS actual),
      |u AS (SELECT * FROM oe UNION ALL SELECT * FROM oo)
      |SELECT join_name, n_left, n_right, ndv_left, ndv_right, actual,
      | n_left * n_right // greatest(ndv_left, ndv_right) AS est_uniform,
      | abs(actual - n_left * n_right // greatest(ndv_left, ndv_right))
      |   * 1000000 // actual AS err_ppm
      |FROM u
      |ORDER BY join_name""".stripMargin

  val declared: Seq[Declared] = Seq(
    Declared("x_join_card_est", joinCardEst, Some(joinCardEstSql)))
}
