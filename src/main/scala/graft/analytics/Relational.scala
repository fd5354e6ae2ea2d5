package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Declared
import graft.io.Tables
import graft.util.{Det, Select}

/** Relational core: the query family SURVEY.md §2.3–§2.4 derives from the
  * reference's (absent) session-analysis Spark job plus the TPC-H-ish fixture
  * star schema. Everything here is pure DataFrame API — Catalyst supplies
  * pushdown, pruning, join selection and whole-stage codegen (SURVEY.md §4.2).
  *
  * Scale notes (100 TB design point):
  *  - `nation`/`region`/`part`-sized dims are explicitly `broadcast()`; the
  *    orders⋈customer join is a shuffle join on the natural key and benefits
  *    from AQE skew handling (on by default).
  *  - Every query ends in a canonical ORDER BY on a unique key so the driver's
  *    hash compare is order-stable; the sort happens after aggregation, i.e.
  *    over the (small) result, not the input.
  */
object Relational {

  /** q1_agg — TPC-H Q1-style pricing summary over lineitem.
    * Ref: the volume-aggregation family implied by
    * /root/reference README session analysis (SURVEY.md §2.3).
    */
  def pricingSummary(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .filter(to_date($"l_shipdate") <= lit("1998-09-02").cast("date"))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        sum($"l_quantity").as("sum_qty"), // integral-valued doubles: exact in any order
        Det.decSum($"l_extendedprice").as("sum_base_price"),
        Det.revenueSum($"l_extendedprice", $"l_discount").as("sum_disc_price"),
        Det.decAvg($"l_extendedprice").as("avg_price"),
        count(lit(1)).as("count_order"))
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  val pricingSummarySql: String =
    """SELECT l_returnflag, l_linestatus,
      | sum(l_quantity) AS sum_qty,
      | CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_base_price,
      | CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS DOUBLE) / 10000.0 AS sum_disc_price,
      | CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 / count(l_extendedprice) AS avg_price,
      | count(*) AS count_order
      |FROM lineitem
      |WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** q_filter_project — predicate + projection; both push into the parquet scan. */
  def filterProject(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, dir)
      .filter($"o_orderstatus" === "O" && $"o_totalprice" > 150000.0)
      .select($"o_orderkey", $"o_custkey", $"o_totalprice", $"o_orderpriority")
      .orderBy($"o_orderkey")
  }

  val filterProjectSql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
      |FROM orders
      |WHERE o_orderstatus = 'O' AND o_totalprice > 150000.0
      |ORDER BY o_orderkey""".stripMargin

  /** q_join_inner — orders⋈customer⋈nation, revenue per nation.
    * nation is broadcast; orders⋈customer is the scale-out shuffle join.
    */
  def joinInner(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    o.join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy($"n_name")
      .agg(count(lit(1)).as("n_orders"), Det.decSum($"o_totalprice").as("total_revenue"))
      .orderBy($"n_name")
  }

  val joinInnerSql: String =
    """SELECT n_name, count(*) AS n_orders,
      | CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_revenue
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY n_name
      |ORDER BY n_name""".stripMargin

  /** q_join_left — customer LEFT JOIN orders; customers with zero orders kept. */
  def joinLeft(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
    c.join(o, c("c_custkey") === o("o_custkey"), "left")
      .groupBy($"c_custkey")
      .agg(count($"o_orderkey").as("n_orders"),
        Det.decSum($"o_totalprice").as("total_spent"))
      .orderBy($"c_custkey")
  }

  val joinLeftSql: String =
    """SELECT c_custkey, count(o_orderkey) AS n_orders,
      | CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_spent
      |FROM customer LEFT JOIN orders ON o_custkey = c_custkey
      |GROUP BY c_custkey
      |ORDER BY c_custkey""".stripMargin

  /** q_join_semi — customers having ≥1 order, counted per market segment. */
  def joinSemi(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n_customers"))
      .orderBy($"c_mktsegment")
  }

  val joinSemiSql: String =
    """SELECT c_mktsegment, count(*) AS n_customers
      |FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  /** Anti-join recency cutoff: the fixture assigns orders to (nearly) every
    * customer over the full 1995–2001 span, so "no orders ever" is vacuous
    * at every SF — the dormancy window makes the gate non-empty at all
    * three (32 / 322 / 3255 customers at sf0.001/0.01/0.1) while keeping
    * the plan an anti-join with the filter pushed to the scan.
    */
  val AntiJoinCutoff = "2000-08-01"

  /** q_join_anti — dormant customers (no orders in the dataset's final
    * year), counted per market segment.
    */
  def joinAnti(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
      .filter($"o_orderdate" >= lit(AntiJoinCutoff).cast("date"))
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n_customers"))
      .orderBy($"c_mktsegment")
  }

  val joinAntiSql: String =
    s"""SELECT c_mktsegment, count(*) AS n_customers
      |FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |  WHERE o_custkey = c_custkey AND o_orderdate >= DATE '$AntiJoinCutoff')
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  /** q_join_full — FULL OUTER join of two pre-aggregated sides (customers
    * and suppliers per nation key), null-coalesced: completes the join family
    * (inner/left/semi/anti/range/full). Aggregating BEFORE the join keeps the
    * outer join small at any scale — the classic outer-join-after-rollup
    * shape.
    */
  def joinFull(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val c = Tables.customer(spark, dir)
      .groupBy($"c_nationkey".as("nationkey")).agg(count(lit(1)).as("n_customers"))
    val s = Tables.supplier(spark, dir)
      .groupBy($"s_nationkey".as("nationkey")).agg(count(lit(1)).as("n_suppliers"))
    c.join(s, Seq("nationkey"), "full_outer")
      .select($"nationkey",
        coalesce($"n_customers", lit(0L)).as("n_customers"),
        coalesce($"n_suppliers", lit(0L)).as("n_suppliers"))
      .orderBy($"nationkey")
  }

  val joinFullSql: String =
    """SELECT COALESCE(c.nationkey, s.nationkey) AS nationkey,
      | COALESCE(n_customers, 0) AS n_customers,
      | COALESCE(n_suppliers, 0) AS n_suppliers
      |FROM (SELECT c_nationkey AS nationkey, count(*) AS n_customers FROM customer GROUP BY 1) c
      |FULL OUTER JOIN (SELECT s_nationkey AS nationkey, count(*) AS n_suppliers FROM supplier GROUP BY 1) s
      | ON c.nationkey = s.nationkey
      |ORDER BY nationkey""".stripMargin

  /** q_agg_group — revenue per (nation, segment): multi-key hash aggregate. */
  def aggGroup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    o.join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy($"n_name", $"c_mktsegment")
      .agg(count(lit(1)).as("n_orders"),
        Det.decSum($"o_totalprice").as("total_revenue"),
        Det.decAvg($"o_totalprice").as("avg_revenue"))
      .orderBy($"n_name", $"c_mktsegment")
  }

  val aggGroupSql: String =
    """SELECT n_name, c_mktsegment, count(*) AS n_orders,
      | CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_revenue,
      | CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 / count(o_totalprice) AS avg_revenue
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY n_name, c_mktsegment
      |ORDER BY n_name, c_mktsegment""".stripMargin

  /** q_agg_distinct — per event type: distinct users + exact value sum. */
  def aggDistinct(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .groupBy($"event_type")
      .agg(countDistinct($"user_id").as("n_users"),
        count(lit(1)).as("n_events"),
        Det.decSum($"value").as("total_value"))
      .orderBy($"event_type")
  }

  val aggDistinctSql: String =
    """SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events,
      | CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_value
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** q_topk — top 10 parts by exact revenue (Spark plans TakeOrderedAndProject). */
  def topK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val l = Tables.lineitem(spark, dir)
    val p = Tables.part(spark, dir)
    l.join(broadcast(p), l("l_partkey") === p("p_partkey"))
      .groupBy($"p_partkey", $"p_name")
      .agg(Det.revenueSum($"l_extendedprice", $"l_discount").as("revenue"))
      .orderBy($"revenue".desc, $"p_partkey".asc)
      .limit(10)
  }

  val topKSql: String =
    """SELECT p_partkey, p_name,
      | CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS DOUBLE) / 10000.0 AS revenue
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |GROUP BY p_partkey, p_name
      |ORDER BY revenue DESC, p_partkey
      |LIMIT 10""".stripMargin

  /** q_window_rank — top-3 orders per market segment via row_number. */
  def windowRank(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
    val w = Window.partitionBy($"c_mktsegment")
      .orderBy($"o_totalprice".desc, $"o_orderkey".asc)
    o.join(c, o("o_custkey") === c("c_custkey"))
      .select($"c_mktsegment", $"o_orderkey", $"o_totalprice")
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= 3)
      .orderBy($"c_mktsegment", $"rn")
  }

  val windowRankSql: String =
    """SELECT c_mktsegment, o_orderkey, o_totalprice, rn FROM (
      | SELECT c_mktsegment, o_orderkey, o_totalprice,
      |  CAST(row_number() OVER (PARTITION BY c_mktsegment ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rn
      | FROM orders JOIN customer ON o_custkey = c_custkey) t
      |WHERE rn <= 3
      |ORDER BY c_mktsegment, rn""".stripMargin

  /** q_union — nation keys present among customers or suppliers (set union). */
  def unionKeys(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val c = Tables.customer(spark, dir).select($"c_nationkey".as("nationkey"))
    val s = Tables.supplier(spark, dir).select($"s_nationkey".as("nationkey"))
    c.union(s).distinct().orderBy($"nationkey")
  }

  val unionKeysSql: String =
    """SELECT c_nationkey AS nationkey FROM customer
      |UNION
      |SELECT s_nationkey FROM supplier
      |ORDER BY nationkey""".stripMargin

  /** EXCEPT right-side gate: suppliers cover every customer nation at
    * sf0.01+, so a plain nation-vs-nation EXCEPT is vacuous there; keying
    * the right side on top-tier suppliers (acctbal ≥ 9900, the fixture
    * distribution's last half-percent) keeps the result non-empty at all
    * SFs (25 / 24 / 19 nations) and makes the EXCEPT actually remove rows
    * at sf0.01+.
    */
  val ExceptAcctbalFloor = 9900.0

  /** q_except — customer nation keys with no top-tier supplier presence. */
  def exceptKeys(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val c = Tables.customer(spark, dir).select($"c_nationkey".as("nationkey"))
    val s = Tables.supplier(spark, dir)
      .filter($"s_acctbal" >= ExceptAcctbalFloor)
      .select($"s_nationkey".as("nationkey"))
    c.except(s).orderBy($"nationkey")
  }

  val exceptKeysSql: String =
    s"""SELECT c_nationkey AS nationkey FROM customer
      |EXCEPT
      |SELECT s_nationkey FROM supplier WHERE s_acctbal >= $ExceptAcctbalFloor
      |ORDER BY nationkey""".stripMargin

  /** q_intersect — nation keys having both customers and suppliers. */
  def intersectKeys(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val c = Tables.customer(spark, dir).select($"c_nationkey".as("nationkey"))
    val s = Tables.supplier(spark, dir).select($"s_nationkey".as("nationkey"))
    c.intersect(s).orderBy($"nationkey")
  }

  val intersectKeysSql: String =
    """SELECT c_nationkey AS nationkey FROM customer
      |INTERSECT
      |SELECT s_nationkey FROM supplier
      |ORDER BY nationkey""".stripMargin

  /** q_intersect_all — MULTISET intersection: each nation key appears
    * min(customer copies, supplier copies) times, the BAG semantics
    * `INTERSECT ALL` defines (and plain `intersect` collapses). Spark
    * plans this as a counted aggregate + replicate — no row-by-row
    * matching — so it scales like any groupBy. Duplicate output rows are
    * identical, so the key-only ORDER BY is still hash-stable.
    */
  def intersectAllKeys(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val c = Tables.customer(spark, dir).select($"c_nationkey".as("nationkey"))
    val s = Tables.supplier(spark, dir).select($"s_nationkey".as("nationkey"))
    c.intersectAll(s).orderBy($"nationkey")
  }

  val intersectAllKeysSql: String =
    """SELECT c_nationkey AS nationkey FROM customer
      |INTERSECT ALL
      |SELECT s_nationkey FROM supplier
      |ORDER BY nationkey""".stripMargin

  /** q_except_all — MULTISET difference: customer copies of each nation key
    * beyond the supplier copies survive (count subtraction, not set
    * removal).
    */
  def exceptAllKeys(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val c = Tables.customer(spark, dir).select($"c_nationkey".as("nationkey"))
    val s = Tables.supplier(spark, dir).select($"s_nationkey".as("nationkey"))
    c.exceptAll(s).orderBy($"nationkey")
  }

  val exceptAllKeysSql: String =
    """SELECT c_nationkey AS nationkey FROM customer
      |EXCEPT ALL
      |SELECT s_nationkey FROM supplier
      |ORDER BY nationkey""".stripMargin

  /** q_first_last — value-picking window functions (first_value /
    * last_value / nth_value) over each customer's order history, one row
    * per customer. The frame must be the FULL partition
    * (rows unbounded-to-unbounded): last_value under the default
    * running frame is just the current row — the classic window trap,
    * pinned here. Ordering ties are broken by order key so both engines
    * pick identical rows; prices are raw columns (no aggregation), so
    * doubles are engine-safe.
    */
  def firstLast(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"o_custkey")
      .orderBy($"o_date", $"o_orderkey")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.orders(spark, dir)
      .select($"o_custkey", $"o_orderkey", to_date($"o_orderdate").as("o_date"),
        $"o_totalprice")
      .select($"o_custkey",
        row_number().over(
          Window.partitionBy($"o_custkey").orderBy($"o_date", $"o_orderkey"))
          .as("rn"),
        first($"o_totalprice").over(w).as("first_price"),
        last($"o_totalprice").over(w).as("last_price"),
        nth_value($"o_totalprice", 2).over(w).as("second_price"),
        count(lit(1)).over(w).as("n_orders"))
      .filter($"rn" === 1).drop("rn")
      .orderBy($"o_custkey")
  }

  val firstLastSql: String =
    """SELECT o_custkey, first_price, last_price, second_price, n_orders
      |FROM (
      | SELECT o_custkey,
      |  row_number() OVER (PARTITION BY o_custkey
      |                     ORDER BY CAST(o_orderdate AS DATE), o_orderkey) AS rn,
      |  first_value(o_totalprice) OVER w AS first_price,
      |  last_value(o_totalprice) OVER w AS last_price,
      |  nth_value(o_totalprice, 2) OVER w AS second_price,
      |  count(*) OVER w AS n_orders
      | FROM orders
      | WINDOW w AS (PARTITION BY o_custkey
      |              ORDER BY CAST(o_orderdate AS DATE), o_orderkey
      |              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
      |WHERE rn = 1
      |ORDER BY o_custkey""".stripMargin

  /** q_scalar_fns — string/date/JSON scalar functions over events.
    * `props` is a JSON object string; exercises get_json_object (ref: the
    * JSON payload parsing path, SURVEY.md §2.2 scalar-fn row).
    */
  def scalarFns(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // Sort BEFORE projecting: range-partitioning samples its child, and with
    // the projection on top the sampling pass would evaluate every scalar
    // function twice. Sorting the narrow scan first keeps the sample pass to
    // one column; the projection runs once, after the exchange.
    Tables.events(spark, dir)
      .orderBy($"event_id")
      .select(
        $"event_id",
        upper($"event_type").as("etype_upper"),
        concat(lit("u"), $"user_id".cast("string")).as("user_tag"),
        date_format($"ts", "yyyy-MM-dd").as("day_str"),
        year($"ts").cast("long").as("y"),
        month($"ts").cast("long").as("m"),
        dayofmonth($"ts").cast("long").as("d"),
        hour($"ts").cast("long").as("h"),
        get_json_object($"props", "$.k").cast("long").as("k"),
        length($"props").cast("long").as("props_len"),
        substring($"event_type", 1, 2).as("etype_pre"))
  }

  val scalarFnsSql: String =
    """SELECT event_id,
      | upper(event_type) AS etype_upper,
      | 'u' || CAST(user_id AS VARCHAR) AS user_tag,
      | strftime(ts, '%Y-%m-%d') AS day_str,
      | CAST(year(ts) AS BIGINT) AS y,
      | CAST(month(ts) AS BIGINT) AS m,
      | CAST(day(ts) AS BIGINT) AS d,
      | CAST(hour(ts) AS BIGINT) AS h,
      | CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
      | CAST(length(props) AS BIGINT) AS props_len,
      | substring(event_type, 1, 2) AS etype_pre
      |FROM events
      |ORDER BY event_id""".stripMargin

  /** q_rollup_daily — orders per day (the `{{ ds }}` partition rollup analogue,
    * ref /root/reference/configs/sources/marketing_api_campaigns.yaml:25).
    */
  def rollupDaily(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, dir)
      .groupBy(to_date($"o_orderdate").as("day"))
      .agg(count(lit(1)).as("n_orders"), Det.decSum($"o_totalprice").as("daily_revenue"))
      .orderBy($"day")
  }

  val rollupDailySql: String =
    """SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS n_orders,
      | CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS daily_revenue
      |FROM orders
      |GROUP BY 1
      |ORDER BY day""".stripMargin

  /** q_rollup_ym — ROLLUP(year, month): grouping-sets path, NULLS FIRST pinned. */
  def rollupYearMonth(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, dir)
      .select(year($"o_orderdate").cast("long").as("y"),
        month($"o_orderdate").cast("long").as("m"),
        $"o_totalprice")
      .rollup($"y", $"m")
      .agg(count(lit(1)).as("n_orders"), Det.decSum($"o_totalprice").as("revenue"))
      .orderBy($"y".asc_nulls_first, $"m".asc_nulls_first)
  }

  val rollupYearMonthSql: String =
    """SELECT CAST(year(o_orderdate) AS BIGINT) AS y, CAST(month(o_orderdate) AS BIGINT) AS m,
      | count(*) AS n_orders,
      | CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue
      |FROM orders
      |GROUP BY ROLLUP (1, 2)
      |ORDER BY y NULLS FIRST, m NULLS FIRST""".stripMargin

  /** q_join_range — equi key + range predicate (non-equi condition family):
    * per order, lineitems shipped within 30 days of the order date. The range
    * predicate rides the equi shuffle join (no nested-loop explosion); at
    * scale this is the pattern for bounded-window fact-to-fact joins.
    */
  def joinRange(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = Tables.orders(spark, dir)
    val l = Tables.lineitem(spark, dir)
    o.join(l,
        o("o_orderkey") === l("l_orderkey") &&
          to_date(l("l_shipdate")) >= to_date(o("o_orderdate")) &&
          to_date(l("l_shipdate")) <= date_add(to_date(o("o_orderdate")), 30))
      .groupBy($"o_orderkey")
      .agg(count(lit(1)).as("n_quick_ships"),
        Det.decSum($"l_extendedprice").as("quick_ship_value"))
      .orderBy($"o_orderkey")
  }

  val joinRangeSql: String =
    """SELECT o_orderkey, count(*) AS n_quick_ships,
      | CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS quick_ship_value
      |FROM orders JOIN lineitem
      |  ON o_orderkey = l_orderkey
      | AND CAST(l_shipdate AS DATE) >= CAST(o_orderdate AS DATE)
      | AND CAST(l_shipdate AS DATE) <= CAST(o_orderdate AS DATE) + INTERVAL 30 DAY
      |GROUP BY o_orderkey
      |ORDER BY o_orderkey""".stripMargin

  /** [[rangeAuto]]'s bucket width: well below the 7-day window, as the
    * rule advises for a small interval side (2.4k calendar windows), which
    * buys an almost-lossless bucket join.
    */
  val RangeAutoBucketWidth = 2L

  /** q_range_auto — a PURE range join (no equi key), written naively and
    * upgraded by the [[graft.plans.RangeJoinRewrite]] optimizer rule. Each
    * calendar ship-day d defines the window [d, d+6]; the join counts every
    * shipment landing in each window. Without the rule Spark must plan a
    * nested-loop product (2.4k intervals × every lineitem row); the rule
    * turns it into a bucketed equi join — both sides hash-partitioned on
    * `day div` [[RangeAutoBucketWidth]], the exact BETWEEN kept as
    * refinement — which is the plan that survives when both sides are
    * 100 TB facts. The oracle runs the same naive BETWEEN join in DuckDB.
    */
  def rangeAuto(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.plans.RangeJoinRewrite.install(spark)
    spark.conf.set(graft.plans.RangeJoinRewrite.BucketWidthConf,
      RangeAutoBucketWidth)
    // Aggregation pushdown below the range join: the final aggregate is
    // keyed on the point value itself (d_day ranges over exactly the ship
    // days), and count/sum are distributive — so pre-aggregate the fact to
    // one row per day FIRST (the only fact-sized shuffle), then range-join
    // the tiny daily frame and sum partials. At 100 TB this is the shape
    // that matters: the rewrite keeps the range join an equi join, and the
    // pushdown keeps the fact out of it entirely (600k joined rows → 17k).
    val daily = Tables.lineitem(spark, dir)
      .select(datediff(to_date($"l_shipdate"), lit("1990-01-01")).cast("long")
          .as("ship_day"),
        $"l_quantity")
      .groupBy($"ship_day")
      .agg(count(lit(1)).as("pn"), sum(Det.cents($"l_quantity")).as("pq"))
    val ivs = daily.select($"ship_day".as("d_day"))
      .select($"d_day", $"d_day".as("__range_lo"), ($"d_day" + 6L).as("__range_hi"))
    // the __range_lo/__range_hi aliases are the rewrite's OPT-IN marker:
    // the rule is installed session-wide (laziness makes bracketed
    // install/uninstall meaningless), and only joins that name their bound
    // columns this way are touched — no other query in the session changes.
    ivs.join(daily,
        daily("ship_day") >= ivs("__range_lo") && daily("ship_day") <= ivs("__range_hi"))
      .groupBy($"d_day")
      .agg(sum($"pn").as("n_ship"), sum($"pq").as("qty_cents"))
      .orderBy($"d_day")
  }

  val rangeAutoSql: String =
    """WITH pts AS (
      | SELECT CAST(datediff('day', DATE '1990-01-01', CAST(l_shipdate AS DATE)) AS BIGINT) AS ship_day,
      |        l_quantity
      | FROM lineitem),
      |ivs AS (SELECT DISTINCT ship_day AS d_day FROM pts)
      |SELECT d_day, count(*) AS n_ship,
      | CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_cents
      |FROM ivs JOIN pts ON ship_day >= d_day AND ship_day <= d_day + 6
      |GROUP BY d_day
      |ORDER BY d_day""".stripMargin

  /** q_ntile — decile assignment WITHIN each order priority (ntile window
    * coverage): per (priority, decile), order count and price bounds in
    * exact cents.
    *
    * Round 15: the ntile window is GONE from the distributed plan. The
    * grouped `ntile(10)` sorted the ENTIRE order frame inside 5 priority
    * partitions — a giant per-key sort AQE cannot split (guide §2.5, the
    * exact hazard x_winsorize shed in round 14). But every output column
    * is determined by 20 per-group ORDER STATISTICS: tile extents are
    * closed-form from the group count n (tile i holds q+1 rows for
    * i ≤ n mod 10, else q = n div 10, starting at (i-1)·q + min(i-1, r)),
    * n_orders IS the extent width, and because cents = round(price·100)
    * is monotone non-decreasing along the (price, orderkey) tile order,
    * min/max cents of tile i are the cents order statistics at the tile's
    * first/last rank. [[Select]] finds them per priority, unkeyed: an
    * order statistic's VALUE needs no row identity, so its in-bucket
    * window moves the picked buckets' cents domain, never rows. Zero
    * full-frame sorts. Measured A/B: re-scanning the 2-column parquet
    * projection per pass beats a ckptDisk pin here (warm build
    * 0.93–1.09 s vs 1.25–1.48 s at sf0.1 — the pin write is a 4th
    * sequential job), and unlike [[Rfm.rfmScoresOver]]'s base the frame
    * is a raw table projection, not a derived aggregate, so each pass
    * keeps parquet column pruning instead of paying a pin write of the
    * whole projection.
    */
  def ntileDeciles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    ntileDecilesOver(Tables.orders(spark, dir)
      .select($"o_orderpriority".as("pri"), Det.cents($"o_totalprice").as("c")))
  }

  /** Boundary-key decile bounds over any (pri: string, c: long) frame —
    * the seam the ntile-edge model-equivalence spec drives with tie-heavy
    * and sub-10-row groups. [[Select]] evaluates `base` three times; pass
    * a cheap-to-recompute or materialized frame.
    */
  def ntileDecilesOver(base: DataFrame): DataFrame = {
    import base.sparkSession.implicits._
    // closed-form (decile, first rank, last rank) of a group of n rows —
    // ntile's extra-row rule, verbatim
    def tiles(n: Long): Seq[(Long, Long, Long)] = {
      val q = n / 10; val r = n % 10
      (1L to 10L).flatMap { i =>
        val size = q + (if (i <= r) 1L else 0L)
        val start = (i - 1) * q + math.min(i - 1, r)
        if (size == 0L) None else Some((i, start + 1, start + size))
      }
    }
    val sel = Select(base, "c", group = Some("pri"))(n =>
      tiles(n).flatMap(t => Seq(t._2, t._3)))
    val stats = sel.picks.select($"pri", $"rank", $"c")
      .as[(String, Long, Long)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    // assemble: counts are closed-form, bounds are the selected order
    // statistics — the output is tile-bounded (≤ 10 rows per priority)
    sel.groups.flatMap { g =>
      val p = g.key.asInstanceOf[String]
      tiles(g.n).map { case (d, lo, hi) =>
        (p, d, hi - lo + 1, stats((p, lo)), stats((p, hi)))
      }
    }.toDF("o_orderpriority", "decile", "n_orders", "min_cents", "max_cents")
      .orderBy($"o_orderpriority", $"decile")
  }

  val ntileDecilesSql: String =
    """WITH d AS (
      | SELECT o_orderpriority, o_totalprice,
      |  CAST(ntile(10) OVER (PARTITION BY o_orderpriority
      |                       ORDER BY o_totalprice, o_orderkey) AS BIGINT)
      |    AS decile
      | FROM orders)
      |SELECT o_orderpriority, decile, count(*) AS n_orders,
      | min(CAST(round(o_totalprice * 100) AS BIGINT)) AS min_cents,
      | max(CAST(round(o_totalprice * 100) AS BIGINT)) AS max_cents
      |FROM d
      |GROUP BY o_orderpriority, decile
      |ORDER BY o_orderpriority, decile""".stripMargin

  /** q_mode — per-nation modal market segment (argmax with a pinned
    * tie-break). Two hash aggregates plus a struct-min argmax — the
    * shuffle never carries more than (nation × segment) rows, and `min`
    * over (neg_count, segment) partial-aggregates map-side; the oracle's
    * window form exists only because DuckDB lacks the struct-min idiom.
    */
  def modeSegment(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy($"n_name", $"c_mktsegment")
      .agg(count(lit(1)).as("cnt"))
      .groupBy($"n_name")
      .agg(min(struct((-$"cnt").as("neg"), $"c_mktsegment".as("seg"),
        $"cnt".as("cnt"))).as("best"))
      .select($"n_name", $"best.seg".as("mode_segment"),
        $"best.cnt".as("n_customers"))
      .orderBy($"n_name")
  }

  val modeSegmentSql: String =
    """WITH counts AS (
      | SELECT n_name, c_mktsegment, count(*) AS cnt
      | FROM customer JOIN nation ON c_nationkey = n_nationkey
      | GROUP BY 1, 2),
      |r AS (
      | SELECT *, row_number() OVER (PARTITION BY n_name
      |                              ORDER BY cnt DESC, c_mktsegment) AS rk
      | FROM counts)
      |SELECT n_name, c_mktsegment AS mode_segment, cnt AS n_customers
      |FROM r WHERE rk = 1
      |ORDER BY n_name""".stripMargin

  /** q_pivot_status — conditional-aggregation pivot (portable PIVOT form):
    * order counts per year spread across status columns.
    */
  def pivotStatus(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, dir)
      .select(year($"o_orderdate").cast("long").as("y"), $"o_orderstatus")
      .groupBy($"y")
      .agg(
        count(when($"o_orderstatus" === "F", 1)).as("n_f"),
        count(when($"o_orderstatus" === "O", 1)).as("n_o"),
        count(when($"o_orderstatus" === "P", 1)).as("n_p"),
        count(lit(1)).as("n_total"))
      .orderBy($"y")
  }

  val pivotStatusSql: String =
    """SELECT CAST(year(o_orderdate) AS BIGINT) AS y,
      | count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_f,
      | count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS n_o,
      | count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS n_p,
      | count(*) AS n_total
      |FROM orders
      |GROUP BY 1
      |ORDER BY y""".stripMargin

  /** q_null_safe_join — the `<=>` (EqualNullSafe) join semantics pin:
    * NULL keys MATCH each other, where a plain `=` join silently drops
    * every null-keyed row (here the 'O' majority mapped to NULL via
    * nullif — the open orders would vanish from a naive join). Spark's
    * `<=>` is DuckDB/ANSI's IS NOT DISTINCT FROM; both plan a normal
    * hash/sort equi-join on the null-safe key, so the null bucket rides
    * the same shuffle as everything else (no fallback to a nested loop).
    * Sort order of the NULL group is pinned explicitly — Spark defaults
    * NULLS FIRST ascending, DuckDB defaults NULLS LAST: the classic
    * cross-engine ordering trap.
    */
  def nullSafeJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val l = Tables.orders(spark, dir)
      .select(expr("nullif(o_orderstatus, 'O')").as("k"), $"o_orderkey")
    val r = l.select($"k".as("k2")).distinct()
    l.join(r, $"k" <=> $"k2")
      .groupBy($"k").agg(count(lit(1)).as("n"))
      .orderBy($"k".asc_nulls_first)
  }

  val nullSafeJoinSql: String =
    """WITH l AS (
      | SELECT nullif(o_orderstatus, 'O') AS k, o_orderkey FROM orders),
      |r AS (SELECT DISTINCT k AS k2 FROM l)
      |SELECT l.k, count(*) AS n
      |FROM l JOIN r ON l.k IS NOT DISTINCT FROM r.k2
      |GROUP BY l.k
      |ORDER BY k NULLS FIRST""".stripMargin

  /** q_pivot_multi — the NATIVE `Dataset.pivot` path with multiple
    * aggregates per pivot value (count + exact-cents revenue), unlike
    * q_pivot_status's portable when()-projection form: Catalyst's
    * RewritePivot turns this into the same single hash-aggregate (one
    * scan, one shuffle — pivoting never re-scans per column), and the
    * explicit value list keeps the plan static (omitting it triggers a
    * distinct-values pre-query at planning time — fine interactively,
    * wrong inside a 100 TB pipeline).
    */
  def pivotMulti(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, dir)
      .select(year($"o_orderdate").cast("long").as("y"), $"o_orderstatus",
        Det.cents($"o_totalprice").as("c"))
      .groupBy($"y")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)).as("n"), (sum($"c").cast("double") / 100.0).as("rev"))
      .select($"y",
        $"F_n".as("n_f"), $"F_rev".as("rev_f"),
        $"O_n".as("n_o"), $"O_rev".as("rev_o"),
        $"P_n".as("n_p"), $"P_rev".as("rev_p"))
      .orderBy($"y")
  }

  val pivotMultiSql: String =
    """SELECT CAST(year(o_orderdate) AS BIGINT) AS y,
      | count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_f,
      | CAST(sum(CASE WHEN o_orderstatus = 'F'
      |           THEN CAST(round(o_totalprice * 100) AS BIGINT) END) AS DOUBLE) / 100.0 AS rev_f,
      | count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS n_o,
      | CAST(sum(CASE WHEN o_orderstatus = 'O'
      |           THEN CAST(round(o_totalprice * 100) AS BIGINT) END) AS DOUBLE) / 100.0 AS rev_o,
      | count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS n_p,
      | CAST(sum(CASE WHEN o_orderstatus = 'P'
      |           THEN CAST(round(o_totalprice * 100) AS BIGINT) END) AS DOUBLE) / 100.0 AS rev_p
      |FROM orders
      |GROUP BY 1
      |ORDER BY y""".stripMargin

  /** q_unpivot — the inverse reshaping (melt / UNPIVOT): the wide per-year
    * status counts back to long (y, status, n) rows through Spark's native
    * `Dataset.unpivot`. Wide→long is what normalizes a spreadsheet-shaped
    * source for aggregation; the oracle states the portable stacked-UNION
    * form. Map-only over the (tiny) pivoted frame.
    */
  def unpivotStatus(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    pivotStatus(spark, dir).drop("n_total")
      .unpivot(Array($"y"), Array($"n_f", $"n_o", $"n_p"), "status", "n")
      .withColumn("status",
        when($"status" === "n_f", "F")
          .when($"status" === "n_o", "O")
          .otherwise("P"))
      .orderBy($"y", $"status")
  }

  val unpivotStatusSql: String =
    """WITH wide AS (
      | SELECT CAST(year(o_orderdate) AS BIGINT) AS y,
      |  count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_f,
      |  count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS n_o,
      |  count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS n_p
      | FROM orders GROUP BY 1)
      |SELECT y, status, n FROM (
      | SELECT y, 'F' AS status, n_f AS n FROM wide
      | UNION ALL SELECT y, 'O', n_o FROM wide
      | UNION ALL SELECT y, 'P', n_p FROM wide) u
      |ORDER BY y, status""".stripMargin

  /** q_cube — CUBE(status, priority): all four grouping-set combinations,
    * NULLS FIRST pinned on both engines.
    */
  def cubeStatusPriority(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, dir)
      .cube($"o_orderstatus", $"o_orderpriority")
      .agg(count(lit(1)).as("n_orders"), Det.decSum($"o_totalprice").as("revenue"))
      .orderBy($"o_orderstatus".asc_nulls_first, $"o_orderpriority".asc_nulls_first)
  }

  val cubeStatusPrioritySql: String =
    """SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
      | CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue
      |FROM orders
      |GROUP BY CUBE (o_orderstatus, o_orderpriority)
      |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin

  /** q_window_range — RANGE-frame window: for each order day, the trailing
    * 7-day order count and revenue (frames family beyond ROWS — a RANGE
    * frame bounds by VALUE distance on the ordering key, so days with gaps
    * still look back exactly 7 calendar days). Computed over the per-day
    * rollup, so the window input is small whatever the fact-table scale.
    */
  def windowRange(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily = Tables.orders(spark, dir)
      .groupBy(unix_date(to_date($"o_orderdate")).as("day_n"))
      .agg(count(lit(1)).as("n_orders"), sum(Det.cents($"o_totalprice")).as("cents"))
    val w = Window.orderBy($"day_n").rangeBetween(-6, Window.currentRow)
    daily.select(
        date_from_unix_date($"day_n").as("day"),
        sum($"n_orders").over(w).as("n_7d"),
        (sum($"cents").over(w).cast("double") / 100.0).as("revenue_7d"))
      .orderBy($"day")
  }

  val windowRangeSql: String =
    """WITH daily AS (
      | SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS n_orders,
      |  sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
      | FROM orders GROUP BY 1)
      |SELECT day,
      | CAST(sum(n_orders) OVER w AS BIGINT) AS n_7d,
      | CAST(sum(cents) OVER w AS DOUBLE) / 100.0 AS revenue_7d
      |FROM daily
      |WINDOW w AS (ORDER BY day RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW)
      |ORDER BY day""".stripMargin

  /** q_join_star6 — TPC-H Q5-shaped six-table join: local-supplier revenue
    * per nation in one region and one order year. The demanding plan shape:
    * two fact-fact shuffle joins (orders⋈customer, lineitem⋈orders+supplier)
    * with the co-nation predicate folded into the supplier join, and the
    * tiny dims (nation, region) explicitly broadcast. Supplier is NOT
    * broadcast-hinted — it grows with SF; AQE promotes it at runtime when
    * small. Filters (region name, date range) sit below the joins so the
    * scans prune first.
    */
  def joinStar6(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = Tables.orders(spark, dir)
      .filter(to_date($"o_orderdate") >= lit("1996-01-01").cast("date") &&
        to_date($"o_orderdate") < lit("1997-01-01").cast("date"))
      .select($"o_orderkey", $"o_custkey")
    val c = Tables.customer(spark, dir).select($"c_custkey", $"c_nationkey")
    val l = Tables.lineitem(spark, dir)
      .select($"l_orderkey", $"l_suppkey", $"l_extendedprice", $"l_discount")
    val s = Tables.supplier(spark, dir).select($"s_suppkey", $"s_nationkey")
    val n = Tables.nation(spark, dir).select($"n_nationkey", $"n_name", $"n_regionkey")
    val r = Tables.region(spark, dir).filter($"r_name" === "ASIA").select($"r_regionkey")
    o.join(c, $"o_custkey" === $"c_custkey")
      .join(l, $"l_orderkey" === $"o_orderkey")
      .join(s, $"l_suppkey" === $"s_suppkey" && $"c_nationkey" === $"s_nationkey")
      .join(broadcast(n), $"s_nationkey" === $"n_nationkey")
      .join(broadcast(r), $"n_regionkey" === $"r_regionkey")
      .groupBy($"n_name")
      .agg(Det.revenueSum($"l_extendedprice", $"l_discount").as("revenue"))
      .orderBy($"revenue".desc, $"n_name")
  }

  val joinStar6Sql: String =
    """SELECT n_name,
      | CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS DOUBLE) / 10000.0 AS revenue
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |  AND CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
      |  AND CAST(o_orderdate AS DATE) < DATE '1997-01-01'
      |GROUP BY n_name
      |ORDER BY revenue DESC, n_name""".stripMargin

  /** q_grouping_sets — explicit GROUPING SETS ((status), (priority), ()):
    * the third member of the rollup/cube family, with `grouping()` flags
    * disambiguating real NULLs from subtotal rows. One shuffle; Spark
    * expands sets via a single Expand node, not one pass per set.
    */
  def groupingSetsQ(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, dir)
      .groupingSets(
        Seq(Seq($"o_orderstatus"), Seq($"o_orderpriority"), Seq()),
        $"o_orderstatus", $"o_orderpriority")
      .agg(
        grouping($"o_orderstatus").cast("long").as("g_status"),
        grouping($"o_orderpriority").cast("long").as("g_priority"),
        count(lit(1)).as("n_orders"),
        (sum(Det.cents($"o_totalprice")).cast("double") / 100.0).as("revenue"))
      .orderBy($"g_status", $"g_priority",
        $"o_orderstatus".asc_nulls_first, $"o_orderpriority".asc_nulls_first)
  }

  val groupingSetsSql: String =
    """SELECT o_orderstatus, o_orderpriority,
      | CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
      | CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_priority,
      | count(*) AS n_orders,
      | CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
      |ORDER BY g_status, g_priority, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin

  /** q_lag_lead — offset window functions over the per-day revenue rollup:
    * previous/next day's revenue and the day-over-day delta. All arithmetic
    * in integer cents; the window input is the (small) daily rollup.
    */
  def lagLead(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily = Tables.orders(spark, dir)
      .groupBy(to_date($"o_orderdate").as("day"))
      .agg(sum(Det.cents($"o_totalprice")).as("cents"))
    val w = Window.orderBy($"day")
    daily.select(
        $"day",
        ($"cents".cast("double") / 100.0).as("revenue"),
        (lag($"cents", 1).over(w).cast("double") / 100.0).as("prev_revenue"),
        (lead($"cents", 1).over(w).cast("double") / 100.0).as("next_revenue"),
        (($"cents" - lag($"cents", 1).over(w)).cast("double") / 100.0).as("delta"))
      .orderBy($"day")
  }

  val lagLeadSql: String =
    """WITH daily AS (
      | SELECT CAST(o_orderdate AS DATE) AS day,
      |  sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
      | FROM orders GROUP BY 1)
      |SELECT day,
      | CAST(cents AS DOUBLE) / 100.0 AS revenue,
      | CAST(lag(cents, 1) OVER w AS DOUBLE) / 100.0 AS prev_revenue,
      | CAST(lead(cents, 1) OVER w AS DOUBLE) / 100.0 AS next_revenue,
      | CAST(cents - lag(cents, 1) OVER w AS DOUBLE) / 100.0 AS delta
      |FROM daily
      |WINDOW w AS (ORDER BY day)
      |ORDER BY day""".stripMargin

  /** q_quantiles — EXACT discrete quantiles (lower median, p90) of order
    * value per priority, via row_number picks instead of an interpolating
    * percentile: engines differ in interpolation arithmetic, but "the value
    * at sorted position floor((n+1)/2)" is pure integer selection and
    * matches bit-for-bit. Positions are computed in doubles (exact for any
    * feasible n) so both dialects share one formula. One shuffle on the
    * group key; the sort is per-partition within the window.
    */
  def quantiles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"o_orderpriority")
      .orderBy($"cents", $"o_orderkey")
    Tables.orders(spark, dir)
      .select($"o_orderpriority", $"o_orderkey", Det.cents($"o_totalprice").as("cents"))
      .select($"o_orderpriority", $"cents",
        row_number().over(w).as("rn"),
        count(lit(1)).over(Window.partitionBy($"o_orderpriority")).as("n"))
      .groupBy($"o_orderpriority")
      .agg(
        max($"n").as("n_orders"),
        (max(when($"rn" === floor(($"n" + 1) / 2.0), $"cents")).cast("double") / 100.0).as("median_price"),
        (max(when($"rn" === floor(($"n" * 9 + 9) / 10.0), $"cents")).cast("double") / 100.0).as("p90_price"))
      .orderBy($"o_orderpriority")
  }

  val quantilesSql: String =
    """WITH ranked AS (
      | SELECT o_orderpriority,
      |  CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
      |  row_number() OVER (PARTITION BY o_orderpriority
      |                     ORDER BY CAST(round(o_totalprice * 100) AS BIGINT), o_orderkey) AS rn,
      |  count(*) OVER (PARTITION BY o_orderpriority) AS n
      | FROM orders)
      |SELECT o_orderpriority,
      | max(n) AS n_orders,
      | CAST(max(CASE WHEN rn = floor((n + 1) / 2.0) THEN cents END) AS DOUBLE) / 100.0 AS median_price,
      | CAST(max(CASE WHEN rn = floor((n * 9 + 9) / 10.0) THEN cents END) AS DOUBLE) / 100.0 AS p90_price
      |FROM ranked
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** q_string_agg — ordered string aggregation: nations per region as a
    * comma-joined, alphabetically sorted list. The explicit sort inside the
    * aggregate is what makes a string agg deterministic under parallelism —
    * an unordered string_agg is a different string every run.
    */
  def stringAgg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.nation(spark, dir)
      .join(broadcast(Tables.region(spark, dir)),
        $"n_regionkey" === $"r_regionkey")
      .groupBy($"r_name")
      .agg(
        count(lit(1)).as("n_nations"),
        concat_ws(",", sort_array(collect_list($"n_name"))).as("nations"))
      .orderBy($"r_name")
  }

  val stringAggSql: String =
    """SELECT r_name, count(*) AS n_nations,
      | string_agg(n_name, ',' ORDER BY n_name) AS nations
      |FROM nation JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name
      |ORDER BY r_name""".stripMargin

  /** q_array_fns — array construction + element ops per (sampled) order:
    * sorted quantity list, first/last element, membership, join-to-string.
    * The deterministic key-mod sample keeps output bounded at any SF; the
    * arrays are emitted as joined strings because canonical text compares
    * across engines where raw list hashing might not.
    */
  def arrayFns(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .filter($"l_orderkey" % 97 === 0)
      .select($"l_orderkey", $"l_quantity".cast("long").as("qty"))
      .groupBy($"l_orderkey")
      .agg(sort_array(collect_list($"qty")).as("qtys"))
      .select(
        $"l_orderkey",
        size($"qtys").cast("long").as("n_items"),
        element_at($"qtys", 1).as("q_min"),
        element_at($"qtys", size($"qtys")).as("q_max"),
        array_contains($"qtys", 50L).as("has_qty50"),
        array_join($"qtys", ",").as("qty_list"))
      .orderBy($"l_orderkey")
  }

  val arrayFnsSql: String =
    """WITH g AS (
      | SELECT l_orderkey, list_sort(list(CAST(l_quantity AS BIGINT))) AS qtys
      | FROM lineitem WHERE l_orderkey % 97 = 0
      | GROUP BY l_orderkey)
      |SELECT l_orderkey,
      | CAST(len(qtys) AS BIGINT) AS n_items,
      | qtys[1] AS q_min,
      | qtys[len(qtys)] AS q_max,
      | list_contains(qtys, 50) AS has_qty50,
      | array_to_string(qtys, ',') AS qty_list
      |FROM g
      |ORDER BY l_orderkey""".stripMargin

  /** q_sample_hash — DETERMINISTIC sampling: hash-prefix selection instead
    * of TABLESAMPLE/rand(). md5 of the row key is identical in every engine
    * and under any partitioning, so a 1/16 profile sample of a 100 TB table
    * is reproducible run-to-run — the property rand()-based sampling loses
    * the moment the partition layout changes. Map-only scan + one tiny agg.
    */
  def sampleHash(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .filter(substring(md5(concat($"l_orderkey".cast("string"), lit("_"),
        $"l_linenumber".cast("string"))), 1, 1) === "0")
      .agg(
        count(lit(1)).as("n_sampled"),
        sum($"l_quantity".cast("long")).as("sum_qty"),
        countDistinct($"l_orderkey").as("n_orders"))
  }

  val sampleHashSql: String =
    """SELECT count(*) AS n_sampled,
      | CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
      | count(DISTINCT l_orderkey) AS n_orders
      |FROM lineitem
      |WHERE substr(md5(CAST(l_orderkey AS VARCHAR) || '_' || CAST(l_linenumber AS VARCHAR)), 1, 1) = '0'""".stripMargin

  /** q_histogram — fixed-width binning of order value ($20k bins over
    * integer cents; floor of an exact double division, identical in both
    * engines). The profiling histogram: one pruned scan + one tiny
    * aggregate whatever the table size.
    */
  def histogram(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, dir)
      .groupBy(floor(Det.cents($"o_totalprice") / 2000000.0).as("bin"))
      .agg(count(lit(1)).as("n_orders"))
      .select(($"bin" * 20000L).as("bin_lo_dollars"), $"n_orders")
      .orderBy($"bin_lo_dollars")
  }

  val histogramSql: String =
    """SELECT CAST(floor(CAST(round(o_totalprice * 100) AS BIGINT) / 2000000.0) AS BIGINT) * 20000 AS bin_lo_dollars,
      | count(*) AS n_orders
      |FROM orders
      |GROUP BY 1
      |ORDER BY bin_lo_dollars""".stripMargin

  /** q_histogram_2d — the heatmap form of [[histogram]]: lineitem density
    * over a (quantity decade × price $1000-band) grid with per-cell revenue.
    * Integer DIV bucketing on both axes (exact in both engines), one
    * pruned scan + a grid-sized aggregate whatever the table size — the
    * 2-D profiling pass a BI layer draws before choosing any layout or
    * partitioning ([[graft.io.Layout]]'s z-order targets exactly this kind
    * of 2-D access pattern).
    */
  def histogram2d(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .select(
        expr("CAST(round(l_quantity) AS BIGINT) DIV 10").as("qty_decade"),
        (Det.cents($"l_extendedprice") * lit(1L)).as("price_cents"))
      .groupBy($"qty_decade",
        expr("price_cents DIV 100000").as("price_band_k"))
      .agg(count(lit(1)).as("n_items"), sum($"price_cents").as("rev_cents"))
      .orderBy($"qty_decade", $"price_band_k")
  }

  val histogram2dSql: String =
    """SELECT CAST(round(l_quantity) AS BIGINT) // 10 AS qty_decade,
      | CAST(round(l_extendedprice * 100) AS BIGINT) // 100000 AS price_band_k,
      | count(*) AS n_items,
      | CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents
      |FROM lineitem
      |GROUP BY 1, 2
      |ORDER BY qty_decade, price_band_k""".stripMargin

  /** x_hist_sketch — the native `bin_counts` TypedImperativeAggregate
    * (graft.functions.BinCounts) over order values: a 30-bin fixed-width
    * histogram in one aggregate whose shuffle payload is a single count
    * vector per partition. The sketch is exactly order-independent (vector
    * add merge), so — unusually for a sketch — the DuckDB oracle can gate
    * it bit-for-bit by rebuilding the same integer binning relationally.
    */
  def histSketch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    Tables.orders(spark, dir)
      .agg(
        call_function("bin_counts", $"o_totalprice",
          lit(0.0), lit(600000.0), lit(30)).as("bins"),
        count(lit(1)).as("n_rows"))
      .select(
        array_join(transform($"bins", x => x.cast("string")), ",").as("hist"),
        $"n_rows")
  }

  val histSketchSql: String =
    """WITH b AS (
      | SELECT LEAST(GREATEST(CAST(floor(o_totalprice / 20000.0) AS BIGINT), 0), 29) AS bin
      | FROM orders),
      |c AS (SELECT bin, count(*) AS n FROM b GROUP BY bin),
      |spine AS (SELECT unnest(generate_series(0, 29)) AS bin),
      |f AS (SELECT spine.bin AS bin, COALESCE(n, 0) AS n
      |      FROM spine LEFT JOIN c ON spine.bin = c.bin)
      |SELECT string_agg(CAST(n AS VARCHAR), ',' ORDER BY bin) AS hist,
      | CAST(sum(n) AS BIGINT) AS n_rows
      |FROM f""".stripMargin

  /** q_gap_fill — calendar-spine densification: every day between the first
    * and last order date gets a row, revenue zero-filled. The spine is
    * sequence+explode over the (two-value) bounds aggregate — rows are
    * GENERATED, not scanned, so the pattern costs one rollup plus one join
    * regardless of fact volume.
    */
  def gapFill(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily = Tables.orders(spark, dir)
      .groupBy(to_date($"o_orderdate").as("day"))
      .agg(sum(Det.cents($"o_totalprice")).as("cents"))
    val spine = daily.agg(min($"day").as("mn"), max($"day").as("mx"))
      .select(explode(sequence($"mn", $"mx", expr("interval 1 day"))).as("day"))
    spine.join(daily, Seq("day"), "left")
      .select($"day",
        (coalesce($"cents", lit(0L)).cast("double") / 100.0).as("revenue"))
      .orderBy($"day")
  }

  val gapFillSql: String =
    """WITH daily AS (
      | SELECT CAST(o_orderdate AS DATE) AS day,
      |  sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
      | FROM orders GROUP BY 1),
      |b AS (SELECT min(day) AS mn, max(day) AS mx FROM daily),
      |spine AS (
      | SELECT CAST(unnest(generate_series(mn, mx, INTERVAL 1 DAY)) AS DATE) AS day FROM b)
      |SELECT spine.day AS day, CAST(COALESCE(cents, 0) AS DOUBLE) / 100.0 AS revenue
      |FROM spine LEFT JOIN daily ON spine.day = daily.day
      |ORDER BY spine.day""".stripMargin

  /** q_locf — gap-fill with LAST-OBSERVATION-CARRIED-FORWARD: the
    * (priority × day) revenue grid has genuinely empty cells (~29% at
    * sf0.01), and each gap takes the most recent prior observation in its
    * priority instead of zero — the standard irregular-time-series
    * resampling step. The carry is `last(value, ignoreNulls) OVER` a
    * per-priority ordered window: one shuffle on priority, the window sort
    * is per-partition, and the spine is generated (priorities × days), not
    * scanned. Leading gaps (before a priority's first observation) stay
    * NULL on both engines.
    */
  def locf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily = Tables.orders(spark, dir)
      .groupBy($"o_orderpriority".as("prio"), to_date($"o_orderdate").as("day"))
      .agg(sum(Det.cents($"o_totalprice")).as("cents"))
    val spine = daily.agg(min($"day").as("mn"), max($"day").as("mx"))
      .select(explode(sequence($"mn", $"mx", expr("interval 1 day"))).as("day"))
      .crossJoin(daily.select($"prio").distinct())
    val w = Window.partitionBy($"prio").orderBy($"day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(daily, Seq("prio", "day"), "left")
      .select($"prio", $"day",
        (last($"cents", ignoreNulls = true).over(w).cast("double") / 100.0)
          .as("revenue_locf"))
      .orderBy($"prio", $"day")
  }

  val locfSql: String =
    """WITH daily AS (
      | SELECT o_orderpriority AS prio, CAST(o_orderdate AS DATE) AS day,
      |  sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
      | FROM orders GROUP BY 1, 2),
      |b AS (SELECT min(day) AS mn, max(day) AS mx FROM daily),
      |spine AS (
      | SELECT p.prio, CAST(unnest(generate_series(b.mn, b.mx, INTERVAL 1 DAY)) AS DATE) AS day
      | FROM b, (SELECT DISTINCT prio FROM daily) p)
      |SELECT spine.prio AS prio, spine.day AS day,
      | CAST(last_value(cents IGNORE NULLS) OVER (
      |   PARTITION BY spine.prio ORDER BY spine.day
      |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / 100.0
      |  AS revenue_locf
      |FROM spine LEFT JOIN daily ON spine.prio = daily.prio AND spine.day = daily.day
      |ORDER BY prio, day""".stripMargin

  /** One SQL text for both engines: segments counted over customers having
    * an urgent order but no finished order — EXISTS and NOT EXISTS
    * correlated subqueries, which Catalyst decorrelates to left-semi and
    * left-anti joins respectively (RewritePredicateSubquery; SURVEY.md §4.2).
    */
  val existsSubqueryText: String =
    """SELECT c_mktsegment, count(*) AS n_customers
      |FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o
      |              WHERE o.o_custkey = c.c_custkey
      |                AND o.o_orderpriority = '1-URGENT')
      |  AND NOT EXISTS (SELECT 1 FROM orders o
      |                  WHERE o.o_custkey = c.c_custkey
      |                    AND o.o_orderstatus = 'F')
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  /** q_subquery_exists — EXISTS/NOT EXISTS decorrelation (same text, two
    * engines).
    */
  def subqueryExists(spark: SparkSession, dir: String): DataFrame = {
    Tables.registerViews(spark, dir)
    spark.sql(existsSubqueryText)
  }

  /** One SQL text for both engines: a RECURSIVE CTE (new in Spark 4) walking
    * the implicit binary-tree ancestry of the max order key (parent =
    * floor(k/2), the heap-numbering scheme) — data-seeded, ~log2(maxkey)
    * iterations, each a tiny single-row step. Proves the recursive-query
    * family end to end; division goes through floor(k/2.0) because bare
    * integer `/` differs between dialects.
    */
  val recursiveCteText: String =
    """WITH RECURSIVE anc(k, depth) AS (
      |  SELECT CAST(max(o_orderkey) AS BIGINT) AS k, 0 AS depth FROM orders
      |  UNION ALL
      |  SELECT CAST(floor(k / 2.0) AS BIGINT) AS k, depth + 1 AS depth
      |  FROM anc WHERE k > 0
      |)
      |SELECT depth, k FROM anc ORDER BY depth""".stripMargin

  /** q_recursive_cte — the recursive-query path (same text, two engines). */
  def recursiveCte(spark: SparkSession, dir: String): DataFrame = {
    Tables.registerViews(spark, dir)
    spark.sql(recursiveCteText)
  }

  /** One SQL text that parses identically in Spark SQL and DuckDB — used
    * verbatim by both q_sql_region's Spark execution and its oracle, proving
    * the engine's SQL entry path (`Tables.registerViews` + `spark.sql`).
    * 4-way star join: region/nation broadcast, orders⋈customer shuffles.
    */
  val sqlRegionText: String =
    """SELECT r_name, count(*) AS n_orders,
      | CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name
      |ORDER BY r_name""".stripMargin

  /** q_sql_region — the SQL face: same text, two engines, one hash. */
  def sqlRegion(spark: SparkSession, dir: String): DataFrame = {
    Tables.registerViews(spark, dir)
    spark.sql(sqlRegionText)
  }

  /** One SQL text for both engines: orders strictly above their customer's
    * average order value — a CORRELATED scalar subquery, exercising
    * Catalyst's decorrelation family (RewriteCorrelatedScalarSubquery turns
    * each subquery into an aggregate + join; SURVEY.md §4.2). The comparison
    * is exact integer arithmetic (cents × count vs cent-sum) instead of a
    * float `avg`, so the boundary rows agree bit-for-bit across engines.
    */
  val subqueryCorrText: String =
    """SELECT o_orderkey, o_custkey, o_totalprice
      |FROM orders o
      |WHERE CAST(round(o_totalprice * 100) AS BIGINT) *
      |      (SELECT count(*) FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
      |    > (SELECT sum(CAST(round(o2.o_totalprice * 100) AS BIGINT))
      |       FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
      |ORDER BY o_orderkey""".stripMargin

  /** q_subquery_corr — the decorrelation path (same text, two engines). */
  def subqueryCorr(spark: SparkSession, dir: String): DataFrame = {
    Tables.registerViews(spark, dir)
    spark.sql(subqueryCorrText)
  }

  /** q_limit_order — deterministic head-n in key order: the batch analogue of
    * the reference's first-n CSV replay (kafka_stream.pyc @ 72-73).
    */
  def limitOrder(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir).orderBy($"event_id").limit(100)
  }

  val limitOrderSql: String =
    "SELECT * FROM events ORDER BY event_id LIMIT 100"

  val declared: Seq[Declared] = Seq(
    Declared("q1_agg", pricingSummary, Some(pricingSummarySql)),
    Declared("q_filter_project", filterProject, Some(filterProjectSql)),
    Declared("q_join_inner", joinInner, Some(joinInnerSql)),
    Declared("q_join_left", joinLeft, Some(joinLeftSql)),
    Declared("q_join_semi", joinSemi, Some(joinSemiSql)),
    Declared("q_join_anti", joinAnti, Some(joinAntiSql)),
    Declared("q_join_full", joinFull, Some(joinFullSql)),
    Declared("q_join_star6", joinStar6, Some(joinStar6Sql)),
    Declared("q_agg_group", aggGroup, Some(aggGroupSql)),
    Declared("q_agg_distinct", aggDistinct, Some(aggDistinctSql)),
    Declared("q_topk", topK, Some(topKSql)),
    Declared("q_window_rank", windowRank, Some(windowRankSql)),
    Declared("q_window_range", windowRange, Some(windowRangeSql)),
    Declared("q_union", unionKeys, Some(unionKeysSql)),
    Declared("q_except", exceptKeys, Some(exceptKeysSql)),
    Declared("q_intersect", intersectKeys, Some(intersectKeysSql)),
    Declared("q_intersect_all", intersectAllKeys, Some(intersectAllKeysSql)),
    Declared("q_except_all", exceptAllKeys, Some(exceptAllKeysSql)),
    Declared("q_first_last", firstLast, Some(firstLastSql)),
    Declared("q_scalar_fns", scalarFns, Some(scalarFnsSql)),
    Declared("q_rollup_daily", rollupDaily, Some(rollupDailySql)),
    Declared("q_rollup_ym", rollupYearMonth, Some(rollupYearMonthSql)),
    Declared("q_join_range", joinRange, Some(joinRangeSql)),
    Declared("q_range_auto", rangeAuto, Some(rangeAutoSql)),
    Declared("q_ntile", ntileDeciles, Some(ntileDecilesSql)),
    Declared("q_mode", modeSegment, Some(modeSegmentSql)),
    Declared("q_pivot_status", pivotStatus, Some(pivotStatusSql)),
    Declared("q_pivot_multi", pivotMulti, Some(pivotMultiSql)),
    Declared("q_null_safe_join", nullSafeJoin, Some(nullSafeJoinSql)),
    Declared("q_unpivot", unpivotStatus, Some(unpivotStatusSql)),
    Declared("q_cube", cubeStatusPriority, Some(cubeStatusPrioritySql)),
    Declared("q_grouping_sets", groupingSetsQ, Some(groupingSetsSql)),
    Declared("q_lag_lead", lagLead, Some(lagLeadSql)),
    Declared("q_quantiles", quantiles, Some(quantilesSql)),
    Declared("q_string_agg", stringAgg, Some(stringAggSql)),
    Declared("q_array_fns", arrayFns, Some(arrayFnsSql)),
    Declared("q_sample_hash", sampleHash, Some(sampleHashSql)),
    Declared("q_histogram", histogram, Some(histogramSql)),
    Declared("q_histogram_2d", histogram2d, Some(histogram2dSql)),
    Declared("x_hist_sketch", histSketch, Some(histSketchSql)),
    Declared("q_gap_fill", gapFill, Some(gapFillSql)),
    Declared("q_locf", locf, Some(locfSql)),
    Declared("q_subquery_exists", subqueryExists, Some(existsSubqueryText)),
    Declared("q_recursive_cte", recursiveCte, Some(recursiveCteText)),
    Declared("q_sql_region", sqlRegion, Some(sqlRegionText)),
    Declared("q_subquery_corr", subqueryCorr, Some(subqueryCorrText)),
    Declared("q_limit_order", limitOrder, Some(limitOrderSql)))
}
