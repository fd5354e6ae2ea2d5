package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Declared
import graft.io.Tables
import graft.util.Det

/** Warehouse-maintenance operators — the table-lifecycle query family a
  * self-service ETL platform grows into once landed data must be SERVED:
  * slowly-changing-dimension history, incremental materialized-view
  * maintenance, statistical outlier screens, reproducible stratified
  * samples, and interval-overlap (concurrency) analysis. The reference's
  * merge-into-serving-table job family (SURVEY.md §2.3, kafka_stream.pyc @
  * 91-95 launching the Postgres-bound session job) implies exactly these;
  * none need anything beyond declarative DataFrame plans.
  *
  * Scale notes, per query:
  *  - q_scd2: one shuffle on user_id; both windows share the partitioning so
  *    Catalyst plans a single Exchange + two Window ops, no second shuffle.
  *  - q_incr_agg: the merge re-aggregates PARTIAL aggregates (count/sum are
  *    algebraic), so refreshing a 100 TB view touches only the delta
  *    partition plus the (tiny, pre-aggregated) MV — never the raw history.
  *  - q_outliers: per-group moments in one map-side-combined aggregate; the
  *    5-row stats frame broadcasts back. All arithmetic is exact 128-bit
  *    (Spark DECIMAL(38,0) / DuckDB HUGEINT) — no float variance drift, and
  *    z>2 is an integer-exact comparison: (n·x−s)² > 4·(n·q−s²)·n.
  *  - q_sample_stratified: md5-order sampling is reproducible under ANY
  *    partitioning (unlike rand()); the hash-prefix pre-filter cuts the
  *    window input ~4× before the per-stratum top-k, and at 100 TB the
  *    prefix bound tightens to ~k/N so the sort sees O(k) rows per stratum.
  *  - q_concurrency: sweep-line with ±1 deltas partitioned BY DAY, so the
  *    running sum parallelizes over days instead of one global ordering —
  *    the scalable form of interval-overlap counting.
  */
object Warehouse {

  /** q_scd2 — type-2 slowly-changing-dimension build: collapse each user's
    * event stream into [valid_from, valid_to) validity intervals, one row
    * per run of equal event_type, open interval (valid_to NULL, is_current)
    * on the last run. Change detection = lag; interval close = lead over the
    * change rows only. Timestamps surface as epoch MICROS (exact integers)
    * rather than engine-formatted timestamps.
    */
  def scd2(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val byUser = Window.partitionBy($"user_id").orderBy($"ts_us", $"event_id")
    val changes = Tables.events(spark, dir)
      .select($"user_id", $"event_id", $"event_type",
        unix_micros($"ts".cast("timestamp")).as("ts_us"))
      .withColumn("prev_type", lag($"event_type", 1).over(byUser))
      .filter($"prev_type".isNull || $"prev_type" =!= $"event_type")
    changes.select(
        $"user_id", $"event_id", $"event_type",
        $"ts_us".as("valid_from_us"),
        lead($"ts_us", 1).over(byUser).as("valid_to_us"),
        lead($"ts_us", 1).over(byUser).isNull.as("is_current"))
      .orderBy($"user_id", $"valid_from_us", $"event_id")
  }

  val scd2Sql: String =
    """WITH marked AS (
      | SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
      |  lag(event_type) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_type
      | FROM events),
      |starts AS (
      | SELECT user_id, event_id, event_type, ts_us
      | FROM marked WHERE prev_type IS NULL OR prev_type <> event_type)
      |SELECT user_id, event_id, event_type,
      | ts_us AS valid_from_us,
      | lead(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS valid_to_us,
      | (lead(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) IS NULL) AS is_current
      |FROM starts
      |ORDER BY user_id, valid_from_us, event_id""".stripMargin

  /** The partial daily aggregate both the "materialized" and "delta" sides
    * of q_incr_agg share: count + exact cents sum per day.
    */
  private def dailyPartial(orders: DataFrame, pred: Column): DataFrame =
    orders.filter(pred)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(count(lit(1)).as("n"), sum(Det.cents(col("o_totalprice"))).as("cents"))

  /** q_incr_agg — incremental materialized-view maintenance: merge a
    * pre-aggregated history ("the MV", orders before the cutoff) with a
    * fresh delta (orders at/after it) by RE-AGGREGATING PARTIALS — count and
    * sum are algebraic, so merged = full recompute, proven by the oracle
    * computing the same from scratch-shaped SQL. avg derives from the merged
    * sums (never averaged averages).
    */
  def incrAgg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val orders = Tables.orders(spark, dir)
    val cutoff = to_date(lit("1997-01-01"))
    val mv = dailyPartial(orders, to_date($"o_orderdate") < cutoff)
    val delta = dailyPartial(orders, to_date($"o_orderdate") >= cutoff)
    mv.unionByName(delta)
      .groupBy($"day")
      .agg(sum($"n").as("n_orders"), sum($"cents").as("merged_cents"))
      .select(
        $"day",
        $"n_orders",
        ($"merged_cents".cast("double") / 100.0).as("revenue"),
        ($"merged_cents".cast("double") / 100.0 / $"n_orders").as("avg_price"))
      .orderBy($"day")
  }

  val incrAggSql: String =
    """WITH mv AS (
      | SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS n,
      |  sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
      | FROM orders WHERE CAST(o_orderdate AS DATE) < DATE '1997-01-01' GROUP BY 1),
      |delta AS (
      | SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS n,
      |  sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
      | FROM orders WHERE CAST(o_orderdate AS DATE) >= DATE '1997-01-01' GROUP BY 1),
      |merged AS (
      | SELECT day, CAST(sum(n) AS BIGINT) AS n_orders,
      |  CAST(sum(cents) AS BIGINT) AS merged_cents
      | FROM (SELECT * FROM mv UNION ALL SELECT * FROM delta) u GROUP BY day)
      |SELECT day, n_orders,
      | CAST(merged_cents AS DOUBLE) / 100.0 AS revenue,
      | CAST(merged_cents AS DOUBLE) / 100.0 / n_orders AS avg_price
      |FROM merged
      |ORDER BY day""".stripMargin

  /** Delta cutoffs for the join-view maintenance query: orders arriving
    * from [[IncrJoinOrdCut]] and lineitems shipping from [[IncrJoinLiCut]]
    * are "the new batch"; everything earlier is the stored history.
    */
  val IncrJoinOrdCut = "1997-01-01"
  val IncrJoinLiCut = "1998-01-01"

  /** x_incr_join_mv — incremental maintenance of a JOIN view: the delta
    * algebra q_incr_agg's single-table merge cannot express. With both
    * sides of `orders ⋈ lineitem` receiving new batches (A = A₀ ∪ ΔA,
    * B = B₀ ∪ ΔB), the joined rows partition EXACTLY into three disjoint
    * legs: `A₀⋈B₀` (the stored view's partials — nothing to reprocess),
    * `ΔA⋈B₀` and `A⋈ΔB` (the only legs a refresh computes; note the third
    * leg takes ALL of A precisely so ΔA⋈ΔB lands once, not twice — the
    * classic double-count trap in view-maintenance algebra). Each leg is
    * partially aggregated per order priority and the partials re-aggregate,
    * count/sum being algebraic. The oracle computes the naive single
    * `orders ⋈ lineitem` aggregate from scratch, so the hash gate IS the
    * proof that the three-leg partition neither drops nor double-counts a
    * row — get the A/A₀ choice in leg 3 wrong and the gate fails.
    *
    * Scale: at 100 TB the stored leg is the pre-aggregated MV (priority
    * cardinality, not fact cardinality) and the refresh touches only
    * delta×history joins — ΔA⋈B₀ broadcasts the (small) order delta into
    * the lineitem scan; A⋈ΔB shuffles only the shipment delta. This query
    * declares the whole algebra live so the gate covers it; a deployment
    * would read leg 1 from storage.
    */
  def incrJoinMv(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val aCut = to_date(lit(IncrJoinOrdCut))
    val bCut = to_date(lit(IncrJoinLiCut))
    val a = Tables.orders(spark, dir)
      .select($"o_orderkey", $"o_orderpriority", to_date($"o_orderdate").as("od"))
    val b = Tables.lineitem(spark, dir)
      .select($"l_orderkey", Det.cents($"l_extendedprice").as("cents"),
        to_date($"l_shipdate").as("sd"))
    val aOld = a.filter($"od" < aCut)
    val aNew = a.filter($"od" >= aCut)
    val bOld = b.filter($"sd" < bCut)
    val bNew = b.filter($"sd" >= bCut)
    def leg(ax: DataFrame, bx: DataFrame): DataFrame =
      ax.join(bx, $"o_orderkey" === $"l_orderkey")
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("n"), sum($"cents").as("c"))
    val legs = leg(aOld, bOld)
      .unionByName(leg(aNew, bOld))
      .unionByName(leg(a, bNew))
    legs.groupBy($"o_orderpriority")
      .agg(sum($"n").as("n_lines"), sum($"c").as("revenue_cents"))
      .orderBy($"o_orderpriority")
  }

  val incrJoinMvSql: String =
    """SELECT o_orderpriority, count(*) AS n_lines,
      | CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
      |  AS revenue_cents
      |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** q_outliers — per-market-segment account-balance outliers at |z| > 1.5,
    * decided in EXACT 128-bit integer arithmetic: with n rows, cents sum s,
    * squares sum q, the z>1.5 test ((x−s/n)² > 2.25·var) cross-multiplies to
    * 4·(n·x − s)² > 9·(n·q − s²) (both sides scaled by n², which cancels) —
    * no float mean/variance, no sqrt, so the
    * kept set is bit-identical in any engine and under any fold order.
    * (Threshold 1.5, not the textbook 2: a bounded-uniform column's |z|
    * never exceeds √3 ≈ 1.73, so 2 would be unfalsifiably empty on this
    * data while 1.5 exercises both kept and dropped rows.) Spark side uses
    * DECIMAL(38,0) (ANSI mode makes overflow loud); the oracle uses
    * HUGEINT. Stats per segment are 5 rows → broadcast join.
    */
  def outliers(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def d(c: Column): Column = c.cast(DecimalType(38, 0))
    val c = Tables.customer(spark, dir)
      .select($"c_custkey", $"c_mktsegment", $"c_acctbal",
        Det.cents($"c_acctbal").as("cents"))
    val stats = c.groupBy($"c_mktsegment".as("seg"))
      .agg(
        count(lit(1)).as("n"),
        sum($"cents").as("s"),
        sum(d($"cents") * d($"cents")).as("q"))
    val dev = d($"n") * d($"cents") - d($"s")
    c.join(broadcast(stats), $"c_mktsegment" === $"seg")
      .filter(d(lit(4)) * dev * dev > d(lit(9)) * (d($"n") * d($"q") - d($"s") * d($"s")))
      .select($"c_custkey", $"c_mktsegment", $"c_acctbal")
      .orderBy($"c_mktsegment", $"c_custkey")
  }

  val outliersSql: String =
    """WITH c AS (
      | SELECT c_custkey, c_mktsegment, c_acctbal,
      |  CAST(round(c_acctbal * 100) AS BIGINT) AS cents
      | FROM customer),
      |st AS (
      | SELECT c_mktsegment AS seg, count(*) AS n,
      |  sum(CAST(cents AS HUGEINT)) AS s,
      |  sum(CAST(cents AS HUGEINT) * CAST(cents AS HUGEINT)) AS q
      | FROM c GROUP BY 1)
      |SELECT c.c_custkey, c.c_mktsegment, c.c_acctbal
      |FROM c JOIN st ON c.c_mktsegment = st.seg
      |WHERE 4 * (CAST(st.n AS HUGEINT) * c.cents - st.s) * (CAST(st.n AS HUGEINT) * c.cents - st.s)
      |      > 9 * (CAST(st.n AS HUGEINT) * st.q - st.s * st.s)
      |ORDER BY c_mktsegment, c_custkey""".stripMargin

  /** q_sample_stratified — k=20 orders per priority stratum, selected by
    * smallest md5(o_orderkey): reproducible under any partition layout and
    * any engine. The `substr(h,1,1) <= '3'` pre-filter keeps only the
    * smallest quarter of the hash space — a superset of any feasible top-20
    * here — so the per-stratum sort ranks ~25% of rows instead of all of
    * them; at production scale the bound tightens toward k/N and the window
    * input is O(k).
    */
  def sampleStratified(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"o_orderpriority").orderBy($"h", $"o_orderkey")
    Tables.orders(spark, dir)
      .withColumn("h", md5($"o_orderkey".cast("string")))
      .filter(substring($"h", 1, 1) <= "3")
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= 20)
      .select($"o_orderpriority", $"rn".cast("long").as("rn"),
        $"o_orderkey", $"o_totalprice")
      .orderBy($"o_orderpriority", $"rn")
  }

  val sampleStratifiedSql: String =
    """WITH h AS (
      | SELECT o_orderpriority, o_orderkey, o_totalprice,
      |  md5(CAST(o_orderkey AS VARCHAR)) AS h
      | FROM orders
      | WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) <= '3'),
      |ranked AS (
      | SELECT *, row_number() OVER (PARTITION BY o_orderpriority ORDER BY h, o_orderkey) AS rn
      | FROM h)
      |SELECT o_orderpriority, CAST(rn AS BIGINT) AS rn, o_orderkey, o_totalprice
      |FROM ranked WHERE rn <= 20
      |ORDER BY o_orderpriority, rn""".stripMargin

  /** Each event opens a 5-minute interval; within-day concurrency caps the
    * interval at midnight so the sweep stays day-local.
    */
  val IntervalMicros: Long = 5L * 60 * 1000000
  val DayMicros: Long = 86400L * 1000000

  /** q_concurrency — peak concurrent 5-minute event intervals per day, by
    * sweep-line: every interval contributes (+1 at start, −1 at end), the
    * running sum over (t, delta, event_id) is the live count, and its max is
    * the answer. Half-open intervals: at equal t the −1 sorts first, so a
    * session ending exactly when another starts never double-counts. The
    * window partitions BY DAY — the global-ordering trap a naive sweep hits
    * at scale is split into independent per-day sorts.
    */
  def concurrency(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
      .select($"event_id", unix_micros($"ts".cast("timestamp")).as("ts_us"),
        to_date($"ts").as("day"))
      .withColumn("day_end_us", unix_micros($"day".cast("timestamp")) + DayMicros)
    val pts = ev.select($"day", $"ts_us".as("t_us"), lit(1L).as("delta"), $"event_id")
      .unionByName(ev.select($"day",
        least($"ts_us" + IntervalMicros, $"day_end_us").as("t_us"),
        lit(-1L).as("delta"), $"event_id"))
    val w = Window.partitionBy($"day").orderBy($"t_us", $"delta", $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    pts.withColumn("live", sum($"delta").over(w))
      .groupBy($"day")
      .agg(
        max($"live").as("max_concurrent"),
        sum(when($"delta" === 1L, 1L).otherwise(0L)).as("n_intervals"))
      .orderBy($"day")
  }

  val concurrencySql: String =
    """WITH ev AS (
      | SELECT event_id, epoch_us(ts) AS ts_us, CAST(ts AS DATE) AS day,
      |  epoch_us(CAST(CAST(ts AS DATE) AS TIMESTAMP)) + 86400000000 AS day_end_us
      | FROM events),
      |pts AS (
      | SELECT day, ts_us AS t_us, 1 AS delta, event_id FROM ev
      | UNION ALL
      | SELECT day, least(ts_us + 300000000, day_end_us) AS t_us, -1 AS delta, event_id FROM ev),
      |run AS (
      | SELECT day, delta,
      |  sum(delta) OVER (PARTITION BY day ORDER BY t_us, delta, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS live
      | FROM pts)
      |SELECT day, CAST(max(live) AS BIGINT) AS max_concurrent,
      | CAST(sum(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_intervals
      |FROM run
      |GROUP BY day
      |ORDER BY day""".stripMargin

  /** q_range_count — for every order, the GLOBAL number of line items
    * shipped inside its 30-day window [o_orderdate, o_orderdate + 30]. The
    * naive form is a range join with no equi key (a nested-loop disaster at
    * scale: |orders| × |window|); the decomposition is the prefix-sum
    * trick — aggregate shipments per day, build a dense calendar spine,
    * take a running cumulative, and answer each order with TWO O(1)
    * lookups: cum(end) − cum(start−1). Costs: one daily aggregate, one
    * window over the GENERATED calendar (O(days) rows — bounded by the date
    * domain, independent of fact volume, so the single-partition window is
    * safe), and two broadcast lookups. This is how a range-aggregate join
    * over 100 TB becomes a map-only pass.
    */
  def rangeCount(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ships = Tables.lineitem(spark, dir)
      .groupBy(to_date($"l_shipdate").as("day"))
      .agg(count(lit(1)).as("n"))
    val orders = Tables.orders(spark, dir)
      .select($"o_orderkey", to_date($"o_orderdate").as("s"))
    // The spine spans every lookup date (order start − 1 .. order end + 30,
    // plus the ship-day domain), so both cum lookups are exact equi-joins.
    val bounds = ships.select($"day")
      .union(orders.select(date_add($"s", -1).as("day")))
      .union(orders.select(date_add($"s", 30).as("day")))
      .agg(min($"day").as("mn"), max($"day").as("mx"))
    val spine = bounds
      .select(explode(sequence($"mn", $"mx", expr("interval 1 day"))).as("day"))
    val cum = spine.join(ships, Seq("day"), "left")
      .select($"day",
        sum(coalesce($"n", lit(0L)))
          .over(Window.orderBy($"day")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .as("c"))
    orders
      .join(broadcast(cum.select($"day".as("e_day"), $"c".as("c_end"))),
        date_add($"s", 30) === $"e_day")
      .join(broadcast(cum.select($"day".as("s_day"), $"c".as("c_start"))),
        date_add($"s", -1) === $"s_day")
      .select($"o_orderkey", ($"c_end" - $"c_start").as("n_window"))
      .orderBy($"o_orderkey")
  }

  val rangeCountSql: String =
    """SELECT o_orderkey, count(l_orderkey) AS n_window
      |FROM orders LEFT JOIN lineitem
      |  ON CAST(l_shipdate AS DATE) >= CAST(o_orderdate AS DATE)
      | AND CAST(l_shipdate AS DATE) <= CAST(o_orderdate AS DATE) + INTERVAL 30 DAY
      |GROUP BY o_orderkey
      |ORDER BY o_orderkey""".stripMargin

  /** q_table_stats — ANALYZE-style column statistics: per column, null
    * count, exact distinct count, and canonical min/max (numerics in
    * integer cents, dates as ISO strings — engine-identical
    * representations). This is the stats-collection pass a cost-based
    * optimizer or DQ profiler runs.
    *
    * Shape: one PRUNED pass per column, unioned. The tempting
    * "one scan, four countDistincts" form plans a 5× Expand of every row
    * through a single aggregate — measured 7 s vs ~1 s at sf0.1 — while
    * on columnar storage per-column passes read exactly the same bytes
    * (each pass scans one column) and their 2-level distinct aggregates
    * run in parallel, so the per-column form wins at every scale.
    */
  def tableStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, dir)
    def statsOf(name: String, c: org.apache.spark.sql.Column) = li.agg(
      count(lit(1)).as("n"),
      sum(when(c.isNull, 1L).otherwise(0L)).as("n_null"),
      countDistinct(c).as("ndv"),
      min(c).cast("string").as("min_repr"),
      max(c).cast("string").as("max_repr"))
      .select(lit(name).as("column_name"), $"n", $"n_null", $"ndv",
        $"min_repr", $"max_repr")
    statsOf("l_quantity", Det.cents($"l_quantity"))
      .unionAll(statsOf("l_extendedprice", Det.cents($"l_extendedprice")))
      .unionAll(statsOf("l_returnflag", $"l_returnflag"))
      .unionAll(statsOf("l_shipdate", to_date($"l_shipdate")))
      .orderBy($"column_name")
  }

  val tableStatsSql: String =
    """WITH a AS (
      | SELECT count(*) AS n,
      |  sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS null_q,
      |  count(DISTINCT l_quantity) AS ndv_q,
      |  CAST(min(CAST(round(l_quantity * 100) AS BIGINT)) AS VARCHAR) AS min_q,
      |  CAST(max(CAST(round(l_quantity * 100) AS BIGINT)) AS VARCHAR) AS max_q,
      |  sum(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) AS null_p,
      |  count(DISTINCT l_extendedprice) AS ndv_p,
      |  CAST(min(CAST(round(l_extendedprice * 100) AS BIGINT)) AS VARCHAR) AS min_p,
      |  CAST(max(CAST(round(l_extendedprice * 100) AS BIGINT)) AS VARCHAR) AS max_p,
      |  sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS null_rf,
      |  count(DISTINCT l_returnflag) AS ndv_rf,
      |  min(l_returnflag) AS min_rf, max(l_returnflag) AS max_rf,
      |  sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS null_sd,
      |  count(DISTINCT CAST(l_shipdate AS DATE)) AS ndv_sd,
      |  CAST(min(CAST(l_shipdate AS DATE)) AS VARCHAR) AS min_sd,
      |  CAST(max(CAST(l_shipdate AS DATE)) AS VARCHAR) AS max_sd
      | FROM lineitem)
      |SELECT 'l_quantity' AS column_name, n, CAST(null_q AS BIGINT) AS n_null,
      |       CAST(ndv_q AS BIGINT) AS ndv, min_q AS min_repr, max_q AS max_repr
      |FROM a
      |UNION ALL SELECT 'l_extendedprice', n, CAST(null_p AS BIGINT),
      |       CAST(ndv_p AS BIGINT), min_p, max_p FROM a
      |UNION ALL SELECT 'l_returnflag', n, CAST(null_rf AS BIGINT),
      |       CAST(ndv_rf AS BIGINT), min_rf, max_rf FROM a
      |UNION ALL SELECT 'l_shipdate', n, CAST(null_sd AS BIGINT),
      |       CAST(ndv_sd AS BIGINT), min_sd, max_sd FROM a
      |ORDER BY column_name""".stripMargin

  /** x_winsorize — robust per-group aggregation: clamp each event's value
    * to its type's exact [p05, p95] (rank-picked like q_quantiles — no
    * interpolation, so both engines select the identical cents) and report
    * the winsorized sum plus how many rows hit each fence. This is the
    * metric-pipeline guard against a few corrupt readings dragging a mean;
    * emitted entirely in integer cents.
    *
    * Scale (round 14): ONE map-side-combined aggregate to the
    * (event_type, cents) DOMAIN, then everything — fence ranks, fence
    * values, clamp counts, the winsorized sum — computes over that frame,
    * whose per-group size is bounded by the cents domain (≤ span values),
    * never by row count. The pre-rewrite shape ranked EVERY row through a
    * per-type window — with a handful of event types that is a giant
    * per-key sort partition at scale (the same hazard the capped-window
    * family mitigates) plus a second full scan for the clamp; here the
    * corpus is touched once, the per-type sort moves ≤ |domain| rows, and
    * the fence value at rank k is read off the cumulative count (the k-th
    * order statistic is the smallest cents whose through-value cumulative
    * reaches k — tie-order independent, like [[Sketch.groupMedian]]).
    */
  def winsorize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    winsorizeOver(Tables.events(spark, dir)
      .select($"event_type", Det.cents($"value").as("c")))
  }

  /** Same pipeline over any (event_type, c: long) frame — the spec seam. */
  def winsorizeOver(ec: DataFrame): DataFrame = {
    import ec.sparkSession.implicits._
    val byVal = ec.groupBy($"event_type", $"c").agg(count(lit(1)).as("cnt"))
    val wCum = Window.partitionBy($"event_type").orderBy($"c")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy($"event_type").orderBy($"c")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val fenced = byVal
      .withColumn("cum", sum($"cnt").over(wCum))
      .withColumn("n", sum($"cnt").over(wAll))
      .withColumn("lo_f",
        min(when($"cum" >= expr("(n * 5 + 99) div 100"), $"c")).over(wAll))
      .withColumn("hi_f",
        min(when($"cum" >= expr("(n * 95 + 99) div 100"), $"c")).over(wAll))
    fenced.groupBy($"event_type")
      .agg(sum($"cnt").as("n"),
        max($"lo_f").as("lo_cents"), max($"hi_f").as("hi_cents"),
        sum(when($"c" < $"lo_f", $"cnt").otherwise(0L)).as("n_lo"),
        sum(when($"c" > $"hi_f", $"cnt").otherwise(0L)).as("n_hi"),
        sum($"cnt" * least(greatest($"c", $"lo_f"), $"hi_f"))
          .as("sum_wins_cents"))
      .orderBy($"event_type")
  }

  val winsorizeSql: String =
    """WITH ec AS (
      | SELECT event_type, event_id, CAST(round(value * 100) AS BIGINT) AS c
      | FROM events),
      |ranked AS (
      | SELECT event_type, c,
      |  row_number() OVER (PARTITION BY event_type ORDER BY c, event_id) AS rn,
      |  count(*) OVER (PARTITION BY event_type) AS n
      | FROM ec),
      |fences AS (
      | SELECT event_type,
      |  max(CASE WHEN rn = floor((n * 5 + 99) / 100.0) THEN c END) AS lo_cents,
      |  max(CASE WHEN rn = floor((n * 95 + 99) / 100.0) THEN c END) AS hi_cents
      | FROM ranked GROUP BY event_type)
      |SELECT ec.event_type, count(*) AS n,
      | max(lo_cents) AS lo_cents, max(hi_cents) AS hi_cents,
      | CAST(sum(CASE WHEN c < lo_cents THEN 1 ELSE 0 END) AS BIGINT) AS n_lo,
      | CAST(sum(CASE WHEN c > hi_cents THEN 1 ELSE 0 END) AS BIGINT) AS n_hi,
      | CAST(sum(least(greatest(c, lo_cents), hi_cents)) AS BIGINT) AS sum_wins_cents
      |FROM ec JOIN fences ON ec.event_type = fences.event_type
      |GROUP BY ec.event_type
      |ORDER BY ec.event_type""".stripMargin

  /** q_quartiles_cont — INTERPOLATED quartiles (PERCENTILE_CONT / type-7)
    * of order value per priority, complementing q_quantiles' exact
    * window-pick (PERCENTILE_DISC) family. Interpolated quantiles of a
    * float column normally can't cross-engine-hash; these do because every
    * arithmetic step is EXACT: the data are integer cents (exact doubles),
    * the rank position (n-1)·q is exact for q ∈ {.25, .5, .75} (dyadic
    * fractions), the interpolation a + d·(b-a) multiplies an
    * integer-valued double by a dyadic fraction (exact) — so no rounding
    * happens anywhere and any algebraically-equivalent formula in any
    * engine produces the identical bits. The final /100.0 is one IEEE
    * division of identical inputs. (For a general q like 0.9 none of this
    * holds — (n-1)·0.9 already rounds — which is exactly why the declared
    * quantile family pins dyadic fractions.)
    *
    * Scale: Spark's exact percentile buffers each group's values — fine
    * for bounded groups (5 priorities × per-group sort); at an unbounded
    * group count switch to bin_counts/approx sketches. Window input is the
    * orders table aggregated per group, one shuffle.
    */
  def quartilesCont(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = Tables.orders(spark, dir)
      .select($"o_orderpriority", Det.cents($"o_totalprice").as("c"))
    o.groupBy($"o_orderpriority")
      .agg(
        (percentile($"c", lit(0.25)) / 100.0).as("p25"),
        (percentile($"c", lit(0.5)) / 100.0).as("median"),
        (percentile($"c", lit(0.75)) / 100.0).as("p75"),
        count(lit(1)).as("n_orders"))
      .orderBy($"o_orderpriority")
  }

  val quartilesContSql: String =
    """WITH c AS (
      | SELECT o_orderpriority,
      |  CAST(round(o_totalprice * 100) AS BIGINT) AS c
      | FROM orders)
      |SELECT o_orderpriority,
      | quantile_cont(c, 0.25) / 100.0 AS p25,
      | quantile_cont(c, 0.5) / 100.0 AS median,
      | quantile_cont(c, 0.75) / 100.0 AS p75,
      | count(*) AS n_orders
      |FROM c
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin


  /** q_rolling_cov — trailing-7-day covariance numerator between daily
    * order count and daily revenue: per day, n·Σxy − Σx·Σy over the last
    * ≤7 daily aggregates, all exact BIGINTs (the windowed form of
    * q_moments' one-pass sketch; float rolling covariance is
    * order-dependent and can never hash-gate). The window is GLOBAL but
    * runs over the daily AGGREGATE — a few thousand rows at any corpus
    * size, same small-frame rationale as x_source_tail; the fact-sized
    * work is one map-side-combined groupBy(day).
    */
  def rollingCov(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily = Tables.orders(spark, dir)
      .groupBy(to_date($"o_orderdate").as("day"))
      .agg(count(lit(1)).as("x"), sum(Det.cents($"o_totalprice")).as("y"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy($"day").rowsBetween(-6, 0)
    daily
      .withColumn("n_days", count(lit(1)).over(w))
      .withColumn("sx", sum($"x").over(w))
      .withColumn("sy", sum($"y").over(w))
      .withColumn("sxy", sum($"x" * $"y").over(w))
      .select($"day", $"n_days",
        ($"n_days" * $"sxy" - $"sx" * $"sy").as("cov_num"))
      .orderBy($"day")
  }

  val rollingCovSql: String =
    """WITH daily AS (
      | SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS x,
      |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS y
      | FROM orders GROUP BY 1)
      |SELECT day, count(*) OVER w AS n_days,
      | CAST(count(*) OVER w * sum(x * y) OVER w
      |      - sum(x) OVER w * sum(y) OVER w AS BIGINT) AS cov_num
      |FROM daily
      |WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
      |ORDER BY day""".stripMargin

  val declared: Seq[Declared] = Seq(
    Declared("q_quartiles_cont", quartilesCont, Some(quartilesContSql)),
    Declared("q_rolling_cov", rollingCov, Some(rollingCovSql)),
    Declared("x_winsorize", winsorize, Some(winsorizeSql)),
    Declared("q_table_stats", tableStats, Some(tableStatsSql)),
    Declared("q_scd2", scd2, Some(scd2Sql)),
    Declared("q_incr_agg", incrAgg, Some(incrAggSql)),
    Declared("x_incr_join_mv", incrJoinMv, Some(incrJoinMvSql)),
    Declared("q_outliers", outliers, Some(outliersSql)),
    Declared("q_sample_stratified", sampleStratified, Some(sampleStratifiedSql)),
    Declared("q_concurrency", concurrency, Some(concurrencySql)),
    Declared("q_range_count", rangeCount, Some(rangeCountSql)))
}
