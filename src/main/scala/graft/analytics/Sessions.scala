package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Declared
import graft.io.Tables
import graft.util.Det

/** Clickstream session analytics — the reconstructed contract of the
  * reference's absent Spark job (SURVEY.md §2.3): gap-based sessionization,
  * per-session stats, funnel conversion.
  *
  * Scale notes: sessionization partitions by user_id — the canonical skew
  * hazard (bot/power users). The window shuffle is one exchange on user_id,
  * and a window partition is ATOMIC: AQE's skew machinery splits join
  * partitions, not window partitions, so a 10⁸-event bot user is a
  * structural single-task straggler (measured in the round-9 `sessions`
  * stress: the max per-task shuffle-read count jumps from ~n/32 to the
  * burst size, with correctness unaffected). [[sessionizedCappedOver]] is
  * the executable mitigation: a range-partitioned split-and-stitch whose
  * max window partition is bounded by the range slice size regardless of
  * key skew, proven bit-identical to the atomic plan (shared oracle +
  * stress parity). All gap math is integer microseconds
  * (`unix_micros`) — exact, engine-independent, no float drift. Ties on `ts`
  * are broken by `event_id` so session assignment is fully deterministic.
  */
object Sessions {

  val GapMicros: Long = 30L * 60 * 1000000 // 30-minute session gap

  /** Events with a per-user gap-based `session_id` column attached. */
  def sessionized(spark: SparkSession, dir: String): DataFrame =
    sessionizedOver(Tables.events(spark, dir))

  /** The session rule, written once: an event opens a session when it has
    * no predecessor (or the predecessor's ts is NULL), or follows it by more
    * than [[GapMicros]]. A NULL current ts reads "not > gap" and continues.
    */
  private val opensSession: (Column, Column) => Column =
    (prev, cur) => prev.isNull || cur - prev > GapMicros

  /** Per-user event order: derived `ts_us` (nulls first), ties by event_id. */
  private def eventOrder: Seq[Column] =
    Seq(col("ts_us").asc_nulls_first, col("event_id").asc)

  private def withTsUs(events: DataFrame): DataFrame =
    events.withColumn("ts_us", unix_micros(col("ts").cast("timestamp")))

  /** Frame-parametric core over any (event_id, user_id, ts, ...) frame —
    * the seam the scale-stress scenario drives (same pattern as
    * [[Scd.historyOver]]). Adds `ts_us` and `session_id`. Orders on the
    * DERIVED ts_us, not raw ts — the key [[sessionizedCappedOver]]
    * range-partitions on, so the two plans agree on event order for ANY ts
    * column (a string ts whose lexical order disagrees with its parsed
    * order, or values that cast to NULL, would otherwise diverge). For
    * TimestampType ts, unix_micros is order-isomorphic to ts.
    */
  def sessionizedOver(events: DataFrame): DataFrame =
    Islands.number(withTsUs(events), "user_id", eventOrder, col("ts_us"),
      opensSession, "session_id")

  /** Gap-based sessionization WITHOUT the atomic per-user window partition —
    * the bot-burst mitigation the object scaladoc names, through
    * [[Islands.numberCapped]]. Exact, not approximate: the SAME `session_id`
    * for every event as [[sessionizedOver]] on any input (null timestamps
    * included), pinned by the shared `q_sessionize` oracle and the
    * stress-scenario parity count. The price of the bounded straggler: one
    * range exchange + one (slice, user) hash exchange instead of one
    * user_id exchange, plus a summary-sized join.
    */
  def sessionizedCappedOver(events: DataFrame, slices: Int = 0): DataFrame =
    Islands.numberCapped(withTsUs(events), "user_id", eventOrder, col("ts_us"),
      opensSession, "session_id", slices)

  /** q_sessionize_capped — the SAME assignment as `q_sessionize`, answered
    * by [[sessionizedCappedOver]]'s bounded-partition plan and gated on the
    * SAME oracle SQL — the parity pin that makes the mitigation's
    * exactness a per-round hash check, not a claim (the `q_asof_native`
    * pattern).
    */
  def sessionizeCapped(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    sessionizedCappedOver(Tables.events(spark, dir))
      .select($"event_id", $"user_id", $"session_id")
      .orderBy($"user_id", $"event_id")
  }

  /** q_sessionize — (event → session id) assignment, the lag+running-sum form. */
  def sessionize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    sessionized(spark, dir)
      .select($"event_id", $"user_id", $"session_id")
      .orderBy($"user_id", $"event_id")
  }

  val sessionizeSql: String =
    """SELECT event_id, user_id,
      | CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |FROM (
      | SELECT event_id, user_id, ts,
      |  CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
      |        OR epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
      |       THEN 1 ELSE 0 END AS new_sess
      | FROM events) t
      |ORDER BY user_id, event_id""".stripMargin

  /** q_session_stats — per (user, session): size, span, value, distinct types. */
  def sessionStats(spark: SparkSession, dir: String): DataFrame =
    sessionStatsOver(Tables.events(spark, dir))

  /** Frame-parametric core of [[sessionStats]]; the groupBy reuses the
    * window's user_id exchange (HashPartitioning(user_id) satisfies the
    * (user_id, session_id) clustering), so the rollup is exchange-free
    * above the sessionization.
    */
  def sessionStatsOver(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    sessionizedOver(events)
      .groupBy($"user_id", $"session_id")
      .agg(
        count(lit(1)).as("n_events"),
        (max($"ts_us") - min($"ts_us")).as("span_us"),
        Det.decSum($"value").as("session_value"),
        countDistinct($"event_type").as("n_event_types"))
      .orderBy($"user_id", $"session_id")
  }

  val sessionStatsSql: String =
    """WITH s AS (
      | SELECT *, CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      | FROM (
      |  SELECT *,
      |   CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
      |         OR epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
      |        THEN 1 ELSE 0 END AS new_sess
      |  FROM events) t)
      |SELECT user_id, session_id, count(*) AS n_events,
      | max(epoch_us(ts)) - min(epoch_us(ts)) AS span_us,
      | CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS session_value,
      | count(DISTINCT event_type) AS n_event_types
      |FROM s
      |GROUP BY user_id, session_id
      |ORDER BY user_id, session_id""".stripMargin

  /** q_funnel — global event-type counts plus per-user conversion funnel
    * (signup → view → click → purchase), folded to one row.
    */
  def funnel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .groupBy($"user_id")
      .agg(
        max(when($"event_type" === "signup", 1L).otherwise(0L)).as("has_signup"),
        max(when($"event_type" === "view", 1L).otherwise(0L)).as("has_view"),
        max(when($"event_type" === "click", 1L).otherwise(0L)).as("has_click"),
        max(when($"event_type" === "purchase", 1L).otherwise(0L)).as("has_purchase"))
      .agg(
        count(lit(1)).as("n_users"),
        sum($"has_signup").as("n_signup"),
        sum($"has_view").as("n_view"),
        sum($"has_click").as("n_click"),
        sum($"has_purchase").as("n_purchase"),
        sum($"has_view" * $"has_purchase").as("n_view_and_purchase"))
  }

  /** Completion window for [[funnelWindow]]: first view → purchase. */
  val FunnelWindowMicros: Long = 3600L * 1000000

  /** q_funnel_window — an ORDERED, time-bounded, FIRST-ENTRY-ANCHORED
    * funnel, complementing [[funnel]]'s unordered presence counts: a user
    * advances a stage only by an event AT OR AFTER the previous stage's
    * entry time (first view → first click after it → first purchase after
    * that), and "converted" means the whole chain closed within
    * [[FunnelWindowMicros]] of the FIRST view. Note this is deliberately
    * narrower than ClickHouse's `windowFunnel`, which slides the window
    * over every candidate entry event and maximizes stage depth — a user
    * whose first view ages out but who converts from a later view counts
    * there and not here. The oracle SQL encodes the same first-entry
    * anchoring, so the gate pins these exact semantics.
    *
    * Staged min-aggregates instead of per-user event-sequence windows:
    * each stage is a filter + hash aggregate + equi-join on user_id — all
    * stages co-partition on the same key after the first exchange, and
    * nothing holds a user's full event list in memory (the sort-based
    * sequence-match form does, and a bot user with 10⁸ events kills it).
    * All timestamps are exact integer µs.
    */
  def funnelWindow(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.events(spark, dir)
      .select($"user_id", $"event_type", unix_micros($"ts").as("us"))
    val t1 = e.filter($"event_type" === "view")
      .groupBy($"user_id").agg(min($"us").as("t1"))
    val t2 = e.filter($"event_type" === "click")
      .join(t1, Seq("user_id")).filter($"us" >= $"t1")
      .groupBy($"user_id", $"t1").agg(min($"us").as("t2"))
    val t3 = e.filter($"event_type" === "purchase")
      .join(t2, Seq("user_id")).filter($"us" >= $"t2")
      .groupBy($"user_id", $"t1", $"t2").agg(min($"us").as("t3"))
    t1.agg(count(lit(1)).as("n_view"))
      .crossJoin(t2.agg(count(lit(1)).as("n_click_after")))
      .crossJoin(t3.agg(count(lit(1)).as("n_purchase_after"),
        coalesce(sum(when($"t3" - $"t1" <= FunnelWindowMicros, 1L).otherwise(0L)),
          lit(0L)).as("n_completed_1h")))
  }

  val funnelWindowSql: String =
    s"""WITH t1 AS (
       | SELECT user_id, min(epoch_us(ts)) AS t1 FROM events
       | WHERE event_type = 'view' GROUP BY 1),
       |t2 AS (
       | SELECT e.user_id, t1.t1, min(epoch_us(e.ts)) AS t2
       | FROM events e JOIN t1 ON e.user_id = t1.user_id
       | WHERE e.event_type = 'click' AND epoch_us(e.ts) >= t1.t1
       | GROUP BY 1, 2),
       |t3 AS (
       | SELECT e.user_id, t2.t1, t2.t2, min(epoch_us(e.ts)) AS t3
       | FROM events e JOIN t2 ON e.user_id = t2.user_id
       | WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= t2.t2
       | GROUP BY 1, 2, 3)
       |SELECT (SELECT count(*) FROM t1) AS n_view,
       | (SELECT count(*) FROM t2) AS n_click_after,
       | (SELECT count(*) FROM t3) AS n_purchase_after,
       | (SELECT count(*) FROM t3
       |  WHERE t3 - t1 <= $FunnelWindowMicros) AS n_completed_1h""".stripMargin

  val funnelSql: String =
    """SELECT count(*) AS n_users,
      | CAST(sum(has_signup) AS BIGINT) AS n_signup,
      | CAST(sum(has_view) AS BIGINT) AS n_view,
      | CAST(sum(has_click) AS BIGINT) AS n_click,
      | CAST(sum(has_purchase) AS BIGINT) AS n_purchase,
      | CAST(sum(has_view * has_purchase) AS BIGINT) AS n_view_and_purchase
      |FROM (
      | SELECT user_id,
      |  max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS has_signup,
      |  max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS has_view,
      |  max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS has_click,
      |  max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS has_purchase
      | FROM events GROUP BY user_id) u""".stripMargin

  /** q_window_running — explicit ROWS frame: per-user running event count and
    * exact running value (cumulative frames family, SURVEY.md §2.2 windows).
    */
  def windowRunning(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    windowRunningOverFor(Tables.events(spark, dir))
      .orderBy($"user_id", $"event_id")
  }

  /** Frame-parametric core of [[windowRunning]] — ordered on derived
    * `ts_us` (nulls first) + event_id, the [[sessionizedOver]] order.
    */
  def windowRunningOverFor(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    val w = Window.partitionBy($"user_id").orderBy(eventOrder: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    withTsUs(events)
      .select($"event_id", $"user_id",
        count(lit(1)).over(w).as("n_so_far"),
        (sum(Det.cents($"value")).over(w).cast("double") / 100.0).as("value_so_far"))
  }

  val windowRunningSql: String =
    """SELECT event_id, user_id,
      | count(*) OVER w AS n_so_far,
      | CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER w AS DOUBLE) / 100.0 AS value_so_far
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |ORDER BY user_id, event_id""".stripMargin

  /** q_user_stats_salted — per-user lifetime stats THROUGH the two-phase
    * salted aggregate ([[Skew.twoPhaseAgg]]): partial-aggregate on
    * (user_id, salt) spreads a bot/power user over 8 reducers, the final
    * aggregate merges per-salt partials. The oracle is the plain one-level
    * SQL — passing the hash gate proves the salted plan is value-identical
    * to the unsalted aggregate (all aggregates here are algebraic: counts,
    * integer-cent sums, min/max).
    */
  def userStatsSalted(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
      .withColumn("cents", Det.cents($"value"))
      .withColumn("ts_us", unix_micros($"ts".cast("timestamp")))
    Skew.twoPhaseAgg(ev, $"user_id", $"event_id", saltBuckets = 8,
      partial = Seq(count(lit(1)).as("pn"), sum($"cents").as("pc"),
        min($"ts_us").as("pmin"), max($"ts_us").as("pmax")),
      fin = Seq(sum($"pn").as("n_events"),
        (sum($"pc").cast("double") / 100.0).as("total_value"),
        (max($"pmax") - min($"pmin")).as("span_us")),
      keyName = "user_id")
      .select($"user_id", $"n_events", $"total_value", $"span_us")
      .orderBy($"user_id")
  }

  val userStatsSaltedSql: String =
    """SELECT user_id, count(*) AS n_events,
      | CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_value,
      | max(epoch_us(ts)) - min(epoch_us(ts)) AS span_us
      |FROM events
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  /** q_event_counts — plain per-type counts (the funnel's first view). */
  def eventCounts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"))
      .orderBy($"event_type")
  }

  val eventCountsSql: String =
    """SELECT event_type, count(*) AS n_events
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** q_latest_event — keep-latest-per-key compaction (the CDC/upsert dedup
    * every warehouse runs before serving a mutable table): one row per user,
    * the most recent event, deterministic tie-break on event_id. One shuffle
    * on the key; row_number + filter(rn=1) lets Spark discard non-latest
    * rows during the sort — no full-history materialization per key.
    */
  def latestEvent(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts".desc, $"event_id".desc)
    Tables.events(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"user_id", $"event_id", $"ts", $"event_type", $"value")
      .orderBy($"user_id")
  }

  val latestEventSql: String =
    """SELECT user_id, event_id, ts, event_type, value
      |FROM (
      | SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      | FROM events) t
      |WHERE rn = 1
      |ORDER BY user_id""".stripMargin

  /** q_cohort_retention — day-N retention matrix: users bucketed by
    * first-seen day, counted distinct on each offset day they return.
    * Two aggregates plus one join on user_id; output is bounded by
    * days², independent of event volume.
    */
  def cohortRetention(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val days = Tables.events(spark, dir)
      .select($"user_id", to_date($"ts").as("d"))
    val first = days.groupBy($"user_id").agg(min($"d").as("cohort_day"))
    days.join(first, "user_id")
      .groupBy($"cohort_day", datediff($"d", $"cohort_day").cast("long").as("day_offset"))
      .agg(countDistinct($"user_id").as("n_active"))
      .orderBy($"cohort_day", $"day_offset")
  }

  val cohortRetentionSql: String =
    """WITH days AS (
      | SELECT user_id, CAST(ts AS DATE) AS d FROM events),
      |first AS (
      | SELECT user_id, min(d) AS cohort_day FROM days GROUP BY user_id)
      |SELECT cohort_day, CAST(d - cohort_day AS BIGINT) AS day_offset,
      | count(DISTINCT days.user_id) AS n_active
      |FROM days JOIN first ON days.user_id = first.user_id
      |GROUP BY cohort_day, d - cohort_day
      |ORDER BY cohort_day, day_offset""".stripMargin

  /** q_sliding_distinct — 7-day trailing distinct users per day (the
    * rolling-DAU metric). COUNT DISTINCT does not decompose over a sliding
    * window, so the naive form is a range join (every report day scanning
    * its 7-day slice — |days| passes over the facts). The scalable form
    * inverts it: each ACTIVE (user, day) contributes itself to exactly the
    * 7 report days it can appear in — a bounded sequence+explode (×7, the
    * window length) — and ONE distinct aggregate per report day finishes
    * the job. Report days cover the event span; leading partial windows
    * are included (same as the range-join form).
    */
  def slidingDistinct(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val active = Tables.events(spark, dir)
      .select($"user_id", to_date($"ts").as("d")).distinct()
    val span = active.agg(min($"d").as("mn"), max($"d").as("mx"))
    active.crossJoin(broadcast(span))
      .select($"user_id",
        explode(sequence($"d",
          least(date_add($"d", 6), $"mx"), expr("interval 1 day"))).as("day"))
      .groupBy($"day")
      .agg(countDistinct($"user_id").as("n_users_7d"))
      .orderBy($"day")
  }

  val slidingDistinctSql: String =
    """WITH days AS (
      | SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
      |b AS (SELECT min(d) AS mn, max(d) AS mx FROM days),
      |spine AS (
      | SELECT CAST(unnest(generate_series(mn, mx, INTERVAL 1 DAY)) AS DATE) AS day FROM b)
      |SELECT day, count(DISTINCT user_id) AS n_users_7d
      |FROM spine JOIN days
      |  ON days.d <= spine.day AND days.d >= spine.day - INTERVAL 6 DAY
      |GROUP BY day
      |ORDER BY day""".stripMargin

  /** q_ohlc — per-day/type OHLC downsampling (the time-series compaction
    * every metrics store runs): open/close via `min_by`/`max_by` over a
    * (ts, event_id) struct — a hash aggregate with map-side partials, NOT
    * a first_value window (which would sort every event); high/low/count
    * ride the same aggregate. Values in exact cents; tie-break pinned by
    * event_id so the result hashes identically under any partitioning.
    */
  def ohlc(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cents = graft.util.Det.cents($"value")
    Tables.events(spark, dir)
      .groupBy(to_date($"ts").as("day"), $"event_type")
      .agg(
        min_by(cents, struct($"ts", $"event_id")).as("open_cents"),
        max_by(cents, struct($"ts", $"event_id")).as("close_cents"),
        max(cents).as("high_cents"),
        min(cents).as("low_cents"),
        count(lit(1)).as("n_events"))
      .withColumn("day", $"day".cast("string"))
      .orderBy($"day", $"event_type")
  }

  val ohlcSql: String =
    """SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, event_type,
      | first(CAST(round(value * 100) AS BIGINT) ORDER BY ts, event_id)
      |   AS open_cents,
      | last(CAST(round(value * 100) AS BIGINT) ORDER BY ts, event_id)
      |   AS close_cents,
      | max(CAST(round(value * 100) AS BIGINT)) AS high_cents,
      | min(CAST(round(value * 100) AS BIGINT)) AS low_cents,
      | count(*) AS n_events
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY day, event_type""".stripMargin

  val declared: Seq[Declared] = Seq(
    Declared("q_ohlc", ohlc, Some(ohlcSql)),
    Declared("q_sliding_distinct", slidingDistinct, Some(slidingDistinctSql)),
    Declared("q_sessionize", sessionize, Some(sessionizeSql)),
    Declared("q_sessionize_capped", sessionizeCapped, Some(sessionizeSql)),
    Declared("q_session_stats", sessionStats, Some(sessionStatsSql)),
    Declared("q_funnel", funnel, Some(funnelSql)),
    Declared("q_funnel_window", funnelWindow, Some(funnelWindowSql)),
    Declared("q_window_running", windowRunning, Some(windowRunningSql)),
    Declared("q_user_stats_salted", userStatsSalted, Some(userStatsSaltedSql)),
    Declared("q_event_counts", eventCounts, Some(eventCountsSql)),
    Declared("q_latest_event", latestEvent, Some(latestEventSql)),
    Declared("q_cohort_retention", cohortRetention, Some(cohortRetentionSql)))
}
