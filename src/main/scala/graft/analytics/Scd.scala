package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Declared
import graft.io.Tables

/** Slowly-changing-dimension (type 2) construction from a change stream —
  * collapse each user's event-type sequence into validity intervals
  * [valid_from, valid_to) with an is_current flag, the warehouse
  * dimension-history build [[Upsert]] (type 1, latest-wins) doesn't cover
  * (§2.3 warehouse contract; the reference's orders feed is exactly the
  * change-capture input such a build consumes).
  *
  * Run detection is the gaps-and-islands pattern ([[Islands]]): a run
  * opens where the event type changes, one aggregate per (user, run) keeps
  * first/last/extent, and lead() closes each interval with the next run's
  * start — half-open intervals, so consecutive rows tile the timeline
  * exactly. All timestamps integer µs; ties broken by event_id.
  *
  * At 100 TB: every window partitions by user_id (one exchange, the
  * sessionization partitioning, AQE skew split applies) — run numbering,
  * the run rollup, and interval closing all reuse it; nothing global,
  * output is runs (≪ events).
  */
object Scd {

  /** The type-2 interval frame both queries share: one row per (user, run)
    * with half-open validity `[valid_from_us, valid_to_us)` (`valid_to_us`
    * NULL on the open current interval). Factored out so the PIT lookup
    * probes EXACTLY the history the build publishes — any drift between
    * the two would be a correctness bug, not a tuning choice.
    */
  private def history(spark: SparkSession, dir: String): DataFrame =
    historyOver(Tables.events(spark, dir))

  /** The run rule, written once: an event opens a run when the previous
    * event's type is NULL (or there is none) or differs from its own. The
    * three-valued <> reads a NULL current type after a non-null one as
    * "continues".
    */
  private val opensRun: (Column, Column) => Column =
    (prev, cur) => prev.isNull || prev =!= cur

  private def runOrder: Seq[Column] =
    Seq(col("tus").asc_nulls_first, col("event_id").asc)

  private def withTus(events: DataFrame): DataFrame =
    events.select(col("event_id"), col("user_id"), col("event_type"),
      unix_micros(col("ts").cast("timestamp")).as("tus"))

  /** Frame-parametric core over any (event_id, user_id, event_type, ts)
    * frame — the seam the generated-data property suite drives.
    */
  def historyOver(events: DataFrame): DataFrame =
    runRollup(Islands.number(withTus(events), "user_id", runOrder, col("event_type"),
      opensRun, "run"))

  /** The shared rollup tail: run-labeled events → the 7-column interval
    * contract. ONE definition, so the atomic and capped plans can never
    * drift on the output shape their shared oracle pins.
    *
    * min_by on the event order, not first(): a run is opened by its first
    * event and possibly continued by NULL-typed events (the run rule's
    * three-valued <> reads a null current type as "continues"), so first()
    * could nondeterministically surface a continuation NULL where the
    * opener's type is the contract. min_by's struct ordering is
    * null-field-first — exactly the window's asc_nulls_first order.
    */
  private def runRollup(runLabeled: DataFrame): DataFrame = {
    import runLabeled.sparkSession.implicits._
    val byRun = Window.partitionBy($"user_id").orderBy($"run".asc)
    runLabeled
      .groupBy($"user_id", $"run")
      .agg(min_by($"event_type", struct($"tus", $"event_id")).as("event_type"),
        min($"tus").as("valid_from_us"), count(lit(1)).as("n_events"))
      .withColumn("valid_to_us", lead($"valid_from_us", 1).over(byRun))
      .withColumn("is_current", $"valid_to_us".isNull)
      .select($"user_id", $"run", $"event_type", $"valid_from_us",
        $"valid_to_us", $"n_events", $"is_current")
  }

  /** Type-2 history WITHOUT the atomic per-user window partition — the
    * bot-burst mitigation [[Sessions.sessionizedCappedOver]] applies to
    * sessionization, through the same [[Islands.numberCapped]] kernel.
    * Exact, not approximate: same rows as [[historyOver]] on any input,
    * pinned by the shared `x_scd2_build` oracle and the parity spec (NULL
    * event types and NULL timestamps included). The run rollup then
    * aggregates on (user_id, run) — hash-partitioned on BOTH keys, so a
    * bot user's events spread across reducers by run — and only the
    * interval-closing lead() runs on a per-user partition, over the RUNS
    * frame (one row per state change, ≪ events).
    */
  def historyCappedOver(events: DataFrame, slices: Int = 0): DataFrame =
    runRollup(Islands.numberCapped(withTus(events), "user_id", runOrder,
      col("event_type"), opensRun, "run", slices))

  /** x_scd2_build — per-user type-2 history rows. */
  def scd2Build(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    history(spark, dir).orderBy($"user_id", $"run")
  }

  /** x_scd2_capped — the SAME history as `x_scd2_build`, answered by
    * [[historyCappedOver]]'s bounded-partition plan and gated on the SAME
    * oracle SQL — the parity pin that makes the mitigation's exactness a
    * per-round hash check (the `q_sessionize_capped` pattern).
    */
  def scd2BuildCapped(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    historyCappedOver(Tables.events(spark, dir)).orderBy($"user_id", $"run")
  }

  val scd2BuildSql: String =
    """WITH e AS (
      | SELECT event_id, user_id, event_type, epoch_us(ts) AS tus
      | FROM events),
      |chg AS (
      | SELECT *, CASE WHEN lag(event_type) OVER w IS NULL
      |                  OR lag(event_type) OVER w <> event_type
      |           THEN 1 ELSE 0 END AS chg
      | FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
      |runs AS (
      | SELECT *, CAST(sum(chg) OVER (PARTITION BY user_id ORDER BY tus, event_id
      |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run
      | FROM chg),
      |grp AS (
      | SELECT user_id, run, any_value(event_type) AS event_type,
      |  min(tus) AS valid_from_us, count(*) AS n_events
      | FROM runs GROUP BY 1, 2)
      |SELECT user_id, run, event_type, valid_from_us,
      | lead(valid_from_us) OVER (PARTITION BY user_id ORDER BY run)
      |   AS valid_to_us,
      | n_events,
      | lead(valid_from_us) OVER (PARTITION BY user_id ORDER BY run) IS NULL
      |   AS is_current
      |FROM grp
      |ORDER BY user_id, run""".stripMargin

  /** x_pit_join — point-in-time dimensional lookup: for every purchase,
    * the user's type-2 state ONE MICROSECOND BEFORE the purchase instant
    * ("what was this user doing just before buying"), rolled up per prior
    * state. The PIT join is the warehouse op [[scd2Build]] exists to
    * serve — fact row + effective date ⋈ dimension history on
    * `key = key AND valid_from ≤ t < valid_to` — and the probe at
    * `t = tus − 1 µs` makes it non-degenerate: a purchase that OPENS its
    * own run resolves to the PREVIOUS interval, while a purchase inside an
    * ongoing purchase run resolves to `purchase` (a repeat buy). A user's
    * first-ever event probes before the first interval and surfaces as
    * `(none)` via the left join — first-touch purchases are a real cohort,
    * not a dropped row.
    *
    * Scale shape: the history build reuses the [[history]] user-partitioned
    * windows (one exchange); the join is an EQUI-join on `user_id` with the
    * containment predicate evaluated inside the join (per-user intervals
    * are few and tile the timeline, so each probe matches ≤ 1 row — no
    * fan-out). At 100 TB the dimension history is runs ≪ events: broadcast
    * it, or co-partition both sides on `user_id` and reuse the exchange the
    * window build already paid for.
    */
  def pitJoin(spark: SparkSession, dir: String): DataFrame =
    pitJoinOver(Tables.events(spark, dir))

  /** Frame-parametric core of [[pitJoin]]. */
  def pitJoinOver(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    val dim = historyOver(events)
      .select($"user_id".as("d_user"), $"event_type".as("state"),
        $"valid_from_us", $"valid_to_us")
    val fact = events
      .filter($"event_type" === "purchase")
      .select($"event_id", $"user_id",
        (unix_micros($"ts".cast("timestamp")) - 1L).as("t"))
    // merge hint: the history grows with the user count (one row per
    // user-run), so whether it broadcasts should never ride on Spark's
    // post-window/agg size estimate — which the round-9 `scd` stress
    // measured wrong by >3x on this shape (a ~30 MB, 2.1M-row history
    // still estimated under the 10 MB threshold and broadcast; that plan
    // scaled superlinearly, 3.3 s at 1M events -> 40.9 s at 4M, vs linear
    // once shuffled). The pinned sort-merge on user_id is also simply the
    // better plan at ANY scale here: it reuses the exchange AND the
    // (user_id, run) sort the interval build just paid on the dim side,
    // so only the fact side ships — measured faster than the broadcast
    // plan even at fixture scale (1.04 s vs 1.3 s, sf0.1).
    fact.join(dim.hint("merge"),
        fact("user_id") === dim("d_user") &&
          dim("valid_from_us") <= fact("t") &&
          (dim("valid_to_us").isNull || fact("t") < dim("valid_to_us")),
        "left")
      .groupBy(coalesce($"state", lit("(none)")).as("prior_state"))
      .agg(count(lit(1)).as("n_purchases"),
        countDistinct($"user_id").as("n_users"))
      .orderBy($"prior_state")
  }

  val pitJoinSql: String =
    """WITH e AS (
      | SELECT event_id, user_id, event_type, epoch_us(ts) AS tus
      | FROM events),
      |chg AS (
      | SELECT *, CASE WHEN lag(event_type) OVER w IS NULL
      |                  OR lag(event_type) OVER w <> event_type
      |           THEN 1 ELSE 0 END AS chg
      | FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
      |runs AS (
      | SELECT *, CAST(sum(chg) OVER (PARTITION BY user_id ORDER BY tus, event_id
      |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run
      | FROM chg),
      |dim AS (
      | SELECT user_id AS d_user, any_value(event_type) AS state,
      |  min(tus) AS valid_from_us,
      |  lead(min(tus)) OVER (PARTITION BY user_id ORDER BY run) AS valid_to_us
      | FROM runs GROUP BY user_id, run),
      |fact AS (
      | SELECT event_id, user_id, epoch_us(ts) - 1 AS t
      | FROM events WHERE event_type = 'purchase')
      |SELECT coalesce(state, '(none)') AS prior_state,
      | count(*) AS n_purchases,
      | count(DISTINCT user_id) AS n_users
      |FROM fact LEFT JOIN dim
      | ON fact.user_id = dim.d_user
      |  AND dim.valid_from_us <= fact.t
      |  AND (dim.valid_to_us IS NULL OR fact.t < dim.valid_to_us)
      |GROUP BY 1
      |ORDER BY prior_state""".stripMargin

  val declared: Seq[Declared] = Seq(
    Declared("x_scd2_build", scd2Build, Some(scd2BuildSql)),
    Declared("x_scd2_capped", scd2BuildCapped, Some(scd2BuildSql)),
    Declared("x_pit_join", pitJoin, Some(pitJoinSql)))
}
