package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Declared
import graft.io.Tables

/** Cohort retention CURVES — the normalized week-grain companion of
  * [[Sessions.cohortRetention]]'s raw day-offset activity matrix: weekly
  * cohorts, and each cell expressed as retention PERMILLE of its cohort's
  * own base week, which is the comparable-across-cohorts number a
  * retention dashboard actually plots (reference: `generate_events.py`
  * emits the user/ts clickstream exactly so a warehouse can answer "of
  * the users who first appeared in week W, what share was still active k
  * weeks later?").
  *
  * All week math is integer microseconds: `wk = unix_micros(ts) div
  * week_us` — no calendar truncation, no timezone, engine-exact. The plan
  * is two hash aggregates and one co-partitioned join: distinct (user, wk)
  * and per-user min(wk) both shuffle on `user_id`, so the join between
  * them adds NO third exchange; the final (cohort, offset) rollup is a
  * bounded-cardinality aggregate (weeks², not rows). The offset-0 base row
  * every cohort necessarily has (its own first week) makes the
  * retention_permille join total — never drops a cohort.
  *
  * At 100 TB: events shuffle once on user_id (the sessionization
  * partitioning — AQE skew split applies to bot users), everything after
  * the first aggregate is weeks²-bounded. No windows, no driver state.
  */
object Cohort {

  val WeekMicros: Long = 7L * 24 * 3600 * 1000000L

  /** x_cohort_retention — (cohort_wk, week_offset) → active users and
    * retention relative to the cohort's size in its first week.
    */
  def cohortRetention(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val uw = Tables.events(spark, dir)
      .select($"user_id",
        expr(s"unix_micros(cast(ts as timestamp)) div ${WeekMicros}L").as("wk"))
      .distinct()
    val cohorts = uw.groupBy($"user_id").agg(min($"wk").as("cohort_wk"))
    val act = uw.join(cohorts, "user_id")
      .groupBy($"cohort_wk", ($"wk" - $"cohort_wk").as("week_offset"))
      .agg(count(lit(1)).as("n_users"))
    val base = act.filter($"week_offset" === 0)
      .select($"cohort_wk", $"n_users".as("n0"))
    act.join(broadcast(base), "cohort_wk")
      .select($"cohort_wk", $"week_offset", $"n_users",
        expr("n_users * 1000 div n0").as("retention_permille"))
      .orderBy($"cohort_wk", $"week_offset")
  }

  val cohortRetentionSql: String =
    s"""WITH uw AS (
       | SELECT DISTINCT user_id, epoch_us(ts) // ${WeekMicros} AS wk FROM events),
       |ch AS (SELECT user_id, min(wk) AS cohort_wk FROM uw GROUP BY 1),
       |act AS (
       | SELECT ch.cohort_wk, uw.wk - ch.cohort_wk AS week_offset,
       |  count(*) AS n_users
       | FROM uw JOIN ch ON uw.user_id = ch.user_id GROUP BY 1, 2),
       |base AS (SELECT cohort_wk, n_users AS n0 FROM act WHERE week_offset = 0)
       |SELECT a.cohort_wk, a.week_offset, a.n_users,
       | a.n_users * 1000 // b.n0 AS retention_permille
       |FROM act a JOIN base b ON a.cohort_wk = b.cohort_wk
       |ORDER BY a.cohort_wk, a.week_offset""".stripMargin

  val declared: Seq[Declared] = Seq(
    Declared("x_cohort_retention", cohortRetention, Some(cohortRetentionSql)))
}
