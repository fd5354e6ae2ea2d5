package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Declared
import graft.io.Tables

/** User-journey shapes over the event stream, complementing [[Sessions]]'
  * gap sessionization and funnel: activity-streak detection (the classic
  * gaps-and-islands pattern) and the event-type transition matrix (the
  * first-order Markov view a product-analytics or RL-from-logs pipeline
  * derives before anything else).
  *
  * Scale notes: both queries window on user_id only — one exchange on the
  * natural key, all users in parallel, never a SinglePartition window; the
  * transition matrix then reduces to a 25-row aggregate with map-side
  * partials. Day arithmetic and counts are exact integers; the transition
  * probability is ONE division of two BIGINTs (engines round a single IEEE
  * op identically — same rule as q_tpch_q14's share).
  */
object Journey {

  /** q_islands — per-user activity streaks: for each user's run of
    * CONSECUTIVE active days (an "island" in the distinct-day sequence),
    * the streak's start day, length in days, and events in it. The island
    * key is the row_number trick: day_number − row_number is constant
    * exactly within a consecutive run.
    *
    * Bot-burst note (the per-user-window hazard
    * [[Sessions.sessionizedCappedOver]] / [[Scd.historyCappedOver]]
    * mitigate): this operator is burst-safe BY CONSTRUCTION — the window
    * runs over the per-(user, day) aggregate, so its partition size is
    * the user's DISTINCT ACTIVE DAYS (calendar-bounded; a 10⁸-event
    * crawler burst on 30 days is 30 window rows), and the event volume is
    * absorbed by the preceding hash aggregate, whose map-side partials
    * spread the burst across input partitions before the shuffle. No
    * capped variant is needed.
    */
  def islands(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val days = Tables.events(spark, dir)
      .select($"user_id",
        // cast to long: DuckDB's datediff is BIGINT, Spark's is INT — the
        // driver compares schemas, so pin the wider type on both sides
        datediff(to_date($"ts".cast("timestamp")), lit("1970-01-01"))
          .cast("long").as("day"))
      .groupBy($"user_id", $"day")
      .agg(count(lit(1)).as("n_events"))
    val w = Window.partitionBy($"user_id").orderBy($"day")
    days
      .withColumn("grp", $"day" - row_number().over(w))
      .groupBy($"user_id", $"grp")
      .agg(min($"day").as("start_day"),
        count(lit(1)).as("streak_days"),
        sum($"n_events").as("n_events"))
      .drop("grp")
      .orderBy($"user_id", $"start_day")
  }

  val islandsSql: String =
    """WITH days AS (
      | SELECT user_id, datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
      |  count(*) AS n_events
      | FROM events GROUP BY 1, 2),
      |grps AS (
      | SELECT user_id, day, n_events,
      |  day - row_number() OVER (PARTITION BY user_id ORDER BY day) AS grp
      | FROM days)
      |SELECT user_id, CAST(min(day) AS BIGINT) AS start_day,
      | count(*) AS streak_days,
      | CAST(sum(n_events) AS BIGINT) AS n_events
      |FROM grps GROUP BY user_id, grp
      |ORDER BY user_id, start_day""".stripMargin

  /** q_transitions — the event-type transition matrix: for every ordered
    * pair (prev_type, next_type) observed consecutively within a user's
    * stream, the transition count and its row-normalized probability.
    * Ordering ties on `ts` break by event_id (same determinism rule as
    * sessionization).
    */
  def transitions(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts".asc, $"event_id".asc)
    val pairs = Tables.events(spark, dir)
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .withColumn("prev_type", lag($"event_type", 1).over(w))
      .filter($"prev_type".isNotNull)
      .groupBy($"prev_type", $"event_type".as("next_type"))
      .agg(count(lit(1)).as("n"))
    val w2 = Window.partitionBy($"prev_type")
    pairs
      .withColumn("p", $"n".cast("double") / sum($"n").over(w2).cast("double"))
      .orderBy($"prev_type", $"next_type")
  }

  val transitionsSql: String =
    """WITH pairs AS (
      | SELECT prev_type, event_type AS next_type, count(*) AS n
      | FROM (
      |  SELECT user_id, event_type,
      |   lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      |  FROM events) t
      | WHERE prev_type IS NOT NULL
      | GROUP BY 1, 2)
      |SELECT prev_type, next_type, n,
      | CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY prev_type) AS DOUBLE) AS p
      |FROM pairs
      |ORDER BY prev_type, next_type""".stripMargin

  val declared: Seq[Declared] = Seq(
    Declared("q_islands", islands, Some(islandsSql)),
    Declared("q_transitions", transitions, Some(transitionsSql)))
}
