package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Declared
import graft.io.Tables

/** Session path analysis — the top entry paths (first [[PathSteps]] event
  * types per session), the "how do sessions start" distribution a funnel
  * ([[Sessions.funnelWindow]]) presupposes and a Sankey diagram renders.
  * Uses the same gap-based session assignment as [[Sessions.sessionized]]
  * (same GapMicros constant interpolated into the oracle, so the two can
  * never desynchronize).
  *
  * Path strings assemble from a rank-keyed struct sort (`sort_array` of
  * (rn, type) — rn unique within session, so the concatenation order is
  * total), mirrored by the oracle's `string_agg(... ORDER BY rn)`.
  *
  * At 100 TB: everything through the final rollup rides ONE user_id
  * exchange (sessionization window, per-session ranking, the session
  * rollup all share it); the path aggregate's cardinality is bounded by
  * |event types|^steps, and the top-k cut is totally ordered (n desc,
  * path) so ties never flap.
  */
object Paths {

  val PathSteps = 3
  val TopPaths = 20

  /** x_session_paths — top session-opening paths with session counts. */
  def sessionPaths(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val bySession = Window.partitionBy($"user_id", $"session_id")
      .orderBy($"ts_us".asc, $"event_id".asc)
    Sessions.sessionized(spark, dir)
      .withColumn("rn", row_number().over(bySession))
      .filter($"rn" <= PathSteps)
      .groupBy($"user_id", $"session_id")
      .agg(expr(
        """array_join(transform(sort_array(collect_list(struct(rn, event_type))),
          |           x -> x.event_type), '>')""".stripMargin).as("path"))
      .groupBy($"path")
      .agg(count(lit(1)).as("n_sessions"))
      .orderBy($"n_sessions".desc, $"path")
      .limit(TopPaths)
  }

  val sessionPathsSql: String =
    s"""WITH e AS (
       | SELECT event_id, user_id, event_type, epoch_us(ts) AS tus,
       |  CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
       |         OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > ${Sessions.GapMicros}
       |       THEN 1 ELSE 0 END AS new_sess
       | FROM events
       | WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
       |s AS (
       | SELECT *, sum(new_sess) OVER (PARTITION BY user_id
       |   ORDER BY tus, event_id
       |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
       | FROM e),
       |rn AS (
       | SELECT *, row_number() OVER (PARTITION BY user_id, session_id
       |   ORDER BY tus, event_id) AS rn
       | FROM s),
       |p AS (
       | SELECT user_id, session_id,
       |  string_agg(event_type, '>' ORDER BY rn) AS path
       | FROM rn WHERE rn <= ${PathSteps} GROUP BY 1, 2)
       |SELECT path, count(*) AS n_sessions
       |FROM p GROUP BY 1
       |ORDER BY n_sessions DESC, path
       |LIMIT ${TopPaths}""".stripMargin

  val declared: Seq[Declared] = Seq(
    Declared("x_session_paths", sessionPaths, Some(sessionPathsSql)))
}
