package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Declared
import graft.io.Tables

/** Marketing attribution over the event stream — credit each conversion
  * (purchase) to its LAST preceding touch (click/view) within the
  * attribution window, the last-touch model every growth dashboard starts
  * from (§2.3 event-analytics contract; [[Sessions.funnelWindow]] is the
  * step-conversion cousin, this assigns per-conversion credit).
  *
  * Mechanics: conversions join touches per user with the integer-µs range
  * predicate `ct − W ≤ tt < ct`, then one `row_number` per conversion
  * (ordered tt desc, tid desc — fully deterministic) picks the credited
  * touch. Unattributed conversions surface as an explicit `(none)` row —
  * the join is never silently lossy. Delay statistics are exact integer
  * µs (`sum div n`).
  *
  * At 100 TB: the join shuffles both sides on user_id (the standard
  * sessionization partitioning; AQE skew split applies), its fan-out is
  * per-user-bounded, and the rank window partitions by conversion id —
  * millions of tiny partitions, no global sort. The final rollup is
  * touch-type-bounded.
  */
object Attribution {

  val WindowMicros: Long = 7L * 24 * 3600 * 1000000L
  val ConversionType = "purchase"
  val TouchTypes: Seq[String] = Seq("click", "view")

  /** x_attribution — per touch type: conversions credited, mean delay. */
  def attribution(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.events(spark, dir)
      .select($"event_id", $"user_id", $"event_type",
        unix_micros($"ts".cast("timestamp")).as("tus"))
    val conv = e.filter($"event_type" === ConversionType)
      .select($"event_id".as("cid"), $"user_id", $"tus".as("ct"))
    val tch = e.filter($"event_type".isin(TouchTypes: _*))
      .select($"event_id".as("tid"), $"user_id",
        $"event_type".as("touch_type"), $"tus".as("tt"))
    val byConv = Window.partitionBy($"cid").orderBy($"tt".desc, $"tid".desc)
    val att = conv.join(tch, Seq("user_id"))
      .filter($"tt" < $"ct" && $"tt" >= $"ct" - WindowMicros)
      .withColumn("rk", row_number().over(byConv))
      .filter($"rk" === 1)
      .select($"cid", $"touch_type", ($"ct" - $"tt").as("delay"))
    val attributed = att.groupBy($"touch_type")
      .agg(count(lit(1)).as("n_conv"), sum($"delay").as("sum_delay"))
      .select($"touch_type", $"n_conv",
        expr("sum_delay div n_conv").as("avg_delay_us"))
    val none = conv.join(att.select($"cid"), Seq("cid"), "left_anti")
      .agg(count(lit(1)).as("n_conv"))
      .select(lit("(none)").as("touch_type"), $"n_conv",
        lit(null).cast("long").as("avg_delay_us"))
    attributed.unionAll(none).orderBy($"touch_type")
  }

  val attributionSql: String =
    s"""WITH conv AS (
       | SELECT event_id AS cid, user_id, epoch_us(ts) AS ct
       | FROM events WHERE event_type = '${ConversionType}'),
       |tch AS (
       | SELECT event_id AS tid, user_id, event_type AS touch_type,
       |  epoch_us(ts) AS tt
       | FROM events WHERE event_type IN (${TouchTypes.map("'" + _ + "'").mkString(", ")})),
       |ranked AS (
       | SELECT c.cid, t.touch_type, c.ct - t.tt AS delay,
       |  row_number() OVER (PARTITION BY c.cid
       |                     ORDER BY t.tt DESC, t.tid DESC) AS rk
       | FROM conv c JOIN tch t ON c.user_id = t.user_id
       |  AND t.tt < c.ct AND t.tt >= c.ct - ${WindowMicros}),
       |att AS (SELECT cid, touch_type, delay FROM ranked WHERE rk = 1),
       |agg AS (
       | SELECT touch_type, count(*) AS n_conv,
       |  CAST(sum(delay) AS BIGINT) // count(*) AS avg_delay_us
       | FROM att GROUP BY 1),
       |no_att AS (
       | SELECT '(none)' AS touch_type, count(*) AS n_conv,
       |  CAST(NULL AS BIGINT) AS avg_delay_us
       | FROM conv WHERE cid NOT IN (SELECT cid FROM att))
       |SELECT touch_type, n_conv, avg_delay_us FROM agg
       |UNION ALL
       |SELECT touch_type, n_conv, avg_delay_us FROM no_att
       |ORDER BY touch_type""".stripMargin

  val declared: Seq[Declared] = Seq(
    Declared("x_attribution", attribution, Some(attributionSql)))
}
