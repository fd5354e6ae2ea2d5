package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Declared
import graft.io.Tables

/** Interval-OVERLAP join — the pairwise shape [[Warehouse.concurrency]]'s
  * sweep-line (peak counts) and the as-of family (nearest single match)
  * deliberately avoid: which interval PAIRS overlap, and by how much. Here:
  * same-day activity intervals (a user's first→last event of the day) for
  * a declared user cohort, joined against each other — the
  * "who was co-active with whom, for how long" question of collusion /
  * collaboration analytics.
  *
  * Scale shape — the bucket-decomposed interval join: each interval
  * explodes to the HOUR buckets it covers (≤24 per interval, bounded by
  * construction), candidates come from a plain (day, hour) equi-join —
  * never a BroadcastNestedLoopJoin over the full interval×interval theta
  * condition — and each overlapping pair is counted EXACTLY ONCE without
  * any post-hoc dedup shuffle: a candidate survives only in the bucket
  * containing `greatest(s_a, s_b)`, a point both intervals cover by
  * definition of overlap, so the pair appears in that bucket's join output
  * and is kept nowhere else (the count-once attribution trick — dedup is a
  * FILTER, not an aggregate). The oracle is the direct quadratic
  * within-day theta join, so the hash gate proves the bucket cascade both
  * complete (no overlapping pair missed) and exactly-once (no pair
  * double-counted). Per-bucket fan-out is quadratic in the bucket's live
  * intervals — the skew knob is bucket width, same cost model as
  * [[graft.plans.RangeJoinRewrite]]; a production hot hour sub-buckets
  * further.
  */
object Intervals {

  /** Cohort selector: user_id ≡ 0 (mod 7) — dense enough to be non-vacuous
    * at sf0.001's 15 users, sparse enough that the oracle's quadratic
    * within-day join stays fixture-feasible at sf0.1.
    */
  val CohortMod = 7L
  val HourMicros = 3600L * 1000000L
  val TopPairs = 100

  def intervalJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val iv = Tables.events(spark, dir)
      // % (sign-of-dividend), NOT pmod: the oracle's `user_id % 7 = 0`
      // uses DuckDB's C-style remainder, and for a negative user_id pmod
      // (always non-negative) would select a different cohort. Fixture IDs
      // are positive, but the predicate should agree for ALL inputs.
      .filter(($"user_id" % CohortMod) === 0)
      .select($"user_id", to_date($"ts").as("day"),
        unix_micros($"ts".cast("timestamp")).as("t_us"))
      .groupBy($"user_id", $"day")
      .agg(min($"t_us").as("s"), max($"t_us").as("e"))
      // Deliberate contract, not a no-op: a zero-length (point) interval
      // strictly inside another DOES satisfy the strict-overlap predicate
      // and would contribute an n_days row with 0 overlap seconds —
      // point intervals are excluded from the pair universe by choice,
      // and the oracle's HAVING clause mirrors exactly this exclusion.
      .filter($"s" < $"e")
      .withColumn("day_us", unix_micros($"day".cast("timestamp")))
    val b = iv.select($"user_id", $"day", $"s", $"e", $"day_us",
      explode(sequence(expr(s"(s - day_us) div $HourMicros"),
        expr(s"(e - day_us) div $HourMicros"))).as("hr"))
    val l = b.select($"day", $"hr", $"day_us", $"user_id".as("u_lo"),
      $"s".as("s_a"), $"e".as("e_a"))
    val r = b.select($"day", $"hr", $"user_id".as("u_hi"),
      $"s".as("s_b"), $"e".as("e_b"))
    l.join(r, Seq("day", "hr"))
      .filter($"u_lo" < $"u_hi" && $"s_a" < $"e_b" && $"s_b" < $"e_a")
      // exactly-once attribution: keep the pair only in the hour bucket
      // that contains the later start — a point inside both intervals.
      .filter($"hr" ===
        expr(s"(greatest(s_a, s_b) - day_us) div $HourMicros"))
      .select($"u_lo", $"u_hi", $"day",
        expr("(least(e_a, e_b) - greatest(s_a, s_b)) div 1000000")
          .as("ov_s"))
      .groupBy($"u_lo", $"u_hi")
      .agg(count(lit(1)).as("n_days"), sum($"ov_s").as("overlap_s"))
      .orderBy($"overlap_s".desc, $"u_lo", $"u_hi")
      .limit(TopPairs)
  }

  val intervalJoinSql: String =
    s"""WITH iv AS (
       | SELECT user_id, CAST(ts AS DATE) AS day,
       |  min(epoch_us(ts)) AS s, max(epoch_us(ts)) AS e
       | FROM events
       | WHERE user_id % $CohortMod = 0
       | GROUP BY user_id, CAST(ts AS DATE)
       | HAVING min(epoch_us(ts)) < max(epoch_us(ts)))
       |SELECT a.user_id AS u_lo, b.user_id AS u_hi,
       | count(*) AS n_days,
       | CAST(sum((least(a.e, b.e) - greatest(a.s, b.s)) // 1000000) AS BIGINT)
       |   AS overlap_s
       |FROM iv a JOIN iv b
       |  ON a.day = b.day AND a.user_id < b.user_id
       | AND a.s < b.e AND b.s < a.e
       |GROUP BY a.user_id, b.user_id
       |ORDER BY overlap_s DESC, u_lo, u_hi
       |LIMIT $TopPairs""".stripMargin

  val declared: Seq[Declared] = Seq(
    Declared("x_interval_join", intervalJoin, Some(intervalJoinSql)))
}
