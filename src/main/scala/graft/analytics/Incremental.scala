package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Declared
import graft.io.Tables
import graft.util.Ckpt._
import graft.util.Det

/** Incremental aggregate maintenance — materialized-view refresh as an
  * operator. A production warehouse never re-aggregates 100 TB of history
  * when a day of deltas lands; it keeps the summary table and MERGES the
  * new slice's partial aggregate into it (counts/sums add, mins/maxes
  * compare — the commutative-monoid property every mergeable summary in
  * this repo leans on, here applied to the plain relational aggregate).
  * The declared query PROVES that maintenance discipline converges: the
  * event history is replayed as its chronological month-slices, each
  * folded into the running per-user state exactly as an incremental
  * refresh job would, and the oracle is the direct one-shot aggregate —
  * the hash gate certifies fold(deltas) ≡ recompute(all), including the
  * count/sum-of-counts distinction the merge leg must get right.
  *
  * Scale shape: each refresh round is one hash aggregate of the DELTA
  * (the only data that is new) plus one co-partitioned full-outer merge
  * with the key-partitioned state — exchange-free in THIS plan: the
  * checkpointed state carries its hash(user_id) layout across the
  * lineage cut and the delta lands on the same key from its own
  * aggregate, so only the delta's one aggregate exchange moves data per
  * round (at 100 TB, a user-bucketed state table gives the same shape).
  * State is DISK_ONLY-checkpointed per round ([[graft.util.Ckpt]])
  * — it is read by exactly the next round, and an O(rounds) lineage
  * would otherwise re-execute the whole history per action (the 2^k
  * iterative-lineage trap). The month list is a driver-side collect
  * bounded by the CALENDAR (≤ a few dozen entries at any corpus size),
  * the same bounded-collect pattern as the IVF centroid seeds.
  */
object Incremental {

  /** x_incr_agg — per-user lifetime summary maintained by chronological
    * month-delta folds; provably identical to the direct aggregate.
    */
  def incrAgg(spark: SparkSession, dir: String): DataFrame =
    incrAggOver(Tables.events(spark, dir))

  /** Same fold over any (user_id, value, ts) frame — the spec's seam. */
  def incrAggOver(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    // Materialized ONCE: the month list and every month's delta filter
    // read this pinned projection, so the refresh loop scans the (4-column)
    // checkpoint per round, never the full source O(months) times — the
    // delta-only scan shape the scaladoc declares. (In production each
    // delta arrives as its own partition/landing file and no shared scan
    // exists at all; here the slices are carved out of one fixture table.)
    val ev = events.select(
      $"user_id",
      Det.cents($"value").as("cents"),
      datediff(to_date($"ts"), lit("1970-01-01").cast("date"))
        .cast("long").as("day"),
      trunc(to_date($"ts"), "month").as("mth"))
      .ckptDisk()
    // distinct() KEEPS a NULL month (NULL/unparseable ts): those rows
    // belong in the summary — the oracle's count(*) counts them, with
    // NULL cents/day falling out of sum/min/max on both engines — so
    // they fold as their own slice via the null-safe filter below.
    // Silently dropping them would diverge from the oracle on any input
    // with a bad timestamp.
    val months = ev.select($"mth").distinct().orderBy($"mth")
      .as[java.sql.Date].collect()
    // empty history → empty summary with the declared schema (a refresh
    // job's first run against a not-yet-landed source must not throw)
    val empty = ev.groupBy($"user_id")
      .agg(count(lit(1)).as("n_events"),
        sum($"cents").as("sum_cents"),
        min($"day").as("min_day"),
        max($"day").as("max_day"))
      .limit(0)
    var state: DataFrame = empty
    months.foreach { m =>
      val delta = ev.filter($"mth" <=> lit(m))
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n_events"),
          sum($"cents").as("sum_cents"),
          min($"day").as("min_day"),
          max($"day").as("max_day"))
      // Merge as a CO-PARTITIONED full-outer join, not union+re-aggregate:
      // the checkpointed state carries hash(user_id) across the lineage
      // cut (Bridge.repairCheckpointLayout) and the delta lands
      // hash(user_id) from its own aggregate, so the join plans with ZERO
      // exchanges — the scaladoc's "the merge is exchange-free" now holds
      // in THIS plan, not only on a bucketed 100 TB layout. Merge
      // semantics match the former union+sum exactly: counts add with
      // absent-side zero, sums add but stay NULL when BOTH sides are NULL
      // (sum skips nulls — a user whose every value is NULL must not
      // become 0), min/max via least/greatest, which skip nulls.
      val next = state.as("s")
        .join(delta.as("d"), Seq("user_id"), "full")
        .select($"user_id",
          (coalesce($"s.n_events", lit(0L)) + coalesce($"d.n_events", lit(0L)))
            .as("n_events"),
          when($"s.sum_cents".isNull && $"d.sum_cents".isNull,
            lit(null).cast("long"))
            .otherwise(coalesce($"s.sum_cents", lit(0L)) +
              coalesce($"d.sum_cents", lit(0L))).as("sum_cents"),
          least($"s.min_day", $"d.min_day").as("min_day"),
          greatest($"s.max_day", $"d.max_day").as("max_day"))
        .ckptDisk()
      // the superseded state is dead the moment `next` materializes —
      // release its blocks NOW or the fold holds O(months) checkpoint
      // sets on executor disk for the whole query (round 1's "state" is
      // the un-checkpointed `empty` frame; release is a no-op there)
      release(state)
      state = next
    }
    // months.nonEmpty ⇒ the final state is a self-contained checkpoint and
    // the source pin is dead; empty history still reads through ev lazily
    if (months.nonEmpty) release(ev)
    state.orderBy($"user_id")
  }

  val incrAggSql: String =
    """SELECT user_id, count(*) AS n_events,
      | CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
      | CAST(min(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))) AS BIGINT) AS min_day,
      | CAST(max(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))) AS BIGINT) AS max_day
      |FROM events
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  val declared: Seq[Declared] = Seq(
    Declared("x_incr_agg", incrAgg, Some(incrAggSql)))
}
