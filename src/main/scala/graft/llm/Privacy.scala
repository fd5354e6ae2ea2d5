package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Declared
import graft.io.Tables

/** Privacy operators for training-data pipelines: PII redaction (the
  * scrub every crawl corpus passes through before training) and
  * k-anonymity suppression (the release gate for quasi-identifier
  * aggregates). Both are deterministic column algebra — regexp_replace
  * chains and one hash-aggregate — so they run map-side / one-shuffle at
  * any scale and hash-compare exactly against the oracle.
  */
object Privacy {

  /** Redaction patterns, RE2/Java-compatible (no lookarounds, so the same
    * pattern string runs under Spark's java.util.regex and DuckDB's RE2).
    * Order matters: emails first (their local part looks like a word, but
    * their digits could otherwise be eaten by the phone pass), then IPv4
    * (dotted digits — phone-shaped), then phone runs.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b"
  val PhoneRe = "\\+?[0-9][0-9()\\-. ]{7,}[0-9]"

  /** Full scrub chain: email → [EMAIL], IPv4 → [IP], phone-run → [PHONE].
    * Each pass is a codegen'd regexp_replace over the column — map-only,
    * no shuffle, whole-stage codegen keeps it in one generated function.
    */
  def scrub(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, EmailRe, "[EMAIL]"),
        Ipv4Re, "[IP]"),
      PhoneRe, "[PHONE]")

  /** Long digit runs (account/customer numbers) → [ACCT]. */
  val AcctRe = "[0-9]{6,}"
  def maskAccounts(c: Column): Column = regexp_replace(c, AcctRe, "[ACCT]")

  /** x_pii_scrub — customer names with their embedded account number
    * masked, plus the digit count that was redacted (the audit metric a
    * scrub job reports). The fixture corpus has no emails/phones — those
    * patterns are pinned by PrivacySpec on planted strings — so the
    * declared query exercises the digit-run masker over real rows.
    */
  def piiScrub(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.customer(spark, dir)
      .select($"c_custkey",
        maskAccounts($"c_name").as("masked_name"),
        (length($"c_name") -
          length(regexp_replace($"c_name", "[0-9]", ""))).cast("long")
          .as("n_digits"))
      .orderBy($"c_custkey")
  }

  val piiScrubSql: String =
    """SELECT c_custkey,
      | regexp_replace(c_name, '[0-9]{6,}', '[ACCT]', 'g') AS masked_name,
      | CAST(length(c_name) - length(regexp_replace(c_name, '[0-9]', '', 'g')) AS BIGINT) AS n_digits
      |FROM customer
      |ORDER BY c_custkey""".stripMargin

  /** k-anonymity threshold for [[kAnon]]: groups smaller than K are
    * suppressed into one residual row. 8 splits the sf0.01 fixture's
    * (nation, segment) group-size range (5..21), so both paths fire at the
    * gate.
    */
  val K = 8

  /** x_k_anon — the k-anonymous release of the (nation, segment) customer
    * histogram: quasi-identifier groups with ≥ K members are released
    * as-is; smaller groups collapse into a single `__suppressed__` row
    * carrying only their total (so counts still reconcile, but no rare
    * combination is attributable). One hash-aggregate + a tiny residual
    * aggregate — the suppressed side is a scalar, not a second scan.
    */
  def kAnon(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val g = Tables.customer(spark, dir)
      .groupBy($"c_nationkey".cast("long").as("nationkey"), $"c_mktsegment".as("segment"))
      .agg(count(lit(1)).as("n"))
    val released = g.filter($"n" >= K)
    val suppressed = g.filter($"n" < K)
      .agg(coalesce(sum($"n"), lit(0L)).as("n"))
      .filter($"n" > 0)
      .select(lit(-1L).as("nationkey"), lit("__suppressed__").as("segment"), $"n")
    released.union(suppressed).orderBy($"nationkey", $"segment")
  }

  val kAnonSql: String =
    s"""WITH g AS (
       | SELECT CAST(c_nationkey AS BIGINT) AS nationkey, c_mktsegment AS segment,
       |        count(*) AS n
       | FROM customer GROUP BY 1, 2)
       |SELECT nationkey, segment, n FROM g WHERE n >= $K
       |UNION ALL
       |SELECT -1, '__suppressed__', CAST(sum(n) AS BIGINT) FROM g WHERE n < $K HAVING count(*) > 0
       |ORDER BY nationkey, segment""".stripMargin

  /** DP contribution bound: at most [[DpMaxPerDay]] events kept per
    * (user, day), each value clipped into [0, [[DpClipCents]]] cents.
    */
  val DpMaxPerDay = 4
  val DpClipCents = 5000L

  /** x_dp_clip — differential-privacy PREP: bounded-contribution
    * aggregation. Before any DP mechanism can add calibrated noise to a
    * per-day statistic, the pipeline must bound each user's influence on
    * it; this op does both textbook bounds in one pass — contribution
    * capping (keep each user's first [[DpMaxPerDay]] events per day in a
    * deterministic md5 order: append-order-independent, so the kept set is
    * reproducible under any ingestion layout) and value clipping (clamp
    * cents into [0, [[DpClipCents]]]). Per day it emits the raw vs
    * bounded event counts and sums plus `max_user_contrib` — the realized
    * per-user L1 contribution, whose guaranteed ceiling
    * [[DpMaxPerDay]]·[[DpClipCents]] IS the sensitivity the noise scale
    * would be calibrated to (the noise draw itself is out of scope by
    * construction: it is the one deliberately nondeterministic step).
    * All arithmetic is exact integer cents.
    *
    * Scale shape: one window rank partitioned by (user, day) — never a
    * global sort — then two hash aggregates (per user-day, per day), all
    * map-side combining. The spec pins max_user_contrib ≤ K·C and the
    * clip actually firing on the fixture.
    */
  def dpClip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(spark, dir)
      .select($"event_id", $"user_id", to_date($"ts").as("day"),
        graft.util.Det.cents($"value").as("cents"))
    val w = Window.partitionBy($"user_id", $"day")
      .orderBy(md5(concat($"event_id".cast("string"), lit(":dp"))), $"event_id")
    val ranked = ev.withColumn("rk", row_number().over(w))
    val perUserDay = ranked
      .groupBy($"user_id", $"day")
      .agg(count(lit(1)).as("n_raw"),
        sum($"cents").as("sum_raw"),
        sum(when($"rk" <= DpMaxPerDay, 1L).otherwise(0L)).as("n_kept"),
        sum(when($"rk" <= DpMaxPerDay,
          greatest(lit(0L), least($"cents", lit(DpClipCents))))
          .otherwise(0L)).as("contrib"))
    perUserDay.groupBy($"day")
      .agg(sum($"n_raw").as("n_events_raw"),
        sum($"n_kept").as("n_events_kept"),
        sum($"sum_raw").as("sum_raw_cents"),
        sum($"contrib").as("sum_bounded_cents"),
        count(lit(1)).as("n_users"),
        max($"contrib").as("max_user_contrib"))
      .orderBy($"day")
  }

  val dpClipSql: String =
    s"""WITH ev AS (
       | SELECT event_id, user_id, CAST(ts AS DATE) AS day,
       |  CAST(round(value * 100) AS BIGINT) AS cents
       | FROM events),
       |ranked AS (
       | SELECT *, row_number() OVER (PARTITION BY user_id, day
       |   ORDER BY md5(CAST(event_id AS VARCHAR) || ':dp'), event_id) AS rk
       | FROM ev),
       |pud AS (
       | SELECT user_id, day, count(*) AS n_raw,
       |  sum(cents) AS sum_raw,
       |  sum(CASE WHEN rk <= $DpMaxPerDay THEN 1 ELSE 0 END) AS n_kept,
       |  sum(CASE WHEN rk <= $DpMaxPerDay
       |      THEN greatest(0, least(cents, $DpClipCents)) ELSE 0 END)
       |    AS contrib
       | FROM ranked GROUP BY user_id, day)
       |SELECT day,
       | CAST(sum(n_raw) AS BIGINT) AS n_events_raw,
       | CAST(sum(n_kept) AS BIGINT) AS n_events_kept,
       | CAST(sum(sum_raw) AS BIGINT) AS sum_raw_cents,
       | CAST(sum(contrib) AS BIGINT) AS sum_bounded_cents,
       | CAST(count(*) AS BIGINT) AS n_users,
       | CAST(max(contrib) AS BIGINT) AS max_user_contrib
       |FROM pud GROUP BY day
       |ORDER BY day""".stripMargin

  val declared: Seq[Declared] = Seq(
    Declared("x_pii_scrub", piiScrub, Some(piiScrubSql)),
    Declared("x_k_anon", kAnon, Some(kAnonSql)),
    Declared("x_dp_clip", dpClip, Some(dpClipSql)))
}
