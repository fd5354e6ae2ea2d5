package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Declared
import graft.io.Tables
import graft.util.{Det, Select}

/** Experimentation primitives: deterministic traffic splitting and the
  * weighted rank statistic — the two operators an A/B platform runs on
  * every metric, expressed so both engines agree bit-for-bit.
  *
  * `x_abtest`: users assign to arms by the parity of their md5 integer
  * (the canonical cross-engine idiom — the SAME user always lands in the
  * SAME arm on any engine, which is the actual production requirement
  * for a hash-based splitter), and each arm reports its conversion rate
  * (users with ≥1 purchase) plus revenue per user, all integer ppm /
  * cents. The effect size is the BETWEEN-ARM ppm difference read off two
  * rows; significance machinery (the z-test) needs only these counts,
  * and [[Stats.poissonBootstrap]] is the resampling alternative.
  *
  * `x_weighted_median`: the quantity-weighted median of the extended
  * price — the "typical traded price" where the unweighted median
  * ([[Sketch]]'s percentile tier) answers "typical line item". The
  * crossing point (first value where 2·cumWeight ≥ totalWeight) is found
  * by WEIGHTED distributed selection ([[graft.util.Select]] with weight
  * sums in place of row counts). Round 14 replaced the
  * [[PrefixSum.globalRunningSum]] form: a running sum materializes the
  * whole fact table through a range exchange + disk checkpoint pin to
  * read ONE crossing point off it — selection moves
  * three aggregates and one bucket instead (the crossing VALUE is
  * tie-order independent, so the weight histogram loses nothing). The
  * oracle states the identical crossing rule over a plain running-sum
  * window.
  */
object Experiment {

  /** x_abtest — per-arm user counts, conversion ppm, revenue per user. */
  def abtest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val perUser = Tables.events(spark, dir)
      .groupBy($"user_id")
      .agg(max(when($"event_type" === "purchase", 1L).otherwise(0L)).as("converted"),
        sum(when($"event_type" === "purchase",
          Det.cents($"value")).otherwise(0L)).as("rev_cents"))
    perUser
      .withColumn("arm",
        when(pmod(conv(substring(md5(concat($"user_id".cast("string"),
          lit(":ab"))), 1, 15), 16, 10).cast("long"), lit(2)) === 0, "control")
          .otherwise("treatment"))
      .groupBy($"arm")
      .agg(count(lit(1)).as("n_users"),
        sum($"converted").as("n_converted"),
        sum($"rev_cents").as("rev_cents"))
      .select($"arm", $"n_users", $"n_converted",
        expr("n_converted * 1000000 div n_users").as("cr_ppm"),
        expr("rev_cents div n_users").as("rev_per_user_cents"))
      .orderBy($"arm")
  }

  val abtestSql: String =
    """WITH pu AS (
      | SELECT user_id,
      |  max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted,
      |  sum(CASE WHEN event_type = 'purchase'
      |      THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS rev_cents
      | FROM events GROUP BY 1),
      |armed AS (
      | SELECT CASE WHEN CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)
      |   || ':ab'), 1, 15) AS BIGINT) % 2 = 0
      |   THEN 'control' ELSE 'treatment' END AS arm,
      |  converted, rev_cents
      | FROM pu),
      |agg AS (
      | SELECT arm, count(*) AS n_users,
      |  CAST(sum(converted) AS BIGINT) AS n_converted,
      |  CAST(sum(rev_cents) AS BIGINT) AS rev_cents
      | FROM armed GROUP BY 1)
      |SELECT arm, n_users, n_converted,
      | n_converted * 1000000 // n_users AS cr_ppm,
      | rev_cents // n_users AS rev_per_user_cents
      |FROM agg
      |ORDER BY arm""".stripMargin

  /** x_weighted_median — quantity-weighted median of the extended price. */
  def weightedMedian(spark: SparkSession, dir: String): DataFrame =
    weightedMedianOver(Tables.lineitem(spark, dir)
      .select(Det.cents(col("l_extendedprice")).as("c"),
        col("l_quantity").cast("long").as("w")))

  /** Weighted selection over any (c: long, w: long ≥ 1) frame.
    *
    * The crossing row in (c, tiebreak…) order satisfies 2·cum ≥ total ⟺
    * cum ≥ (total+1) div 2 =: kw, and its VALUE c* = min c whose
    * through-price cumulative weight reaches kw — independent of any
    * tiebreak order, so one unkeyed weighted rank of [[Select]] finds it
    * with a window over the crossing bucket's price domain only.
    */
  def weightedMedianOver(li: DataFrame): DataFrame = {
    import li.sparkSession.implicits._
    val sel = Select(li, "c", weight = Some("w"))(total => Seq((total + 1) / 2))
    sel.groups.headOption match {
      // empty frame: the pre-selection aggregate form's one (NULL, NULL) row
      case None => li.agg(min($"c").as("weighted_median_cents"),
        sum($"w").as("total_w"))
      case Some(g) => sel.picks.select($"c".as("weighted_median_cents"),
        lit(g.total).as("total_w"))
    }
  }

  val weightedMedianSql: String =
    """WITH li AS (
      | SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents,
      |  CAST(l_quantity AS BIGINT) AS w, l_orderkey, l_linenumber
      | FROM lineitem),
      |cum AS (
      | SELECT price_cents,
      |  sum(w) OVER (ORDER BY price_cents, l_orderkey, l_linenumber
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_w,
      |  (SELECT CAST(sum(w) AS BIGINT) FROM li) AS total_w
      | FROM li)
      |SELECT min(price_cents) AS weighted_median_cents,
      | CAST(any_value(total_w) AS BIGINT) AS total_w
      |FROM cum WHERE cum_w * 2 >= total_w""".stripMargin

  val declared: Seq[Declared] = Seq(
    Declared("x_abtest", abtest, Some(abtestSql)),
    Declared("x_weighted_median", weightedMedian, Some(weightedMedianSql)))
}
