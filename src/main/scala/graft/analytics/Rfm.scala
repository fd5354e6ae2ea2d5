package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Declared
import graft.io.Tables
import graft.util.Ckpt._
import graft.util.{Det, Select}

/** RFM segmentation — recency / frequency / monetary quintile scoring over
  * the order history, the classic CRM rollup of the reference's warehouse
  * tier (reference: the `configs/sources` YAML specs land exactly this
  * orders feed; the segmentation is the canonical downstream consumer).
  *
  * The interesting part at scale is the RANK: a quintile needs each
  * customer's global rank per metric, and the naive `ntile(5) OVER
  * (ORDER BY metric)` is a single-partition window — the scale-killer
  * [[PrefixSum]] §doc documents. Scores use explicit integer arithmetic —
  * `1 + ((rank-1)*5) div n` — instead of ntile(), whose extra-row
  * placement rule would have to be replicated bit-for-bit; this formula
  * is its own spec, identical in both engines.
  *
  * Round 14: the rank itself is GONE from the distributed plan. A score
  * only reads which side of four boundary ranks a customer falls, and the
  * key (metric, custkey) is unique, so the twelve boundary KEYS (4 per
  * metric) determine every score: score = 1 + #boundaries strictly below
  * the customer's key. They are order statistics, found by one keyed
  * [[Select]] over the three metrics as groups, after which scoring is
  * MAP-ONLY over the customer frame. The previous form
  * chained three [[PrefixSum.globalRunningSum]] passes — three range
  * exchanges and three checkpoint pins of the whole frame to read ranks
  * that were immediately collapsed to quintile ids.
  *
  * Ordering is ascending for every metric (ties broken by custkey), so
  * score 5 = most-recently-inactive / highest frequency / highest spend
  * quintile boundary convention is documented rather than hidden in an
  * engine's ntile implementation.
  */
object Rfm {

  /** x_rfm — (r_score, f_score, m_score) segment sizes + total spend. */
  def rfm(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = Tables.orders(spark, dir)
      .select($"o_custkey", Det.cents($"o_totalprice").as("cents"),
        datediff(to_date($"o_orderdate"), lit("1970-01-01").cast("date"))
          .cast("long").as("day"))
    val pc = o.groupBy($"o_custkey")
      .agg(count(lit(1)).as("f"), sum($"cents").as("m_cents"),
        max($"day").as("last_day"))
    val mx = pc.agg(max($"last_day").as("maxd"))
    // One DISK_ONLY materialization of the customer aggregate: it feeds
    // the 3-pass rank chain AND the n_cust count, and without the pin each
    // consumer re-derives the orders scan + aggregate (round-7 driver
    // bench: 5.2 s for a query whose work is customer-bounded).
    val base = pc.crossJoin(broadcast(mx))
      .select($"o_custkey", $"f", $"m_cents",
        ($"maxd" - $"last_day").as("r_days"))
      .ckptDisk()
    rfmScoresOver(base)
  }

  /** Quintile scoring over any (o_custkey, f, m_cents, r_days) frame whose
    * key column is unique. Boundary rank of quintile i: score > i ⟺
    * (rank-1)·5 ≥ i·n ⟺ rank > ⌈i·n/5⌉ =: Bᵢ, so with Tᵢ = the unique
    * (metric, custkey) key at rank Bᵢ, score = 1 + #{i : key > Tᵢ}. The
    * metrics are groups of one exploded (m, v, o_custkey) frame, so all
    * twelve boundary keys come from one selection.
    */
  def rfmScoresOver(base: DataFrame): DataFrame = {
    import base.sparkSession.implicits._
    val mcols = Seq("r_days", "f", "m_cents")
    val byMetric = base.select($"o_custkey", explode(array(mcols.zipWithIndex.map {
        case (c, i) => struct(lit(i).as("m"), col(c).as("v"))
      }: _*)).as("x"))
      .select($"x.m".as("m"), $"x.v".as("v"), $"o_custkey")
    def targets(n: Long) = (1 to 4).map(i => (i.toLong * n + 4) / 5) // Bᵢ = ⌈i·n/5⌉
    val sel = Select(byMetric, "v", group = Some("m"), keys = Seq("o_custkey"))(targets)
    val bounds = sel.picks.select($"m", $"rank", $"v", $"o_custkey")
      .as[(Int, Long, Long, Long)].collect()
      .map(t => (t._1, t._2) -> (t._3, t._4)).toMap
    // every metric counts all n rows; an empty frame has no boundaries
    val ks = sel.groups.headOption.fold(Seq.empty[Long])(g => targets(g.n))
    // map-only scoring: 1 + #boundary keys strictly below this row's key
    def score(mi: Int, c: String) = ks
      .foldLeft(lit(1L)) { case (acc, k) =>
        val (tv, tc) = bounds((mi, k))
        acc + when(col(c) > tv || (col(c) === tv && $"o_custkey" > tc), 1L)
          .otherwise(0L)
      }
    base.select(
        score(0, "r_days").as("r_score"),
        score(1, "f").as("f_score"),
        score(2, "m_cents").as("m_score"),
        $"m_cents")
      .groupBy($"r_score", $"f_score", $"m_score")
      .agg(count(lit(1)).as("n_customers"),
        sum($"m_cents").as("m_cents_total"))
      .orderBy($"r_score", $"f_score", $"m_score")
  }

  val rfmSql: String =
    """WITH pc AS (
      | SELECT o_custkey, count(*) AS f,
      |  sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS m_cents,
      |  max(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))) AS last_day
      | FROM orders GROUP BY 1),
      |mx AS (SELECT max(last_day) AS maxd FROM pc),
      |base AS (
      | SELECT o_custkey, f, CAST(m_cents AS BIGINT) AS m_cents,
      |  mx.maxd - last_day AS r_days
      | FROM pc, mx),
      |n AS (SELECT count(*) AS n_cust FROM base),
      |rk AS (
      | SELECT m_cents,
      |  row_number() OVER (ORDER BY r_days, o_custkey) AS rr,
      |  row_number() OVER (ORDER BY f, o_custkey) AS fr,
      |  row_number() OVER (ORDER BY m_cents, o_custkey) AS mr
      | FROM base)
      |SELECT 1 + ((rr - 1) * 5) // n.n_cust AS r_score,
      | 1 + ((fr - 1) * 5) // n.n_cust AS f_score,
      | 1 + ((mr - 1) * 5) // n.n_cust AS m_score,
      | count(*) AS n_customers, CAST(sum(m_cents) AS BIGINT) AS m_cents_total
      |FROM rk, n
      |GROUP BY 1, 2, 3
      |ORDER BY r_score, f_score, m_score""".stripMargin

  val declared: Seq[Declared] = Seq(
    Declared("x_rfm", rfm, Some(rfmSql)))
}
