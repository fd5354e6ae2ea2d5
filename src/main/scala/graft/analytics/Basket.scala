package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Declared
import graft.io.Tables
import graft.util.Ckpt._

/** Market-basket association mining over order baskets — support /
  * confidence / lift for co-purchased part pairs, the association-rule
  * companion of [[PageRank]]'s co-purchase graph (same §2.3 analytics
  * contract over the reference's order feed).
  *
  * Pairs are the [[CoPurchase]] pairs kept to (a < b), so every pair
  * lands once — the oracle's `src < dst` convention.
  *
  * All scores are integer ppm: `conf(a→b) = n_pair·10⁶ div n_a`,
  * `lift = n_pair·n_orders·10⁶ div (n_a·n_b)` — exact long arithmetic
  * (bounds: n_pair ≤ n_orders ≤ ~1.5e9 at 100 TB; the lift numerator
  * n_pair·n_orders·10⁶ stays under Long.MaxValue while n_pair·n_orders ≤
  * 9.2e12, i.e. up to ~3e6 orders per pair — past that, scale the ppm
  * factor down or go DECIMAL; ANSI mode makes any breach loud, not wrong).
  *
  * At 100 TB: one fact shuffle (basket aggregate), one pair aggregate
  * (bounded by 21·orders), two broadcast joins against the
  * dimension-sized per-part counts, no windows.
  */
object Basket {

  /** Minimum co-occurrence count for a declared rule. */
  val MinSupport = 2L

  /** Declared result cut (total order: n_pair desc, then pair). */
  val TopPairs = 100

  /** x_basket_pairs — top co-purchased part pairs with confidence + lift. */
  def basketPairs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // Every downstream quantity — pair counts, per-part distinct-order
    // counts, the order total — is a projection of the basket frame, which
    // is orders-bounded (≤7-item sets), hence the single DISK_ONLY
    // checkpoint feeding all three consumers.
    val baskets = CoPurchase.baskets(Tables.lineitem(spark, dir)).ckptDisk()
    val pairs = CoPurchase.pairs(baskets).where($"src" < $"dst")
      .groupBy($"src".as("a"), $"dst".as("b")).agg(count(lit(1)).as("n_pair"))
      .filter($"n_pair" >= MinSupport)
    // ps is a SET per order, so exploding it counts each (order, part)
    // once — identical to distinct-then-count, without the distinct.
    val itemN = baskets.select(explode($"ps").as("l_partkey"))
      .groupBy($"l_partkey").agg(count(lit(1)).as("c"))
    val nOrders = baskets.agg(count(lit(1)).as("n_orders"))
    pairs
      .join(broadcast(itemN.select($"l_partkey".as("a"), $"c".as("ca"))), "a")
      .join(broadcast(itemN.select($"l_partkey".as("b"), $"c".as("cb"))), "b")
      .crossJoin(broadcast(nOrders))
      .select($"a".as("part_a"), $"b".as("part_b"), $"n_pair",
        expr("n_pair * 1000000 div ca").as("conf_ppm"),
        expr("n_pair * n_orders * 1000000 div (ca * cb)").as("lift_ppm"))
      .orderBy($"n_pair".desc, $"part_a", $"part_b")
      .limit(TopPairs)
  }

  val basketPairsSql: String =
    s"""WITH ${CoPurchase.pairsSql()},
       |pc AS (
       | SELECT src AS pa, dst AS pb, count(*) AS n_pair
       | FROM pairs WHERE src < dst
       | GROUP BY 1, 2
       | HAVING count(*) >= ${MinSupport}),
       |ic AS (SELECT l_partkey, count(*) AS c FROM li GROUP BY 1),
       |n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM li)
       |SELECT pc.pa AS part_a, pc.pb AS part_b, pc.n_pair,
       | pc.n_pair * 1000000 // ca.c AS conf_ppm,
       | pc.n_pair * n.n_orders * 1000000 // (ca.c * cb.c) AS lift_ppm
       |FROM pc
       |JOIN ic ca ON pc.pa = ca.l_partkey
       |JOIN ic cb ON pc.pb = cb.l_partkey, n
       |ORDER BY n_pair DESC, part_a, part_b
       |LIMIT ${TopPairs}""".stripMargin

  val declared: Seq[Declared] = Seq(
    Declared("x_basket_pairs", basketPairs, Some(basketPairsSql)))
}
