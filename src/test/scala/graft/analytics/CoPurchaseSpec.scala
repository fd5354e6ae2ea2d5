package graft.analytics

import graft.SparkSpec

/** The co-purchase kernel against a driver-side closed form on a
  * hand-built lineitem: basket sets, one pair row per shared order, and
  * the adjacency's sink rule.
  */
class CoPurchaseSpec extends SparkSpec {
  import spark.implicits._

  // order 10 repeats (10, 1) and (10, 2); orders 30 and 40 hold one part
  // each (part 9 is ordered only alone); part 1 sits in orders 10, 20, 50
  // and 60, and shares 10, 20 and 50 with part 2
  private val rows = Seq(
    10L -> 1L, 10L -> 2L, 10L -> 3L, 10L -> 1L, 10L -> 2L,
    20L -> 1L, 20L -> 2L,
    30L -> 9L,
    40L -> 1L,
    50L -> 2L, 50L -> 1L, 50L -> 4L,
    60L -> 4L, 60L -> 1L)

  private def li(rs: Seq[(Long, Long)]) = rs.toDF("l_orderkey", "l_partkey")

  private def model(rs: Seq[(Long, Long)]) = {
    val baskets = rs.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val pairs = baskets.values.toSeq
      .flatMap(ps => for (a <- ps; b <- ps if a != b) yield (a, b))
    (baskets, pairs)
  }

  test("baskets, pairs and adjacency equal the closed form under ANSI") {
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true")
    val (expBaskets, expPairs) = model(rows)
    val b = CoPurchase.baskets(li(rows))

    val gotBaskets = b.as[(Long, Seq[Long])].collect()
    assert(gotBaskets.length == expBaskets.size)
    assert(gotBaskets.map { case (o, ps) => o -> ps.toSet }.toMap == expBaskets)
    assert(gotBaskets.forall { case (_, ps) => ps.distinct.length == ps.length })

    // one row per shared order: the duplicate rows of order 10 add none,
    // and the 1–2 pair is counted once for each of orders 10, 20 and 50
    val gotPairs = CoPurchase.pairs(b).as[(Long, Long)].collect().toSeq
    assert(gotPairs.sorted == expPairs.sorted)
    assert(gotPairs.count(_ == ((1L, 2L))) == 3)
    assert(gotPairs.count(_ == ((1L, 4L))) == 2)

    // adjacency is the deduped pairs per src; part 9 (ordered alone) has
    // no row, as it has no pair
    val gotAdj = CoPurchase.adjacency(b).as[(Long, Seq[Long])].collect()
    val expAdj = expPairs.distinct.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(gotAdj.map { case (s, ns) => s -> ns.toSet }.toMap == expAdj)
    assert(gotAdj.forall { case (s, ns) => ns.distinct.length == ns.length && !ns.contains(s) })
    assert(!gotAdj.exists(_._1 == 9L))
  }

  test("an empty lineitem gives empty baskets, pairs and adjacency") {
    val b = CoPurchase.baskets(li(Seq.empty))
    assert(b.isEmpty)
    assert(CoPurchase.pairs(b).isEmpty)
    assert(CoPurchase.adjacency(b).isEmpty)
  }
}
