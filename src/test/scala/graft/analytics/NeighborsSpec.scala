package graft.analytics

import org.apache.spark.sql.functions._

import graft.SparkSpec

class NeighborsSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  private def graph(): (Map[Long, Set[Long]], Set[(Long, Long)]) = {
    val li = graft.io.Tables.lineitem(spark, dir)
      .filter(pmod($"l_partkey", lit(Neighbors.InducedMod)) === 0)
    val edges = CoPurchase.pairs(CoPurchase.baskets(li))
      .as[(Long, Long)].collect().filter { case (a, b) => a < b }.toSet
    val adj = edges.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    (adj, edges)
  }

  test("x_graph_jaccard matches brute-force neighborhood Jaccard") {
    val (adj, _) = graph()
    val nodes = adj.keys.toSeq.sorted
    val expected = (for {
      i <- nodes.indices; j <- (i + 1) until nodes.length
      u = nodes(i); v = nodes(j)
      common = (adj(u) & adj(v)).size if common > 0
    } yield {
      val union = adj(u).size + adj(v).size - common
      (u, v, common.toLong, adj(u).size.toLong, adj(v).size.toLong,
        common.toLong * 1000000L / union)
    }).sortBy { case (u, v, _, _, _, jac) => (-jac, u, v) }.take(50).toSet
    val got = Neighbors.graphJaccard(spark, dir)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    assert(got == expected)
  }

  test("x_kcore matches the iterated peel and reaches its fixpoint in bound") {
    val (adj, _) = graph()
    var alive = adj.keySet
    var rounds = 0
    var changed = true
    while (changed) {
      val next = alive.filter(n => (adj(n) & alive).size >= Neighbors.CoreK)
      changed = next != alive
      alive = next
      if (changed) rounds += 1
    }
    assert(rounds <= Neighbors.KcoreRounds - 1,
      s"fixpoint took $rounds rounds; declared bound ${Neighbors.KcoreRounds} leaves no margin")
    val expected = alive.map(n => (n, (adj(n) & alive).size.toLong))
    val got = Neighbors.kcore(spark, dir).as[(Long, Long)].collect().toSet
    assert(got == expected)
    assert(got.forall(_._2 >= Neighbors.CoreK)) // converged ⇒ all in-core degrees ≥ k
  }
}
