package graft.analytics

import graft.SparkSpec

class DiffPageRankSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("q_table_diff statuses match the perturbation arithmetic") {
    val keys = graft.io.Tables.orders(spark, dir)
      .select($"o_orderkey").as[Long].collect()
    val expRemoved = keys.count(_ % 7 == 0) + keys.count(k => k % 7 != 0 && k % 11 == 0)
    val expAdded = keys.count(k => k % 7 != 0 && k % 11 == 0)
    val expChanged = keys.count(k => k % 7 != 0 && k % 11 != 0 && k % 5 == 0)
    val got = Diff.tableDiff(spark, dir)
      .select($"status", $"n_rows", $"net_delta")
      .as[(String, Long, Double)].collect()
      .map { case (s, n, d) => s -> ((n, d)) }.toMap
    // a re-keyed row is a remove at its old key plus an add at the new key
    assert(got("removed")._1 == expRemoved, s"removed: $got vs $expRemoved")
    assert(got("added")._1 == expAdded)
    assert(got("changed")._1 == expChanged)
    // every changed row moved by exactly +10.00
    assert(got("changed")._2 == expChanged * 10.0)
  }

  test("x_pagerank conserves rank mass up to floor leakage and is deterministic") {
    val full = PageRank.ranks(spark, dir)
      .select($"part", $"rank").as[(Long, Long)].collect()
    assert(full.nonEmpty)
    val total = full.map(_._2).sum
    // flooring only ever loses mass; it must stay within a few percent
    assert(total <= PageRank.TotalMass)
    assert(total > (PageRank.TotalMass * 0.95).toLong, s"leaked too much: $total")
    val again = PageRank.ranks(spark, dir)
      .select($"part", $"rank").as[(Long, Long)].collect()
    assert(full.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq)
  }

  test("broadcast-path iterations run with ZERO shuffle exchanges") {
    // The dst-partitioned edge checkpoint is load-bearing (PageRank.ranks:
    // the broadcast-rank join streams the edge side in place, so the
    // inflow groupBy(dst) aggregates partition-local — x_pagerank 4.2 →
    // 3.1 s isolated at sf0.1). A lost layout still executes, just with
    // one edge-bounded exchange per iteration, which nothing else would
    // catch — the same silent-slowdown class RandWalkSpec pins. Every
    // iteration is two broadcast joins (rank ⋈ edges BuildLeft, degN ⋈
    // inflow BuildRight); the whole post-checkpoint plan holds no shuffle.
    val df = PageRank.ranks(spark, dir)
    // collect() executes df's OWN QueryExecution, so the inspected plan is
    // the AQE-FINAL one — a noop write would finalize a separate QE and
    // leave this one at the initial (pre-adaptive) plan, which still shows
    // the ENSURE_REQUIREMENTS exchanges AQE elides at runtime.
    df.collect()
    val whole = df.queryExecution.executedPlan.toString
    assert(whole.contains("isFinalPlan=true"), s"AQE did not finalize:\n$whole")
    // the finalized AdaptiveSparkPlan prints BOTH "Final Plan" and
    // "Initial Plan" sections — assert on the final one only
    val plan = whole.split("== Initial Plan ==").head
    assert(!plan.contains("Exchange hashpartitioning") &&
      !plan.contains("AQEShuffleRead"),
      s"an iteration re-introduced a shuffle exchange:\n$plan")
    val joins = plan.linesIterator
      .filter(_.contains("BroadcastHashJoin")).toSeq
    assert(joins.size == 2 * PageRank.Iterations,
      s"expected ${2 * PageRank.Iterations} broadcast joins:\n$plan")
    assert(!plan.contains("SortMergeJoin") &&
      !plan.contains("ShuffledHashJoin"),
      s"an iteration lost its broadcast hint:\n$plan")
  }

  test("x_pagerank matches a hand-rolled integer PR on a tiny basket fixture") {
    val tmp = java.nio.file.Files.createTempDirectory("pr").toString
    // baskets: {1,2,3} and {1,2} -> triangle 1-2-3 with a doubled 1-2 edge
    // (dedup'd), degrees: 1->2, 2->2, 3->2
    Seq((10L, 1L), (10L, 2L), (10L, 3L), (20L, 1L), (20L, 2L))
      .toDF("l_orderkey", "l_partkey")
      .write.parquet(s"$tmp/lineitem.parquet")
    val got = PageRank.ranks(spark, tmp)
      .select($"part", $"deg", $"rank").as[(Long, Long, Long)].collect()
      .map { case (p, d, r) => p -> ((d, r)) }.toMap

    // hand-rolled synchronous integer iteration over the triangle
    val n = 3L
    val deg = Map(1L -> 2L, 2L -> 2L, 3L -> 2L)
    val nbrs = Map(1L -> Seq(2L, 3L), 2L -> Seq(1L, 3L), 3L -> Seq(1L, 2L))
    var rank = Map(1L -> PageRank.TotalMass / n, 2L -> PageRank.TotalMass / n, 3L -> PageRank.TotalMass / n)
    for (_ <- 1 to PageRank.Iterations) {
      val inflow = nbrs.map { case (v, ns) => v -> ns.map(u => rank(u) / deg(u)).sum }
      rank = rank.keys.map { v =>
        v -> ((15L * (PageRank.TotalMass / n)) / 100L + (85L * inflow(v)) / 100L)
      }.toMap
    }
    rank.foreach { case (p, r) =>
      assert(got(p) == ((deg(p), r)), s"part $p: got ${got(p)}, expected ($r)")
    }
  }
}
