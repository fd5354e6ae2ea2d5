package graft.llm

import graft.SparkSpec

class IvfSpec extends SparkSpec {
  import spark.implicits._

  /** 3 well-separated clusters along orthogonal axes + noise dims. */
  private def clustered = {
    val rows = for {
      c <- 0 until 3
      i <- 0 until 8
    } yield {
      val base = Array.fill(6)(0.01 * ((c * 8 + i) % 5))
      base(c) = 1.0 + 0.01 * i
      ((c * 8 + i).toLong, base.toSeq)
    }
    rows.toDF("vec_id", "v")
  }

  test("train produces nlist centroids, each dominated by its cluster axis") {
    val cents = Ivf.train(spark, clustered, nlist = 3, lloyd = AnnMulti.LloydIters)
      .as[(Int, Seq[Double])].collect().sortBy(_._1)
    assert(cents.length == 3)
    // centroid 0 seeded from vec 0 (cluster 0) must stay strongest on axis 0
    cents.foreach { case (cid, v) =>
      assert(v.indexOf(v.max) < 3, s"centroid $cid not axis-aligned: $v")
    }
  }

  test("assign maps every vector to exactly one list; clusters stay together") {
    val cents = Ivf.train(spark, clustered, nlist = 3, lloyd = AnnMulti.LloydIters)
    val a = Ivf.assign(spark, clustered, cents)
      .as[(Long, Int)].collect().toMap
    assert(a.size == 24)
    // all members of an input cluster land in the same inverted list
    (0 until 3).foreach { c =>
      val lists = (0 until 8).map(i => a((c * 8 + i).toLong)).distinct
      assert(lists.size == 1, s"cluster $c split across lists $lists")
    }
  }

  test("no single-partition exchange anywhere in the declared IVF plan") {
    // Round 1's seeding used Window.orderBy(vec_id) with no partitionBy —
    // a guaranteed all-data-through-one-task bottleneck. Pin its absence.
    val df = Ivf.ivfTopK(spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"), s"single-partition exchange in:\n$plan")
  }

  test("exhaustive probe (nProbe = nlist) is exactly brute-force top-k") {
    val cents = Ivf.train(spark, clustered, nlist = 3, lloyd = AnnMulti.LloydIters)
    val queries = clustered.filter($"vec_id" === 5L)
      .select($"vec_id".as("query_id"), $"v".as("qv"))
    val ivf = Ivf.search(spark, clustered, cents, queries, k = 5, nProbe = 3)
      .select($"neighbor_id", $"rnk").as[(Long, Int)].collect().toSet
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val q5 = clustered.filter($"vec_id" === 5L).select($"v".as("qv"))
    val w = Window.orderBy(desc("sim"), asc("vec_id"))
    val brute = clustered.filter($"vec_id" =!= 5L).crossJoin(q5)
      .select($"vec_id", Similarity.cosineFast(spark, $"v", $"qv").as("sim"))
      .withColumn("rnk", row_number().over(w)).filter($"rnk" <= 5)
      .select($"vec_id", $"rnk").as[(Long, Int)].collect().toSet
    assert(ivf == brute)
  }

  test("search with nProbe=1 achieves perfect recall@3 on separated clusters") {
    val cents = Ivf.train(spark, clustered, nlist = 3, lloyd = AnnMulti.LloydIters)
    val queries = clustered.filter($"vec_id" === 0L)
      .select($"vec_id".as("query_id"), $"v".as("qv"))
    val got = Ivf.search(spark, clustered, cents, queries, k = 3, nProbe = 1)
      .select($"neighbor_id").as[Long].collect().toSet
    // brute-force top-3 for vec 0, computed with the HOF cosine
    import org.apache.spark.sql.functions._
    val q0 = clustered.filter($"vec_id" === 0L).select($"v".as("qv"))
    val brute = clustered.filter($"vec_id" =!= 0L).crossJoin(q0)
      .select($"vec_id", Similarity.cosine($"v", $"qv").as("sim"))
      .orderBy($"sim".desc, $"vec_id".asc).limit(3)
      .select($"vec_id").as[Long].collect().toSet
    assert(got == brute)
  }
}
