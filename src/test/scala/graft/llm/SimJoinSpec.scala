package graft.llm

import org.apache.spark.sql.functions._

import graft.SparkSpec

class SimJoinSpec extends SparkSpec {
  import spark.implicits._

  /** Planted corpus: clusters of near-identical docs (edits at both ends
    * leave ~36 of ~42 3-gram shingles shared — Jaccard ≈ 0.86, above τ),
    * plus short filler docs that share at most one shingle (far below τ).
    */
  private lazy val corpus = {
    val base = (0 until 40).map(i => s"w$i").mkString(" ")
    val rows = (0 until 6).flatMap { c =>
      (0 until 3).map { i =>
        val text = if (i == 0) s"c$c $base"
        else s"c$c ${base.split(" ").drop(1).mkString(" ")} u${c}_$i"
        (c * 10L + i, "en", text)
      }
    } ++ (100 until 120).map(i => (i.toLong, "en", s"w0 w1 w2 odd$i extra$i"))
    rows.toDF("doc_id", "lang", "text")
  }

  private def bruteForce = {
    val docs = Dedup.shingleSets(corpus)
    docs.as("a").join(docs.as("b"),
        $"a.lang" === $"b.lang" && $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"),
        size(array_intersect($"a.s", $"b.s")).cast("long").as("nc"),
        (size($"a.s") + size($"b.s")).cast("long").as("nt"))
      .withColumn("nu", $"nt" - $"nc")
      .filter($"nc" * SimJoin.TauDen >= $"nu" * SimJoin.TauNum)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
  }

  test("prefix-filtered join equals brute force on the planted corpus") {
    val viaPrefix = SimJoin.jaccardJoinOver(corpus)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    val exact = bruteForce
    assert(exact.nonEmpty, "planted corpus produced no matches — test is vacuous")
    assert(viaPrefix == exact)
  }

  test("every emitted pair truly clears the threshold (integer check)") {
    val out = SimJoin.jaccardJoinOver(corpus)
      .select($"n_common", $"n_union").as[(Long, Long)].collect()
    assert(out.forall { case (nc, nu) => nc * SimJoin.TauDen >= nu * SimJoin.TauNum })
  }

  test("cross-language pairs are never emitted") {
    val mixed = corpus.withColumn("lang",
      when($"doc_id" % 2 === 0, lit("en")).otherwise(lit("de")))
    val out = SimJoin.jaccardJoinOver(mixed)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect()
    assert(out.forall { case (a, b) => (a % 2) == (b % 2) })
  }

  test("x_jaccard_join runs on the sf0.001 fixture") {
    val out = SimJoin.jaccardJoin(spark, "/root/testdata/sf0.001")
      .limit(5).collect()
    assert(out.length >= 0) // smoke: plan executes end to end
  }
}
