package graft.llm

import org.apache.spark.sql.functions._

import graft.SparkSpec

class ContainSpec extends SparkSpec {
  import spark.implicits._

  /** Planted corpus: a 10-token snippet verbatim inside a 100-token page
    * (containment 1.0 at J ≈ 0.08 — invisible to the symmetric Jaccard
    * join), a near-contained snippet (one edit), a same-band snippet pair
    * sharing nothing, and a below-band tiny doc that would be "contained"
    * everywhere if the size floor didn't hold.
    */
  private lazy val corpus = {
    val snippet = (0 until 10).map(i => s"s$i").mkString(" ")
    val page = ((0 until 45).map(i => s"p$i") ++ snippet.split(" ") ++
      (45 until 90).map(i => s"p$i")).mkString(" ")
    val nearSnippet = snippet.split(" ").updated(9, "edited").mkString(" ")
    Seq(
      (1L, "en", snippet),              // 8 shingles, all inside the page
      (2L, "en", page),                 // the container (~107 shingles)
      (3L, "en", nearSnippet),          // 8 shingles, 7 shared with page
      (4L, "en", (0 until 12).map(i => s"q$i").mkString(" ")), // unrelated
      (5L, "en", "t0 t1 t2 t3"),        // 2 shingles — below SnipMin band
      (6L, "fr", snippet)               // same text, other language
    ).toDF("doc_id", "lang", "text")
  }

  private def bruteForce = {
    val docs = Dedup.shingleSets(corpus)
    docs.as("a").join(docs.as("b"),
        $"a.lang" === $"b.lang" && $"a.doc_id" =!= $"b.doc_id" &&
          size($"a.s").between(Contain.SnipMin, Contain.SnipMax))
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"),
        size(array_intersect($"a.s", $"b.s")).cast("long").as("nc"),
        size($"a.s").cast("long").as("na"))
      .filter($"nc" * Contain.TauDen >= $"na" * Contain.TauNum)
      .select($"doc_a", $"doc_b", $"nc", $"na")
      .as[(Long, Long, Long, Long)].collect().toSet
  }

  test("planted snippet is found inside the page, direction correct") {
    val out = Contain.containmentJoinOver(corpus)
      .select($"doc_a", $"doc_b", $"containment")
      .as[(Long, Long, Double)].collect()
    val pairs = out.map(p => (p._1, p._2)).toSet
    assert(pairs.contains((1L, 2L)), "verbatim snippet missed")
    assert(!pairs.contains((2L, 1L)), "containment direction inverted")
    assert(out.find(p => (p._1, p._2) == (1L, 2L)).get._3 == 1.0)
    // near-snippet: 7 of 8 shingles shared = 0.875 >= 0.8
    assert(pairs.contains((3L, 2L)), "near-contained snippet missed")
    // band floor: the 2-shingle doc must not match anything
    assert(!pairs.exists(_._1 == 5L), "below-band doc leaked in")
    // language partition: the fr twin must not cross into en
    assert(!pairs.exists(p => p._1 == 6L || p._2 == 6L))
  }

  test("prefix-filtered route equals brute force on the planted corpus") {
    val fast = Contain.containmentJoinOver(corpus)
      .select($"doc_a", $"doc_b", $"n_common", $"n_a")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(fast == bruteForce)
  }

  test("fixture route is lossless vs brute force at sf0.001") {
    val docs = graft.io.Tables.documents(spark, "/root/testdata/sf0.001")
    val fast = Contain.containmentJoinOver(docs)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    val shing = Dedup.shingleSets(docs)
    val brute = shing.as("a").join(shing.as("b"),
        $"a.lang" === $"b.lang" && $"a.doc_id" =!= $"b.doc_id" &&
          size($"a.s").between(Contain.SnipMin, Contain.SnipMax))
      .filter(size(array_intersect($"a.s", $"b.s")) * Contain.TauDen >=
        size($"a.s") * Contain.TauNum)
      .select($"a.doc_id", $"b.doc_id").as[(Long, Long)].collect().toSet
    assert(fast == brute && fast.nonEmpty)
  }
}
