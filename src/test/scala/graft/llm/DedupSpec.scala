package graft.llm

import org.apache.spark.sql.functions._

import graft.SparkSpec

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private def docsDF(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  private def writeDocs(rows: (Long, String)*): String = {
    val dir = java.nio.file.Files.createTempDirectory("dedup").toString
    docsDF(rows: _*).write.parquet(s"$dir/documents.parquet")
    dir
  }

  test("identical docs always collide in every band; disjoint docs in none") {
    val dir = writeDocs(
      1L -> "spark shuffles data across the cluster during wide operations",
      2L -> "spark shuffles data across the cluster during wide operations",
      3L -> "completely different words having nothing in common whatsoever here")
    val pairs = Dedup.dedupMinhash(spark, dir)
      .as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("near-duplicates (one word changed) share at least one band") {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val nearDup = base.replace("tok37", "changed")
    val dir = writeDocs(1L -> base, 2L -> nearDup)
    val pairs = Dedup.dedupMinhash(spark, dir).as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("jaccard is 1.0 for identical docs and in (0,1) for near-dups") {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val nearDup = base.replace("tok37", "changed")
    val dir = writeDocs(1L -> base, 2L -> nearDup, 3L -> base)
    val j = Dedup.dedupJaccard(spark, dir)
      .select($"doc_a", $"doc_b", $"jaccard").as[(Long, Long, Double)]
      .collect().map { case (a, b, v) => (a, b) -> v }.toMap
    assert(j((1L, 3L)) == 1.0)
    j.get((1L, 2L)).foreach { v => assert(v > 0.8 && v < 1.0) }
  }

  test("dedupExact keeps the min doc_id per identical text") {
    val dir = writeDocs(5L -> "same text here", 2L -> "same text here", 9L -> "other text entirely")
    val kept = Dedup.dedupExact(spark, dir)
      .select($"doc_id", $"n_copies").as[(Long, Long)].collect().toSet
    assert(kept == Set((2L, 2L), (9L, 1L)))
  }

  test("crossDedup keeps the lowest-priority-tier copy, ties by doc_id") {
    // same canonical text planted across source tiers: src3 (3%3=0 curated),
    // src4 (1), src5 (2); plus a whitespace variant proving canonicalization
    val dir = java.nio.file.Files.createTempDirectory("xdedup").toString
    Seq(
      (10L, "the exact same text", "src5"),
      (11L, "the exact  same \t text", "src4"), // canonicalizes equal
      (12L, "the exact same text", "src3"),
      (13L, "the exact same text", "src3"), // tie within tier -> doc_id
      (20L, "unique content", "src5"))
      .toDF("doc_id", "text", "source")
      .write.parquet(s"$dir/documents.parquet")
    val kept = Dedup.crossDedup(spark, dir)
      .select($"kept_doc_id", $"kept_source", $"n_copies")
      .as[(Long, String, Long)].collect().toSet
    assert(kept == Set((12L, "src3", 4L), (20L, "src5", 1L)))
  }

  test("sourceTier: srcN maps to N%3, malformed names fall to tier 2") {
    val got = Seq("src0", "src4", "src17", "weird", "src", "srcX", "src9tail", "SRC3")
      .toDF("s").select(Dedup.sourceTier($"s")).as[Long].collect().toSeq
    assert(got == Seq(0L, 1L, 2L, 2L, 2L, 2L, 2L, 2L))
  }

  test("dedupIncr separates history hits from in-batch dups") {
    val dir = java.nio.file.Files.createTempDirectory("incr").toString
    Seq(
      (10L, "indexed doc", "src0"),       // history
      (250L, "indexed doc", "src1"),      // batch: dup of history
      (251L, "fresh doc", "src1"),        // batch: new, first occurrence
      (252L, "fresh doc", "src2"),        // batch: dup WITHIN batch only
      (253L, "another new", "src3"))      // batch: unique
      .toDF("doc_id", "text", "source")
      .write.parquet(s"$dir/documents.parquet")
    val got = Dedup.dedupIncr(spark, dir)
      .select($"doc_id", $"in_history", $"dup_in_batch")
      .as[(Long, Boolean, Boolean)].collect().toSet
    assert(got == Set(
      (250L, true, false),
      (251L, false, false),
      (252L, false, true),
      (253L, false, false)))
  }

  test("signatures are deterministic across runs") {
    val dir = writeDocs(1L -> "alpha beta gamma delta epsilon zeta")
    val s1 = Dedup.signatures(spark, dir).collect().toSeq
    val s2 = Dedup.signatures(spark, dir).collect().toSeq
    assert(s1 == s2)
  }

  // Adversarial corpus: 1000 docs land in ONE LSH bucket (the crawl-dedup
  // worst case). Uncapped expansion would emit C(1000,2) = 499500 pairs in a
  // single task; the cap bounds output to C(cap,2) full pairs + (n - cap)
  // representative edges while keeping every doc connected to the cluster.
  test("bucket cap bounds adversarial pair expansion and preserves connectivity") {
    val n = 1000
    val cap = Dedup.BucketCap
    val bandRows = (0 until n).map(i => (i.toLong, 0, "samehash"))
      .toDF("doc_id", "band", "bh")
    val pairs = Dedup.dedupMinhashOver(bandRows).as[(Long, Long)].collect()
    assert(pairs.length == cap * (cap - 1) / 2 + (n - cap))
    // every doc is in some pair => one connected dup-cluster component
    assert(pairs.flatMap(p => Seq(p._1, p._2)).distinct.length == n)
    // overflow ids (>= cap) each appear exactly once, linked to the rep (id 0)
    assert(pairs.filter(_._2 >= cap).forall(_._1 == 0L))
  }

  test("simhash bucket cap bounds identical-fingerprint pair expansion") {
    val n = 1000
    val cap = Dedup.BucketCap
    val fp = (0 until n).map(i => (i.toLong, 0x123456789abcdL))
      .toDF("doc_id", "simhash")
    val pairs = SimHash.dedupSimhashOver(fp)
      .as[(Long, Long, Int)].collect()
    // all 4 bands produce the SAME capped pair set; distinct() collapses them
    assert(pairs.length == cap * (cap - 1) / 2 + (n - cap))
    assert(pairs.forall(_._3 == 0)) // hamming 0 for identical fingerprints
    assert(pairs.flatMap(p => Seq(p._1, p._2)).distinct.length == n)
  }

  test("bucket cap never fires on small honest buckets (pairs unchanged)") {
    val bandRows = (0 until 5).map(i => (i.toLong, 0, "h"))
      .toDF("doc_id", "band", "bh")
    val pairs = Dedup.dedupMinhashOver(bandRows).as[(Long, Long)].collect().toSet
    val expected = (for { a <- 0 until 5; b <- a + 1 until 5 } yield (a.toLong, b.toLong)).toSet
    assert(pairs == expected)
  }

  test("dedupKeepBest keeps the longest copy and accounts every char") {
    import graft.io.Tables
    val dir = "/root/testdata/sf0.001"
    val out = Dedup.dedupKeepBest(spark, dir)
      .as[(String, Long, Long, Long, Long)].collect()
    val totalChars = Tables.documents(spark, dir)
      .agg(sum($"n_chars")).as[Long].head()
    val nDocs = Tables.documents(spark, dir).count()
    assert(out.map(_._4).sum == nDocs, "every doc belongs to one group")
    assert(out.map(r => r._3 + r._5).sum == totalChars, "chars conserved")
    out.foreach { case (_, _, keptChars, _, _) => assert(keptChars >= 0) }
    // the kept doc really is the group maximum
    val fps = Tables.documents(spark, dir)
      .select($"doc_id", $"n_chars",
        md5(graft.llm.TextClean.canonicalize($"text")).as("fp"))
      .as[(Long, Long, String)].collect().groupBy(_._3)
    out.foreach { case (fp, kid, kch, _, _) =>
      val grp = fps(fp)
      val best = grp.minBy { case (id, nc, _) => (-nc, id) }
      assert((best._1, best._2) == ((kid, kch)), s"group $fp kept wrong doc")
    }
  }
}
