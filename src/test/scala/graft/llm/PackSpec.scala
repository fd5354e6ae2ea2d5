package graft.llm

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Batch-assembly operators ([[Pack]]) on the sf0.001 fixtures: packing
  * offsets must tile each source stream exactly, mixing must honor the
  * per-source weight arithmetic, and contamination hits must be real
  * shared 8-grams against the eval slice.
  */
class PackSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  // the eval slice: md5(doc_id) starts with '0'
  private def isEval(id: Long): Boolean =
    java.security.MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.startsWith("0")

  test("seqPack offsets tile each source stream with no gaps or overlaps") {
    val rows = Pack.seqPack(spark, dir)
      .select("source", "doc_id", "n_toks", "start_tok", "seq_id",
        "tok_offset", "n_seqs_spanned")
      .as[(String, Long, Long, Long, Long, Long, Long)]
      .collect()
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (_, docs) =>
      val sorted = docs.sortBy(_._2)
      // first doc starts at 0; every next doc starts where the previous ended
      assert(sorted.head._4 == 0L)
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(b._4 == a._4 + a._3)
        case _ =>
      }
      sorted.foreach { case (_, _, nToks, start, seqId, off, span) =>
        assert(seqId == start / Pack.SeqLen)
        assert(off == start % Pack.SeqLen)
        assert(span == (start + nToks - 1) / Pack.SeqLen - start / Pack.SeqLen + 1)
      }
    }
  }

  test("datasetMix emits exactly n_copies rows per doc, weights by stream mod 4") {
    val rows = Pack.datasetMix(spark, dir)
      .as[(Long, String, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (_, copies) =>
      val n = copies.head._4
      assert(copies.length == n)
      assert(copies.map(_._3).sorted.sameElements(1L to n))
      val grp = copies.head._2.drop(3).toInt % 4
      val (lo, hi) = grp match {
        case 0 => (0L, 1L); case 1 => (1L, 1L)
        case 2 => (2L, 3L); case _ => (3L, 3L)
      }
      assert(n >= lo && n <= hi)
    }
    // group-1 sources pass through 1:1 — every doc present exactly once
    val g1Docs = graft.io.Tables.documents(spark, dir)
      .filter($"source".substr(4, 10).cast("int") % 4 === 1).count()
    assert(rows.count(_._2.drop(3).toInt % 4 == 1) == g1Docs)
  }

  test("docSplit chunks reconstruct every document exactly") {
    val texts = graft.io.Tables.documents(spark, dir)
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    val chunks = Pack.docSplit(spark, dir)
      .select("doc_id", "chunk_id", "start_tok", "chunk_len", "chunk_text")
      .as[(Long, Long, Long, Long, String)].collect()
    chunks.groupBy(_._1).foreach { case (id, cs) =>
      val toks = texts(id).split(" ", -1)
      val sorted = cs.sortBy(_._2)
      // chunk count and geometry
      assert(sorted.length == (toks.length + Pack.ChunkStride - 1) / Pack.ChunkStride)
      sorted.foreach { case (_, cid, start, len, text) =>
        assert(start == 1 + (cid - 1) * Pack.ChunkStride)
        assert(len == math.min(Pack.ChunkLen, toks.length - start + 1))
        assert(text == toks.slice(start.toInt - 1, start.toInt - 1 + Pack.ChunkLen)
          .mkString(" "))
      }
      // dropping each chunk's overlap tail reconstructs the original tokens
      val rebuilt = sorted.map(c => c._5.split(" ", -1).take(Pack.ChunkStride))
        .reduce(_ ++ _)
      assert(rebuilt.take(toks.length).sameElements(toks))
    }
  }

  test("splitAssign is append-stable: new docs never move existing ones") {
    def assignments(d: String): Map[Long, String] = {
      val h = java.security.MessageDigest.getInstance("MD5")
      graft.io.Tables.documents(spark, d).select("doc_id").as[Long].collect()
        .map { id =>
          val hex = h.digest(s"$id:split".getBytes("UTF-8"))
            .map("%02x".format(_)).mkString
          id -> (if (hex.head < 'e') "train" else if (hex.head < 'f') "val" else "test")
        }.toMap
    }
    // the driver-side routing rule above IS the engine's rule: totals agree
    val counts = Pack.splitAssign(spark, dir)
      .as[(String, String, Long)].collect()
    val want = assignments(dir).groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val got = counts.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    assert(got == want)
    assert(got.keySet.contains("train") && got("train") > got.getOrElse("val", 0L))
  }

  test("repetitionFilter flags a planted template doc, passes prose") {
    val d = java.nio.file.Files.createTempDirectory("rep").toString
    Seq(
      (1L, "buy now " * 20 + "limited offer"), // one bigram dominates
      (2L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (3L, "one two")) // single bigram: trivially repeated
      .toDF("doc_id", "text")
      .write.parquet(s"$d/documents.parquet")
    val got = Pack.repetitionFilter(spark, d)
      .select("doc_id", "repeated").as[(Long, Boolean)].collect().toMap
    assert(got(1L) && !got(2L) && got(3L))
  }

  test("contamination hits are real shared 8-grams with the eval slice") {
    def grams(text: String): Set[String] =
      text.split(" ").sliding(8).filter(_.length == 8).map(_.mkString(" ")).toSet
    val docs = graft.io.Tables.documents(spark, dir)
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    val evalGrams = docs.collect { case (id, t) if isEval(id) => grams(t) }
      .foldLeft(Set.empty[String])(_ ++ _)
    val flagged = Pack.contamination(spark, dir)
      .as[(Long, Long, Long)].collect()
    flagged.foreach { case (id, nShared, nEval) =>
      assert(!isEval(id), s"eval doc $id must not appear as a training hit")
      val shared = grams(docs(id)).intersect(evalGrams)
      assert(shared.size == nShared, s"doc $id")
      assert(nEval >= 1)
    }
    // completeness: every training doc sharing an 8-gram IS flagged
    val expected = docs.collect {
      case (id, t) if !isEval(id) && grams(t).intersect(evalGrams).nonEmpty => id
    }.toSet
    assert(flagged.map(_._1).toSet == expected)
  }

  test("contamination counts distinct grams even when one gram hits two eval docs") {
    // plant ids whose md5 prefix is computed driver-side
    val evalIds = (0L until 200L).filter(isEval).take(2)
    val trainId = (0L until 200L).find(i => !isEval(i)).get
    val shared = "a b c d e f g h" // one 8-gram
    val d = java.nio.file.Files.createTempDirectory("contam").toString
    Seq(
      (evalIds(0), shared + " tail one"),
      (evalIds(1), shared + " tail two"), // same 8-gram in BOTH eval docs
      (trainId, shared + " " + shared))   // and twice in the training doc
      .toDF("doc_id", "text")
      .write.parquet(s"$d/documents.parquet")
    val got = Pack.contamination(spark, d)
      .as[(Long, Long, Long)].collect()
    val row = got.find(_._1 == trainId).get
    // n_shared_ngrams counts DISTINCT grams: the repeated window overlap
    // produces several distinct 8-grams, but "a b c d e f g h" counts once
    // however many eval docs contain it; n_eval_docs sees both eval docs.
    val trainGrams = (shared + " " + shared).split(" ").sliding(8).map(_.mkString(" ")).toSet
    val evalGrams = Seq(shared + " tail one", shared + " tail two")
      .flatMap(_.split(" ").sliding(8).map(_.mkString(" "))).toSet
    assert(row._2 == trainGrams.intersect(evalGrams).size)
    assert(row._3 == 2L)
  }

  test("contamination skips documents shorter than one 8-gram under ANSI") {
    // a 5-token doc on each side has no 8-gram: it can match nothing, and
    // must not fail the query
    val evalIds = (0L until 200L).filter(isEval).take(2)
    val trainIds = (0L until 200L).filterNot(isEval).take(2)
    val shared = "a b c d e f g h"
    val d = java.nio.file.Files.createTempDirectory("contam").toString
    Seq(
      (evalIds(0), shared + " tail"),
      (evalIds(1), "p q r s t"),
      (trainIds(0), "x " + shared),
      (trainIds(1), "a b c d e"))
      .toDF("doc_id", "text")
      .write.parquet(s"$d/documents.parquet")
    val got = Pack.contamination(spark, d).as[(Long, Long, Long)].collect()
    assert(got.toSeq == Seq((trainIds(0), 1L, 1L)))
  }

  test("tokenBudget admits the prefix that fits and skips the straddler") {
    import graft.io.Tables
    val out = Pack.tokenBudget(spark, "/root/testdata/sf0.001")
      .as[(String, Long, Long, Long, Long)].collect()
    assert(out.nonEmpty)
    out.foreach { case (src, nDocs, total, nAdm, admTok) =>
      assert(admTok <= Pack.SourceTokenBudget, s"$src exceeded budget")
      assert(nAdm <= nDocs && admTok <= total)
    }
    // independent replay of the admission walk for one source
    val (src0, _, _, nAdm0, admTok0) = out.head
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .filter($"source" === src0)
      .select($"doc_id", size(split($"text", " ")).cast("long").as("ntok"),
        md5($"doc_id".cast("string")).as("h"))
      .as[(Long, Long, String)].collect()
      .sortBy { case (id, _, h) => (h, id) }
    var run = 0L; var n = 0L; var tok = 0L
    docs.foreach { case (_, ntok, _) =>
      run += ntok
      if (run <= Pack.SourceTokenBudget) { n += 1; tok += ntok }
    }
    assert((n, tok) == ((nAdm0, admTok0)), s"$src0 admission walk differs")
  }

  test("quotaSample: exact total, per-source counts match largest remainder") {
    val dir = "/root/testdata/sf0.001"
    val out = Pack.quotaSample(spark, dir)
      .as[(Long, String, Long)].collect()
    assert(out.length == Pack.QuotaTotal, "quota total not exact")
    assert(out.map(_._1).distinct.length == out.length, "duplicate picks")
    // driver-side largest-remainder recomputation from raw totals
    val totals = graft.io.Tables.documents(spark, dir)
      .groupBy($"source").agg(sum($"n_chars").as("tc"))
      .as[(String, Long)].collect().toMap
    val w = totals.map { case (s, tc) => s -> math.sqrt(tc.toDouble).toLong }
    val bigW = w.values.sum
    val k = Pack.QuotaTotal
    val base = w.map { case (s, wi) => s -> (k * wi / bigW) }
    val extra = (k - base.values.sum).toInt
    val winners = w.toSeq
      .map { case (s, wi) => (s, k * wi % bigW) }
      .sortBy { case (s, rem) => (-rem, s) }
      .take(extra).map(_._1).toSet
    val expected = base.map { case (s, b) =>
      s -> (b + (if (winners.contains(s)) 1L else 0L))
    }
    val got = out.groupBy(_._2).map { case (s, rows) => s -> rows.length.toLong }
    expected.foreach { case (s, q) =>
      assert(got.getOrElse(s, 0L) == q, s"source $s: ${got.getOrElse(s, 0L)} != $q")
    }
    // pick ranks are 1..quota_i within each source (the md5-first winners)
    out.groupBy(_._2).foreach { case (s, rows) =>
      assert(rows.map(_._3).sorted.toList == (1L to rows.length).toList, s)
    }
  }

  test("quotaSample precondition: no source is allocated more docs than it has") {
    // The exact-count contract requires quota_i <= cnt_i per source (see
    // the quotaSample scaladoc — a saturated source silently shortfalls,
    // and both engines agree so the hash gate cannot catch it). Assert the
    // precondition on every fixture SF so a fixture regeneration that
    // starves a source fails HERE, not silently at the gate.
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val cnt = graft.io.Tables.documents(spark, dir)
        .groupBy($"source").agg(count(lit(1)).as("cnt"))
        .as[(String, Long)].collect().toMap
      val totals = graft.io.Tables.documents(spark, dir)
        .groupBy($"source").agg(sum($"n_chars").as("tc"))
        .as[(String, Long)].collect().toMap
      val w = totals.map { case (s, tc) => s -> math.sqrt(tc.toDouble).toLong }
      val bigW = w.values.sum
      val k = Pack.QuotaTotal
      // ceiling allocation bounds base + remainder-bonus from above
      w.foreach { case (s, wi) =>
        val upper = k * wi / bigW + 1
        assert(upper <= cnt(s),
          s"$dir source $s: allocation upper bound $upper > ${cnt(s)} docs")
      }
    }
  }
}
