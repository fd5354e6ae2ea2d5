package graft.llm

import graft.SparkSpec
import graft.io.Tables

class EvalSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  private def scoredDriverSide(): Seq[(Long, Long, Long)] = {
    val vecs = Tables.embeddings(spark, dir)
      .selectExpr("vec_id", "cast(label as long) as label",
        """transform(embedding, x ->
          | cast(greatest(-127L, least(127L,
          |   floor(cast(x as double) * 127.0 + 0.5))) as long))""".stripMargin + " as q")
      .as[(Long, Long, Seq[Long])].collect()
    val dims = vecs.head._3.length
    val c0 = (0 until dims).map(d =>
      vecs.filter(_._2 == Eval.PosLabel).map(_._3(d)).sum)
    vecs.map { case (id, l, q) =>
      (id, l, q.zip(c0).map { case (a, b) => a * b }.sum)
    }.toSeq
  }

  test("x_auc matches the exact Mann-Whitney statistic") {
    val sc = scoredDriverSide()
    val ranked = sc.sortBy { case (id, _, s) => (s, id) }.zipWithIndex
    val nPos = sc.count(_._2 == Eval.PosLabel).toLong
    val nNeg = sc.length - nPos
    val rPos = ranked.filter(_._1._2 == Eval.PosLabel).map(_._2 + 1L).sum
    val expected = (nPos, nNeg, rPos,
      (rPos - nPos * (nPos + 1) / 2) * 1000000L / (nPos * nNeg))
    val got = Eval.auc(spark, dir).as[(Long, Long, Long, Long)].head()
    assert(got == expected)
    // the positive-centroid scorer must separate its own class: AUC > 0.5
    assert(got._4 > 500000L)
  }

  test("x_ks_stat matches the exact two-sample KS distance") {
    val sc = scoredDriverSide()
    val ranked = sc.sortBy { case (id, _, s) => (s, id) }
    val nPos = sc.count(_._2 == Eval.PosLabel).toLong
    val nNeg = sc.length - nPos
    var posCum = 0L
    var maxGap = 0L
    ranked.zipWithIndex.foreach { case ((_, l, _), i) =>
      if (l == Eval.PosLabel) posCum += 1
      val gap = math.abs(posCum * nNeg - (i + 1 - posCum) * nPos)
      if (gap > maxGap) maxGap = gap
    }
    val expected = (nPos, nNeg, maxGap, maxGap * 1000000L / (nPos * nNeg))
    val got = Eval.ksStat(spark, dir).as[(Long, Long, Long, Long)].head()
    assert(got == expected)
    assert(got._4 > 0L)
  }

  test("x_calibration_bins: deciles cover all vectors; positives concentrate on top") {
    val rows = Eval.calibrationBins(spark, dir)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    val sc = scoredDriverSide()
    assert(rows.map(_._2).sum == sc.length.toLong)
    assert(rows.map(_._3).sum == sc.count(_._2 == Eval.PosLabel).toLong)
    // top decile must beat the bottom decile for a separating scorer
    assert(rows.last._4 > rows.head._4)
  }

  // The round-14 boundary-key decile rewrite must reproduce the rank rule
  // — decile = 1 + ((rank-1)*10) div n, rank = row_number over
  // (score, vec_id) — on tie-heavy and tiny shapes the fixtures avoid.
  test("boundary-key deciles match the rank model on tie-heavy shapes") {
    def model(rows: Seq[(Long, Long, Long)]): Seq[(Long, Long, Long, Long)] = {
      val n = rows.length
      rows.sortBy(r => (r._3, r._1)).zipWithIndex
        .groupBy { case (_, idx) => 1L + idx.toLong * 10 / n }
        .toSeq.map { case (d, xs) =>
          val pos = xs.count(_._1._2 == Eval.PosLabel).toLong
          (d, xs.length.toLong, pos, pos * 1000 / xs.length)
        }.sortBy(_._1)
    }
    val shapes: Seq[(String, Seq[(Long, Long, Long)])] = Seq(
      "fewer rows than deciles" ->
        Seq.tabulate(7)(i => (i.toLong, (i % 2).toLong, (i * 3).toLong)),
      "one score value for everyone" ->
        Seq.tabulate(100)(i => (i.toLong, (i % 3).toLong, 5L)),
      "tie blocks straddling decile edges" ->
        Seq.tabulate(200)(i => (i.toLong, (i % 2).toLong, (i / 30).toLong)),
      "negative scores with outliers" ->
        (Seq.tabulate(80)(i => (i.toLong, (i % 2).toLong, (-40 + i).toLong)) :+
          (999L, 0L, 1000000L)),
      "span past 2^55 (bucket multiply overflows a long)" ->
        Seq((0L, 1L, 0L), (1L, 0L, 5L), (2L, 1L, 1L << 60)),
      "full long range" ->
        Seq((0L, 1L, Long.MinValue), (1L, 0L, 0L), (2L, 1L, Long.MaxValue)))
    shapes.foreach { case (label, rows) =>
      val got = Eval.calibrationBinsOver(rows.toDF("vec_id", "label", "score"))
        .as[(Long, Long, Long, Long)].collect().toSeq
      assert(got == model(rows), s"shape: $label")
    }
  }

  test("calibrationBinsOver on an empty frame returns the declared-schema " +
    "empty result (scored() itself produces one on a no-positive corpus)") {
    val out = Eval.calibrationBinsOver(
      Seq.empty[(Long, Long, Long)].toDF("vec_id", "label", "score"))
    assert(out.columns.toSeq ==
      Seq("decile", "n_vecs", "n_pos", "pos_permille"))
    assert(out.collect().isEmpty)
  }

  // The unrolled scorer indexes q[d] for every centroid dim d; under Spark
  // 4's default ANSI mode a plain element_at would THROW for vectors
  // shorter than the centroid — the posexplode+inner-join form (and the
  // oracle) instead score such vectors over their own dims. Pin the
  // try_element_at semantics on a deliberately ragged corpus.
  test("unrolled scorer gives ragged vectors the join form's " +
    "contribute-nothing semantics (ANSI out-of-bounds guard)") {
    val rows = Seq(
      (1L, Eval.PosLabel, Seq(1.0f, 0.5f, -1.0f, 0.25f)),
      (2L, Eval.PosLabel, Seq(0.5f, 1.0f, 0.5f, -0.5f)),
      (3L, 9, Seq(1.0f, 1.0f)),   // shorter than the centroid's 4 dims
      (4L, 9, Seq.empty[Float]),  // zero-dim: posexplode emits no rows
      (5L, 9, Seq(-1.0f, 0.25f, 0.5f, 1.0f)))
    val tmp = java.nio.file.Files.createTempDirectory("ragged_emb").toString
    rows.toDF("vec_id", "label", "embedding")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    // driver-side model, join semantics: quantize, positive centroid over
    // dims 1..4, each vector scored over ITS OWN dims; zero-dim drops
    def q8(x: Float): Long =
      math.max(-127L, math.min(127L, math.floor(x * 127.0 + 0.5).toLong))
    val qs = rows.map { case (id, l, e) => (id, l.toLong, e.map(q8)) }
    val dims = 4
    val cv = (0 until dims).map(d =>
      qs.filter(_._2 == Eval.PosLabel)
        .map(v => if (d < v._3.length) v._3(d) else 0L).sum)
    val sc = qs.filter(_._3.nonEmpty).map { case (id, l, q) =>
      (id, l, q.zipWithIndex.map { case (v, d) => v * cv(d) }.sum)
    }
    val ranked = sc.sortBy { case (id, _, s) => (s, id) }.zipWithIndex
    val nPos = sc.count(_._2 == Eval.PosLabel).toLong
    val nNeg = sc.length - nPos
    val rPos = ranked.filter(_._1._2 == Eval.PosLabel).map(_._2 + 1L).sum
    val expected = (nPos, nNeg, rPos,
      (rPos - nPos * (nPos + 1) / 2) * 1000000L / (nPos * nNeg))
    val got = Eval.auc(spark, tmp).as[(Long, Long, Long, Long)].head()
    assert(got == expected)
  }
}
