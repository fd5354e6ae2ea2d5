package graft.llm

import org.apache.spark.sql.functions._

import graft.SparkSpec

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private def vecs(rows: (Long, Seq[Double])*) = rows.toDF("vec_id", "v")

  test("cosine: orthogonal = 0, identical = 1, opposite = -1") {
    val df = vecs(
      1L -> Seq(1.0, 0.0),
      2L -> Seq(0.0, 1.0),
      3L -> Seq(1.0, 0.0),
      4L -> Seq(-2.0, 0.0))
    val c = df.as("a").crossJoin(df.as("b"))
      .select(col("a.vec_id").as("ia"), col("b.vec_id").as("ib"),
        Similarity.cosine(col("a.v"), col("b.v")).as("cos"))
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, v) => (a, b) -> v }.toMap
    assert(math.abs(c((1L, 2L))) < 1e-12)
    assert(math.abs(c((1L, 3L)) - 1.0) < 1e-12)
    assert(math.abs(c((1L, 4L)) + 1.0) < 1e-12)
  }

  test("dot and norm2 fold exactly") {
    val df = vecs(1L -> Seq(1.0, 2.0, 3.0))
    val (d, n) = df.select(
      Similarity.dot($"v", $"v").as("d"),
      Similarity.norm2($"v").as("n")).as[(Double, Double)].head()
    assert(d == 14.0 && n == 14.0)
  }

  test("signBucket maps sign pattern of leading dims") {
    val df = vecs(1L -> Seq(1.0, -1.0, 0.0, 2.0))
    val b = df.select(Similarity.signBucket($"v", 4).as("b")).as[String].head()
    assert(b == "1011") // 0.0 counts as non-negative
  }

  test("signBucket reads the missing dims of a short vector as '0' under ANSI") {
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true")
    val df = vecs(1L -> Seq(1.0, -1.0), 2L -> Seq(2.0, 3.0, 4.0, 5.0), 3L -> Seq.empty)
    val b = df.orderBy($"vec_id").select(
      Similarity.signBucket($"v", 4).as("b"),
      Similarity.signBucket($"v", 2, offset = 3).as("tail")).as[(String, String)].collect()
    assert(b.toSeq == Seq("1000" -> "00", "1111" -> "10", "0000" -> "00"))
  }

  test("embedTables gives every vector, ragged or empty, one signBucket row per table under ANSI") {
    import Similarity.{EmbedBits, EmbedTables}
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true")
    val in = Map(
      1L -> Seq.tabulate(64)(i => if (i % 3 == 0) -1.0 - i else i.toDouble), // 0.0 reads '1'
      2L -> Seq.tabulate(10)(i => if (i % 4 == 1) -0.5 else 0.5), // tables 1–3 run past its end
      3L -> Seq.empty[Double])
    // driver model: dim d of table t is bit d − t·EmbedBits; a missing dim reads '0'
    def model(v: Seq[Double], t: Int): String = (0 until EmbedBits).map { i =>
      val d = t * EmbedBits + i
      if (d < v.size && v(d) >= 0.0) '1' else '0'
    }.mkString
    val e = vecs(in.toSeq: _*)
    val got = Similarity.embedTables(e).select($"vec_id", $"tbl", $"bucket")
      .as[(Long, Int, String)].collect().toSeq
    val bySignBucket = e.select($"vec_id" +: (0 until EmbedTables).map(t =>
        Similarity.signBucket($"v", EmbedBits, t * EmbedBits)): _*).collect()
      .flatMap(r => (0 until EmbedTables).map(t => (r.getLong(0), t, r.getString(t + 1))))
    val expected = for ((id, v) <- in.toSeq; t <- 0 until EmbedTables) yield (id, t, model(v, t))
    assert(got.sorted == expected.sorted)
    assert(bySignBucket.toSeq.sorted == expected.sorted)
    assert(Seq((2L, 0, "101110"), (2L, 1, "111000"), (2L, 2, "000000")).forall(expected.contains))
  }

  test("simTopK on a real fixture dir ranks self-similar vectors first") {
    val dir = java.nio.file.Files.createTempDirectory("sim").toString
    // 3 probe-eligible vectors + clones: nearest neighbor of 0 must be 10 (its clone)
    Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f), 0),
      (1L, Seq(0.0f, 1.0f, 0.0f), 0),
      (2L, Seq(0.7f, 0.7f, 0.0f), 0),
      (10L, Seq(2.0f, 0.0f, 0.0f), 0),
      (11L, Seq(0.0f, 3.0f, 0.0f), 0)
    ).toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    val top = Similarity.simTopK(spark, dir)
      .filter($"query_id" === 0L && $"rnk" === 1)
      .select($"neighbor_id").as[Long].head()
    assert(top == 10L)
  }

  test("simInt8 recall vs exact float top-10 stays high on the real fixture") {
    val dir = "/root/testdata/sf0.001"
    def tops(df: org.apache.spark.sql.DataFrame) =
      df.select($"query_id", $"neighbor_id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val exact = tops(Similarity.simTopK(spark, dir))
    val quant = tops(Similarity.simInt8(spark, dir))
    assert(quant.keySet == exact.keySet)
    val recalls = exact.map { case (q, ex) => (quant(q) intersect ex).size.toDouble / ex.size }
    val mean = recalls.sum / recalls.size
    // 64-dim int8 quantization perturbs cosine by ~1e-2; top-10 membership
    // should survive for the large majority of neighbors.
    assert(mean >= 0.7, s"mean recall@10 = $mean")
  }

  test("simInt8 sims approximate the float cosine within quantization error") {
    val dir = "/root/testdata/sf0.001"
    val q8 = Similarity.simInt8(spark, dir)
      .select($"query_id", $"neighbor_id", $"sim".as("sim8"))
    val joined = Similarity.simTopK(spark, dir)
      .join(q8, Seq("query_id", "neighbor_id"))
      .select(abs($"sim" - $"sim8").as("d")).as[Double].collect()
    assert(joined.nonEmpty)
    assert(joined.max < 0.05, s"max |float cos - int8 cos| = ${joined.max}")
  }

  test("ann_recall agrees with an independent brute-force overlap count") {
    val dir = "/root/testdata/sf0.001"
    val out = Similarity.annRecall(spark, dir)
      .as[(Long, Long, Long, Long, Double)].collect()
    assert(out.length == Similarity.RecallProbes)
    out.foreach { case (q, nt, na, no, r) =>
      assert(nt == Similarity.RecallK, s"probe $q truth size")
      assert(no <= math.min(nt, na), s"probe $q overlap bound")
      assert(math.abs(r - no.toDouble / nt) < 1e-15, s"probe $q recall")
    }
    // independent overlap recount for one probe via the declared exact route
    val truth0 = Similarity.simTopK(spark, dir)
      .filter($"query_id" === 0).select($"neighbor_id").as[Long].collect().toSet
    val e = graft.io.Tables.embeddings(spark, dir)
      .select($"vec_id",
        org.apache.spark.sql.functions.transform($"embedding", x => x.cast("double")).as("v"))
      .withColumn("bucket", Similarity.signBucket($"v", 8))
    val b0 = e.filter($"vec_id" === 0).select($"bucket").as[String].head()
    val bucketIds = e.filter($"bucket" === b0 && $"vec_id" =!= 0)
      .select($"vec_id").as[Long].collect().toSet
    val (_, _, _, no0, _) = out.find(_._1 == 0L).get
    // approx candidates are bucket-mates; overlap cannot exceed the
    // bucket's intersection with the exact top-10
    assert(no0 <= (truth0 intersect bucketIds).size, "probe 0 overlap vs bucket")
  }

  test("dedup rate curve is monotone and agrees with x_dedup_embed at its point") {
    val dir = "/root/testdata/sf0.001"
    val curve = Similarity.dedupRateCurve(spark, dir)
      .as[(Double, Long, Long, Long)].collect().toList
    assert(curve.map(_._1) == Similarity.RateCurveThresholds.toList)
    // raising the threshold can only shed pairs and flagged docs
    assert(curve.map(_._2) == curve.map(_._2).sorted.reverse, "pairs not monotone")
    assert(curve.map(_._3) == curve.map(_._3).sorted.reverse, "docs not monotone")
    // a pair touches two docs; distinct docs are bounded by 2·pairs
    curve.foreach { case (_, p, d, _) => assert(d <= 2 * p && (p == 0 || d >= 2)) }
    // the top operating point IS the declared dedup's threshold: same count
    val embedPairs = Similarity.dedupEmbed(spark, dir).count()
    assert(curve.last._2 == embedPairs, "curve top point != x_dedup_embed")
  }
}
