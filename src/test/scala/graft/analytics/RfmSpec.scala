package graft.analytics

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.io.Tables
import graft.util.Det

class RfmSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("x_rfm: segment sizes cover every customer exactly once, scores in 1..5") {
    val seg = Rfm.rfm(spark, dir)
      .as[(Long, Long, Long, Long, Long)].collect()
    val nCust = Tables.orders(spark, dir)
      .select($"o_custkey").distinct().count()
    assert(seg.map(_._4).sum == nCust)
    assert(seg.forall(r => Seq(r._1, r._2, r._3).forall(s => s >= 1 && s <= 5)))
  }

  test("x_rfm: per-metric quintiles are balanced to the rank formula") {
    // recompute the monetary quintile driver-side from the exact rank
    val m = Tables.orders(spark, dir)
      .groupBy($"o_custkey").agg(sum(Det.cents($"o_totalprice")).as("m_cents"))
      .as[(Long, Long)].collect()
      .sortBy { case (ck, mc) => (mc, ck) }
    val n = m.length
    val expected = m.zipWithIndex
      .groupBy { case (_, idx) => 1 + idx.toLong * 5 / n } // rank-1 == idx
      .map { case (s, xs) => s -> xs.length.toLong }
    val got = Rfm.rfm(spark, dir)
      .groupBy($"m_score").agg(sum($"n_customers").as("n"))
      .as[(Long, Long)].collect().toMap
    assert(got == expected)
  }

  // The round-14 boundary-key rewrite must reproduce the rank formula on
  // the shapes the histogram walk could mishandle: the model below IS the
  // original rule — rank = row_number over (metric, custkey), score =
  // 1 + ((rank-1)*5) div n.
  private def rankModel(
      rows: Seq[(Long, Long, Long, Long)]): Seq[(Long, Long, Long, Long, Long)] = {
    val n = rows.length
    def ranks(key: ((Long, Long, Long, Long)) => Long): Map[Long, Long] =
      rows.sortBy(r => (key(r), r._1)).zipWithIndex
        .map { case (r, idx) => r._1 -> (1L + idx.toLong * 5 / n) }.toMap
    val (rr, fr, mr) = (ranks(_._4), ranks(_._2), ranks(_._3))
    rows.groupBy(r => (rr(r._1), fr(r._1), mr(r._1))).toSeq
      .map { case ((a, b, c), xs) =>
        (a, b, c, xs.length.toLong, xs.map(_._3).sum) }
      .sortBy(t => (t._1, t._2, t._3))
  }

  test("boundary-key scoring matches the rank model on tie and tiny shapes") {
    val shapes: Seq[(String, Seq[(Long, Long, Long, Long)])] = Seq(
      "n smaller than 5" -> Seq.tabulate(3)(i =>
        (i.toLong, (i + 1).toLong, (i * 10).toLong, (5 - i).toLong)),
      "one metric all-equal" -> Seq.tabulate(50)(i =>
        (i.toLong, 7L, (i * 3 % 17).toLong, (i % 11).toLong)),
      "tie blocks straddling every boundary" -> Seq.tabulate(100)(i =>
        (i.toLong, (i / 25).toLong, (i / 20).toLong, (i / 10).toLong)),
      "wide-span outliers" -> (Seq.tabulate(40)(i =>
        (i.toLong, (i % 5).toLong, (i % 7).toLong, (i % 3).toLong)) :+
        (99L, 1000000L, 2000000000L, 500000L)),
      "span past 2^55 (bucket multiply overflows a long)" -> Seq(
        (0L, 0L, 1L << 60, 5L), (1L, 5L, 0L, 1L << 60), (2L, 1L << 60, 5L, 0L)),
      "full long range" -> Seq(
        (0L, Long.MinValue, Long.MaxValue, 0L), (1L, 0L, Long.MinValue, Long.MaxValue),
        (2L, Long.MaxValue, 0L, Long.MinValue)))
    shapes.foreach { case (label, rows) =>
      val base = rows.toDF("o_custkey", "f", "m_cents", "r_days")
      val got = Rfm.rfmScoresOver(base)
        .as[(Long, Long, Long, Long, Long)].collect().toSeq
      assert(got == rankModel(rows), s"shape: $label")
    }
  }

  test("rfmScoresOver on an empty frame returns the declared-schema empty " +
    "result (the grouped-aggregate form's output), not an NPE") {
    val out = Rfm.rfmScoresOver(
      Seq.empty[(Long, Long, Long, Long)].toDF("o_custkey", "f", "m_cents", "r_days"))
    assert(out.columns.toSeq ==
      Seq("r_score", "f_score", "m_score", "n_customers", "m_cents_total"))
    assert(out.collect().isEmpty)
  }

  test("x_rfm: monetary totals per segment add up to the corpus total") {
    val seg = Rfm.rfm(spark, dir)
      .as[(Long, Long, Long, Long, Long)].collect()
    val total = Tables.orders(spark, dir)
      .agg(sum(Det.cents($"o_totalprice"))).as[Long].head()
    assert(seg.map(_._5).sum == total)
  }
}
