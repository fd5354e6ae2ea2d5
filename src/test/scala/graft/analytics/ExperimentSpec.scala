package graft.analytics

import java.security.MessageDigest

import graft.SparkSpec
import graft.io.Tables

class ExperimentSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  private def arm(uid: Long): String = {
    val hex = MessageDigest.getInstance("MD5")
      .digest(s"$uid:ab".getBytes("UTF-8")).map("%02x".format(_)).mkString
    if (java.lang.Long.parseLong(hex.take(15), 16) % 2 == 0) "control" else "treatment"
  }

  test("x_abtest matches a driver-side split and both arms are populated") {
    val users = Tables.events(spark, dir)
      .selectExpr("user_id", "event_type",
        "cast(round(value * 100) as long) as cents")
      .as[(Long, String, Option[Long])].collect()
      .groupBy(_._1).map { case (u, es) =>
        val purchases = es.filter(_._2 == "purchase")
        (arm(u), if (purchases.nonEmpty) 1L else 0L,
          purchases.flatMap(_._3).sum)
      }.toSeq
    val expected = users.groupBy(_._1).map { case (a, xs) =>
      val n = xs.length.toLong
      val conv = xs.map(_._2).sum
      val rev = xs.map(_._3).sum
      (a, n, conv, conv * 1000000 / n, rev / n)
    }.toSet
    val got = Experiment.abtest(spark, dir)
      .as[(String, Long, Long, Long, Long)].collect().toSet
    assert(got == expected)
    assert(got.map(_._1) == Set("control", "treatment"))
  }

  test("x_weighted_median matches the driver-side crossing rule and differs from naive") {
    val li = Tables.lineitem(spark, dir)
      .selectExpr("cast(round(l_extendedprice * 100) as long) as p",
        "cast(l_quantity as long) as w", "l_orderkey", "l_linenumber")
      .as[(Long, Long, Long, Long)].collect()
    val sorted = li.sortBy(r => (r._1, r._3, r._4))
    val total = li.map(_._2).sum
    var cum = 0L
    val crossing = sorted.find { r => cum += r._2; cum * 2 >= total }.get._1
    val got = Experiment.weightedMedian(spark, dir).as[(Long, Long)].head()
    assert(got == ((crossing, total)))
    // weighting must matter on this fixture: the unweighted median differs
    val prices = sorted.map(_._1)
    val unweighted = prices(prices.length / 2)
    assert(crossing != unweighted)
  }

  // The selection rewrite (round 14) must reproduce the running-sum
  // crossing rule on every tie/boundary shape the histogram walk could
  // mishandle: the reference model below IS the old formulation.
  private def crossingModel(rows: Seq[(Long, Long)]): (Long, Long) = {
    val total = rows.map(_._2).sum
    var cum = 0L
    val c = rows.sortBy(_._1).find { r => cum += r._2; cum * 2 >= total }.get._1
    (c, total)
  }

  private def viaSelection(rows: Seq[(Long, Long)]): (Long, Long) =
    Experiment.weightedMedianOver(rows.toDF("c", "w")).as[(Long, Long)].head()

  test("weighted selection matches the crossing model on tie and boundary shapes") {
    val shapes: Seq[(String, Seq[(Long, Long)])] = Seq(
      "single row" -> Seq((7L, 3L)),
      "all prices equal" -> Seq.fill(50)((42L, 2L)),
      "one heavy price owns the crossing" ->
        (Seq.tabulate(100)(i => (i.toLong, 1L)) :+ (50L, 1000L)),
      "tie group spans the crossing" ->
        (Seq.fill(30)((10L, 1L)) ++ Seq.fill(30)((20L, 1L)) ++ Seq.fill(30)((30L, 1L))),
      "even total, crossing between equal halves" ->
        Seq((1L, 5L), (2L, 5L)),
      "odd total" -> Seq((1L, 5L), (2L, 6L)),
      "span smaller than the bucket count" ->
        Seq.tabulate(10)(i => ((i % 3).toLong, (i + 1).toLong)),
      "wide span, weight in the last bucket" ->
        (Seq((0L, 1L), (1000000L, 1L)) ++ Seq.fill(40)((999999L, 5L))),
      "span past 2^55 (bucket multiply overflows a long)" ->
        Seq((0L, 1L), (5L, 2L), (1L << 60, 1L)),
      "full long range" ->
        Seq((Long.MinValue, 1L), (0L, 1L), (Long.MaxValue, 2L)))
    shapes.foreach { case (label, rows) =>
      assert(viaSelection(rows) == crossingModel(rows), s"shape: $label")
    }
  }

  test("weighted selection is partitioning-invariant") {
    val rows = Seq.tabulate(997)(i => ((i * 37 % 251).toLong, (i % 7 + 1).toLong))
    val expected = crossingModel(rows)
    Seq(1, 3, 32).foreach { p =>
      val df = spark.createDataFrame(rows.map { case (c, w) => (c, w) })
        .toDF("c", "w").repartition(p)
      assert(Experiment.weightedMedianOver(df).as[(Long, Long)].head() == expected,
        s"partitions: $p")
    }
  }

  test("weightedMedianOver on an empty frame returns one (NULL, NULL) row " +
    "like the pre-selection aggregate form, not an NPE") {
    val out = Experiment.weightedMedianOver(
      Seq.empty[(Long, Long)].toDF("c", "w")).collect()
    assert(out.length == 1)
    assert(out.head.isNullAt(0) && out.head.isNullAt(1))
  }
}
