package graft.analytics

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.io.Tables
import graft.util.Det

/** Pins the round-15 q_ntile boundary-key rewrite to the ntile(10) rank
  * model: tile i over a group of n rows holds q+1 rows for i ≤ n mod 10
  * (else q = n div 10) starting after (i-1)·q + min(i-1, n mod 10), and
  * the tile's min/max cents are the cents order statistics at its first
  * and last rank — cents is monotone along the (price, orderkey) window
  * order, so no row identity is needed. The spec drives the seam with the
  * tie-heavy and sub-10-row group shapes the fixtures avoid, and
  * cross-checks the declared query against Spark's own ntile window on
  * the fixture.
  */
class NtileSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  /** Driver-side ntile(10) model over (pri, cents). */
  private def model(rows: Seq[(String, Long)]): Seq[(String, Long, Long, Long, Long)] =
    rows.groupBy(_._1).toSeq.flatMap { case (p, xs) =>
      val sorted = xs.map(_._2).sorted
      val n = sorted.length.toLong
      val q = n / 10; val r = n % 10
      (1L to 10L).flatMap { i =>
        val size = q + (if (i <= r) 1L else 0L)
        if (size == 0L) None
        else {
          val start = (i - 1) * q + math.min(i - 1, r)
          Some((p, i, size, sorted(start.toInt),
            sorted((start + size - 1).toInt))): Option[(String, Long, Long, Long, Long)]
        }
      }
    }.sortBy(t => (t._1, t._2))

  test("boundary-key deciles match the ntile rank model on tie-heavy and " +
    "sub-10-row group shapes") {
    val shapes: Seq[(String, Seq[(String, Long)])] = Seq(
      "fewer rows than tiles" ->
        Seq.tabulate(7)(i => ("A", (i * 3).toLong)),
      "groups straddling the q/q+1 split (n % 10 != 0)" ->
        (Seq.tabulate(23)(i => ("A", (i % 5).toLong)) ++
          Seq.tabulate(10)(i => ("B", i.toLong))),
      "one value for everyone (every boundary is a tie)" ->
        Seq.tabulate(100)(_ => ("A", 42L)),
      "tie blocks straddling tile edges" ->
        Seq.tabulate(200)(i => ("A", (i / 30).toLong)),
      "wide-span outliers (histogram buckets mostly empty)" ->
        (Seq.tabulate(80)(i => ("A", (i % 9).toLong)) :+ ("A", 2000000000L)),
      "single row" -> Seq(("A", 5L)),
      "span past 2^55 (bucket multiply overflows a long)" ->
        Seq(("A", 0L), ("A", 5L), ("A", 1L << 60)),
      "full long range" ->
        Seq(("A", Long.MinValue), ("A", 0L), ("A", Long.MaxValue)),
      "several groups, mixed sizes" ->
        (Seq.tabulate(95)(i => ("P1", (i * 7 % 13).toLong)) ++
          Seq.tabulate(4)(i => ("P2", (100 - i).toLong)) ++
          Seq.tabulate(30)(i => ("P3", (-i).toLong))))
    shapes.foreach { case (label, rows) =>
      val got = Relational.ntileDecilesOver(rows.toDF("pri", "c"))
        .as[(String, Long, Long, Long, Long)].collect().toSeq
      assert(got == model(rows), s"shape: $label")
    }
  }

  test("ntileDecilesOver on an empty frame returns the declared-schema " +
    "empty result") {
    val out = Relational.ntileDecilesOver(Seq.empty[(String, Long)].toDF("pri", "c"))
    assert(out.columns.toSeq ==
      Seq("o_orderpriority", "decile", "n_orders", "min_cents", "max_cents"))
    assert(out.collect().isEmpty)
  }

  test("q_ntile equals the ntile(10) window form on the fixture") {
    val w = Window.partitionBy($"o_orderpriority")
      .orderBy($"o_totalprice", $"o_orderkey")
    val windowed = Tables.orders(spark, dir)
      .select($"o_orderpriority", $"o_totalprice", $"o_orderkey")
      .withColumn("decile", ntile(10).over(w).cast("long"))
      .groupBy($"o_orderpriority", $"decile")
      .agg(count(lit(1)).as("n_orders"),
        min(Det.cents($"o_totalprice")).as("min_cents"),
        max(Det.cents($"o_totalprice")).as("max_cents"))
      .orderBy($"o_orderpriority", $"decile")
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    val got = Relational.ntileDeciles(spark, dir)
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(got == windowed)
  }
}
