package graft.util

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.{SparkEntry, SparkSpec, SqlExecutions}

/** Differential check of the selection kernel: [[Select]] over generated
  * frames must pick, per (group, rank), the same value, key, bucket and
  * bucket row count as a driver-side sort of the same rows. Generators are
  * sampled with fixed seeds (the PropertySpec idiom) and aim at the
  * edges: empty and one-row frames, all-tied values, a 2-value domain,
  * negatives, a 2^60 span and the full long range; grouped (a NULL group
  * included) or not, weighted or not, keyed or not; several ranks per
  * group, out-of-range ones included.
  */
class SelectSpec extends SparkSpec {

  private final case class Rec(g: String, v: Long, w: Long, k: Long)
  private final case class Case(rows: Seq[Rec], grouped: Boolean, weighted: Boolean,
      keyed: Boolean, fracs: Seq[Double]) {
    /** Several ranks per group, plus 0 and total + 1, which are dropped. */
    def ranks(total: Long): Seq[Long] =
      fracs.map(f => math.ceil(f * total).toLong) ++ Seq(0L, 1L, total, total + 1)
  }

  private val domains: Seq[Gen[Long]] = Seq(
    Gen.const(42L),
    Gen.oneOf(-3L, 9L),
    Gen.chooseNum(-1000L, -1L),
    Gen.chooseNum(0L, 20L),
    Gen.oneOf(Gen.oneOf(0L, 5L, 1L << 60), Gen.chooseNum(0L, 1L << 60)),
    Gen.oneOf(Gen.oneOf(Long.MinValue, 0L, Long.MaxValue),
      Gen.chooseNum(Long.MinValue, Long.MaxValue)))

  private val caseGen: Gen[Case] = for {
    values <- Gen.oneOf(domains)
    n <- Gen.frequency(1 -> Gen.const(0), 1 -> Gen.const(1), 4 -> Gen.chooseNum(2, 40))
    vs <- Gen.listOfN(n, values)
    gs <- Gen.listOfN(n, Gen.oneOf[String]("a", "b", null))
    ws <- Gen.listOfN(n, Gen.chooseNum(0L, 4L))
    // unique keys in an order unrelated to the values or the row order
    ks <- Gen.listOfN(n, Gen.chooseNum(-1000000L, 1000000L))
    grouped <- Gen.oneOf(false, true)
    weighted <- Gen.oneOf(false, true)
    keyed <- Gen.oneOf(false, true)
    fracs <- Gen.listOfN(3, Gen.chooseNum(0.0, 1.0))
  } yield Case(vs.indices.map(i => Rec(gs(i), vs(i), ws(i), ks(i) * 64 + i)),
    grouped, weighted, keyed, fracs)

  private def samples[A](gen: Gen[A], n: Int, seed: Long): Seq[A] =
    (0 until n).flatMap(i => gen.apply(Gen.Parameters.default, Seed(seed + i)))

  private val schema = StructType(Seq(StructField("g", StringType),
    StructField("v", LongType), StructField("w", LongType), StructField("k", LongType)))

  private type Pick = (Option[String], Long, Long, Long, Long, Long)

  /** (group, rank, value, key, bucket, bucket_rows) from a driver-side sort.
    * The bucket is the kernel's documented formula in BigInt arithmetic.
    */
  private def model(c: Case): Seq[Pick] =
    c.rows.groupBy(groupOf(c)).toSeq.flatMap { case (g, rs) =>
      val w = (r: Rec) => if (c.weighted) r.w else 1L
      val sorted = rs.sortBy(r => (r.v, r.k))
      val (mn, mx) = (BigInt(rs.map(_.v).min), BigInt(rs.map(_.v).max))
      val s = Iterator.from(0).find(s => ((mx >> s) - (mn >> s)) * 256 <= Long.MaxValue).get
      def bucket(v: Long) =
        (((BigInt(v) >> s) - (mn >> s)) * 256 / ((mx >> s) - (mn >> s) + 1)).toLong
      val cum = sorted.scanLeft(0L)(_ + w(_)).tail
      val total = cum.last
      c.ranks(total).distinct.filter(k => k >= 1 && k <= total).map { k =>
        val r = sorted(cum.indexWhere(_ >= k))
        (g, k, r.v, if (c.keyed) r.k else 0L, bucket(r.v),
          rs.count(x => bucket(x.v) == bucket(r.v)).toLong)
      }
    }.sortBy(t => (t._1, t._2))

  private def groupOf(c: Case)(r: Rec): Option[String] =
    if (c.grouped) Option(r.g) else None

  private def run(c: Case): (Seq[Pick], Seq[(Option[String], Long, Long)]) = {
    val df = spark.createDataFrame(java.util.Arrays.asList(
      c.rows.map(r => Row(r.g, r.v, r.w, r.k)): _*), schema)
    val sel = Select(df, "v", group = if (c.grouped) Some("g") else None,
      weight = if (c.weighted) Some("w") else None,
      keys = if (c.keyed) Seq("k") else Nil)(c.ranks)
    assert(sel.picks.columns.toSeq == (if (c.grouped) Seq("g") else Nil) ++
      Seq("rank", "v") ++ (if (c.keyed) Seq("k") else Nil) ++ Seq("bucket", "bucket_rows"))
    val picks = sel.picks.collect().toSeq.map { r =>
      (if (c.grouped) Option(r.getAs[String]("g")) else None, r.getAs[Long]("rank"),
        r.getAs[Long]("v"), if (c.keyed) r.getAs[Long]("k") else 0L,
        r.getAs[Long]("bucket"), r.getAs[Long]("bucket_rows"))
    }.sortBy(t => (t._1, t._2))
    (picks, sel.groups.map(gr => (Option(gr.key).map(_.toString), gr.n, gr.total))
      .sortBy(_._1))
  }

  test("Select matches a driver-side sort on generated frames") {
    samples(caseGen, 60, 4100L).foreach { c =>
      val (picks, groups) = run(c)
      val expectedGroups = c.rows.groupBy(groupOf(c)).toSeq.map { case (g, rs) =>
        (g, rs.size.toLong, rs.map(r => if (c.weighted) r.w else 1L).sum)
      }.sortBy(_._1)
      assert(groups == expectedGroups, c)
      assert(picks == model(c), c)
    }
  }

  test("SQL executions per selection query stay at or below their " +
    "pre-kernel counts") {
    // (query, build, action) of the hand-rolled selections this kernel
    // replaced; building a frame runs the collected passes, the action
    // runs the rest
    val before = Seq(
      ("x_select_quantile", 2, 1), ("x_weighted_median", 2, 1), ("q_ntile", 3, 1),
      ("x_rfm", 4, 1), ("x_calibration_bins", 5, 1), ("x_group_median", 0, 1))
    val dir = "/root/testdata/sf0.001"
    before.foreach { case (q, build, action) =>
      var df: DataFrame = null
      val built = SqlExecutions.during(spark) { df = SparkEntry.queries(q)(spark, dir) }
      val acted = SqlExecutions.during(spark) { df.collect(); () }
      assert(built.size <= build && acted.size <= action,
        s"$q: build $built (was $build), action $acted (was $action)")
    }
  }
}
