package graft.llm

import org.apache.spark.sql.DataFrame
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.{SparkEntry, SparkSpec, SqlExecutions}

/** Differential check of the IVF coarse quantizer: [[Ivf.seeds]],
  * [[Ivf.train]], [[Ivf.assign]] and [[Ivf.route]] over generated frames
  * must equal a driver-side closed form of the same four stages. Generators
  * are sampled with fixed seeds (the PropertySpec idiom) and aim at the
  * edges: empty frames, fewer vectors than cells, sparse ids that leave
  * fewer seeds than cells, all-identical vectors (every similarity tied, so
  * the lowest cell must win), a zero-norm vector — as data, probe or seed,
  * where `cosine_sim` is NULL and must lose to every non-NULL cell — and
  * nProbe at or past the cell count; tiny integer coordinates make ties
  * common everywhere else.
  */
class IvfKernelSpec extends SparkSpec {
  import IvfKernelSpec._
  import spark.implicits._

  private def vecGen(dim: Int, identical: Boolean): Gen[Seq[Double]] =
    if (identical) Gen.const(Seq.fill(dim)(1.0))
    else Gen.listOfN(dim, Gen.chooseNum(-2, 2).map(_.toDouble))

  private val caseGen: Gen[Case] = for {
    dim <- Gen.chooseNum(1, 4)
    n <- Gen.frequency(1 -> Gen.const(0), 1 -> Gen.chooseNum(1, 4), 4 -> Gen.chooseNum(5, 40))
    identical <- Gen.frequency(1 -> true, 4 -> false)
    vs <- Gen.listOfN(n, vecGen(dim, identical))
    // dense ids from 0 or -10, or sparse ones, which can leave fewer stride
    // multiples than cells
    ids <- Gen.frequency(
      3 -> Gen.oneOf(0L, -10L).map(o => (0 until n).map(o + _)),
      1 -> Gen.listOfN(3 * n, Gen.chooseNum(-60L, 400L)).map(_.distinct.take(n)))
    // one zero-norm vector, at id 0 when ids are dense (always a seed)
    zeroAt <- Gen.frequency(2 -> Gen.const(-1), 1 -> Gen.chooseNum(0, math.max(0, n - 1)))
    nlist <- Gen.chooseNum(1, 8)
    lloyd <- Gen.oneOf(0, 1, 2)
    nq <- Gen.chooseNum(0, 4)
    qs <- Gen.listOfN(nq, vecGen(dim, identical))
    zeroProbe <- Gen.oneOf(false, true)
    nProbe <- Gen.oneOf(Gen.chooseNum(1, 3), Gen.const(nlist), Gen.const(nlist + 2))
  } yield {
    val rows = ids.indices.map { i =>
      (ids(i), if (i == zeroAt) Seq.fill(dim)(0.0) else vs(i))
    }
    val probes = (qs ++ (if (zeroProbe) Seq(Seq.fill(dim)(0.0)) else Nil))
      .zipWithIndex.map { case (v, i) => (100L + i, v) }
    Case(rows, nlist, lloyd, probes, nProbe)
  }

  private def samples[A](gen: Gen[A], n: Int, seed: Long): Seq[A] =
    (0 until n).flatMap(i => gen.apply(Gen.Parameters.default, Seed(seed + i)))

  // ---- the closed form ----

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0

  /** cosine_sim's accumulation order, NULL (None) on a zero denominator,
    * then the kernel's 6 dp rounding.
    */
  private def sim(a: Seq[Double], b: Seq[Double]): Option[Double] = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    a.indices.foreach { i => dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
    val den = na * nb
    if (den == 0.0) None else Some(round6(dot / math.sqrt(den)))
  }

  /** Cells best first: highest similarity (NULL last), then lowest cid. */
  private def ranked(v: Seq[Double], cells: Seq[(Int, Seq[Double])]): Seq[Int] =
    cells.sortBy { case (cid, c) => (sim(v, c).map(-_).getOrElse(Double.MaxValue), cid) }
      .map(_._1)

  private def seedsOf(c: Case): Seq[Seq[Double]] = {
    val stride = math.max(1L, c.rows.size.toLong / c.nlist)
    c.rows.filter(r => Math.floorMod(r._1, stride) == 0L).sortBy(_._1)
      .take(c.nlist).map(_._2)
  }

  private def assignOf(rows: Seq[Vec], cells: Seq[(Int, Seq[Double])]): Map[Long, Int] =
    if (cells.isEmpty) Map.empty
    else rows.map { case (id, v) => id -> ranked(v, cells).head }.toMap

  /** Fixed-point Lloyd: per (cell, dim) Σ round(x·10⁶) / (10⁶·members). */
  private def trainOf(c: Case): Seq[(Int, Seq[Double])] =
    (1 to c.lloyd).foldLeft(seedsOf(c).zipWithIndex.map(_.swap)) { (cells, _) =>
      val members = assignOf(c.rows, cells).toSeq.groupBy(_._2)
      val byId = c.rows.toMap
      cells.map { case (cid, cv) =>
        members.get(cid).fold(cid -> cv) { ms =>
          val vs = ms.map(m => byId(m._1))
          cid -> cv.indices.map { d =>
            vs.map(v => BigDecimal(v(d) * 1000000L).setScale(0,
              BigDecimal.RoundingMode.HALF_UP).toLong).sum.toDouble /
              (vs.size * 1000000L).toDouble
          }
        }
      }
    }

  // ---- the kernel ----

  private def frame(rows: Seq[Vec]): DataFrame = rows.toDF("vec_id", "v")

  test("Ivf's seeds, Lloyd centroids, cell assignment and nprobe routing " +
    "match a driver-side closed form on generated frames") {
    val cases = samples(caseGen, 40, 6100L)
    def isZero(v: Seq[Double]) = v.forall(_ == 0.0)
    val edges = Map[String, Case => Boolean](
      "empty" -> (_.rows.isEmpty),
      "n < nlist" -> (c => c.rows.nonEmpty && c.rows.size < c.nlist),
      "sparse ids" -> (c => c.rows.size >= c.nlist && seedsOf(c).size < c.nlist),
      "all identical" -> (c => c.rows.size > 2 && c.rows.map(_._2).distinct.size == 1),
      "zero-norm seed" -> (c => seedsOf(c).exists(isZero)),
      "zero-norm probe" -> (_.probes.exists(p => isZero(p._2))),
      "nProbe >= nlist" -> (c => c.probes.nonEmpty && c.nProbe >= c.nlist))
    edges.foreach { case (edge, hit) => assert(cases.exists(hit), s"no $edge case") }
    cases.foreach { c =>
      val e = frame(c.rows)
      assert(Ivf.seeds(spark, e, c.nlist) == seedsOf(c), c)
      val cents = Ivf.train(spark, e, c.nlist, c.lloyd)
      val cells = trainOf(c)
      assert(cents.as[(Int, Seq[Double])].collect().sortBy(_._1).toSeq == cells, c)
      assert(Ivf.assign(spark, e, cents).as[(Long, Int)].collect().toMap ==
        assignOf(c.rows, cells), c)
      val routed = Ivf.route(spark,
        frame(c.probes).select($"vec_id".as("query_id"), $"v".as("qv")), cents, c.nProbe)
        .select($"query_id", $"prn", $"cid").as[(Long, Int, Int)].collect().toSet
      val expected = c.probes.flatMap { case (q, v) =>
        ranked(v, cells).take(c.nProbe).zipWithIndex.map { case (cid, i) => (q, i + 1, cid) }
      }.toSet
      assert(routed == expected, c)
    }
  }

  test("SQL executions per ANN query stay at or below their pre-kernel counts") {
    // (query, build, action) before the quantizer was shared, except
    // x_ivfpq_topk's build, which since counts its corpus once (5 → 3);
    // building a frame runs the seed and Lloyd collects and the checkpoint
    // pins, the action runs the rest
    val before = Seq(
      ("x_ivf_topk", 3, 1), ("x_ivfpq_topk", 3, 1), ("x_pq_assign", 2, 1),
      ("x_semantic_dedup", 2, 1), ("x_ann_recall", 0, 1),
      ("x_ann_recall_multi", 5, 1), ("x_ann_multiprobe_topk", 4, 1),
      ("x_ann_filtered_topk", 4, 1), ("x_ann_nprobe_curve", 6, 1))
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

object IvfKernelSpec {
  private type Vec = (Long, Seq[Double])
  private final case class Case(rows: Seq[Vec], nlist: Int, lloyd: Int,
      probes: Seq[Vec], nProbe: Int)
}
