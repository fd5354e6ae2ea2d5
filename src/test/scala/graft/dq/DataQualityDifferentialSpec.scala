package graft.dq

import java.time.{Instant, LocalDate, ZoneOffset}

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec

/** Differential check of the fused check compiler: `runAll` over generated
  * frames and check suites must give the same (name, passed, detail) list
  * as a closed form computed in plain Scala from the same rows. Generators
  * are sampled with fixed seeds (the PropertySpec idiom) and aim at the
  * edges: empty and single-row frames, all-tied keys, repeated NULL keys,
  * an all-NULL column, NaN and ±Inf under value_range, absent and
  * ill-typed columns, two unique checks and two checks on one column.
  */
class DataQualityDifferentialSpec extends SparkSpec {

  private final case class Rec(k: Option[Long], s: Option[String], d: Option[Double], t: Option[Long])

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("s", StringType),
    StructField("d", DoubleType), StructField("t", TimestampType)))

  private val Day = 86400000L
  private val Jan25 = LocalDate.parse("2024-01-25").toEpochDay * Day

  private val recGen: Gen[Rec] = for {
    k <- Gen.option(Gen.chooseNum(0L, 6L))
    s <- Gen.option(Gen.oneOf("a", "b", "2024-01-30", "2024-02-09", "garbage"))
    d <- Gen.option(Gen.oneOf(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
      -1.0, 0.0, 5.5, 10.0, 100.0))
    t <- Gen.option(Gen.chooseNum(0L, 20L * Day))
  } yield Rec(k, s, d, t.map(Jan25 + _))

  /** Frames by shape: the edge shapes come up as often as random ones. */
  private val frameGen: Gen[Seq[Rec]] = Gen.oneOf(
    Gen.const(Seq.empty[Rec]),
    Gen.listOfN(1, recGen),
    Gen.chooseNum(2, 12).flatMap(Gen.listOfN(_, recGen)).map(_.map(_.copy(k = Some(4L)))),
    Gen.chooseNum(2, 12).flatMap(Gen.listOfN(_, recGen)).map(_.map(r => r.copy(k = None))),
    Gen.chooseNum(1, 12).flatMap(Gen.listOfN(_, recGen)).map(_.map(_.copy(d = None, t = None))),
    Gen.chooseNum(1, 25).flatMap(Gen.listOfN(_, recGen)))

  private val colGen = Gen.oneOf("k", "s", "d", "t", "zz")
  private val boundGen = Gen.oneOf(Double.NegativeInfinity, -1.0, 0.0, 5.5, 10.0, 100.0,
    Double.PositiveInfinity)

  private val checkGen: Gen[Check] = Gen.oneOf(
    Gen.chooseNum(0L, 6L).map(MinRowCount(_)),
    Gen.someOf("k", "s", "d", "t", "zz").map(cs => RequiredColumns(cs.toSeq)),
    colGen.map(UniqueColumn(_)),
    for (c <- colGen; den <- Gen.chooseNum(1L, 4L); num <- Gen.chooseNum(0L, den))
      yield NullRatio(c, num, den),
    for (c <- colGen; a <- boundGen; b <- boundGen)
      yield ValueRange(c, math.min(a, b), math.max(a, b)),
    for (c <- colGen; day <- Gen.chooseNum(0, 20); age <- Gen.chooseNum(0, 10))
      yield Freshness(c, java.sql.Date.valueOf(LocalDate.parse("2024-01-28").plusDays(day.toLong)), age),
    Gen.const(UnknownCheck("volume_anomaly")))

  private val suiteGen: Gen[Seq[Check]] =
    Gen.chooseNum(1, 7).flatMap(Gen.listOfN(_, checkGen))

  private def samples[A](gen: Gen[A], n: Int, seed: Long): Seq[A] =
    (0 until n).flatMap(i => gen.apply(Gen.Parameters.default, Seed(seed + i)))

  private def frame(rows: Seq[Rec]) = spark.createDataFrame(
    java.util.Arrays.asList(rows.map(r => Row(r.k.getOrElse(null), r.s.orNull, r.d.getOrElse(null),
      r.t.map(new java.sql.Timestamp(_)).orNull)): _*), schema)

  /** The closed form: each check evaluated on the collected rows. */
  private def model(rows: Seq[Rec], checks: Seq[Check]): Seq[CheckResult] = {
    val cols: Map[String, (String, Seq[Option[Any]])] = Map(
      "k" -> ("bigint", rows.map(_.k)), "s" -> ("string", rows.map(_.s)),
      "d" -> ("double", rows.map(_.d)), "t" -> ("timestamp", rows.map(_.t)))
    val n = rows.size.toLong
    def onColumn(name: String, c: String)(f: (String, Seq[Option[Any]]) => CheckResult) =
      Some(cols.get(c).fold(CheckResult(name, passed = false, s"column $c absent"))(f.tupled))
    checks.flatMap {
      case MinRowCount(th) => Some(CheckResult("min_row_count", n >= th, s"observed=$n threshold=$th"))
      case RequiredColumns(cs) =>
        val missing = cs.filterNot(cols.contains)
        Some(CheckResult("required_columns", missing.isEmpty,
          if (missing.isEmpty) "all present" else s"missing=${missing.mkString(",")}"))
      case UniqueColumn(c) => onColumn("unique_column", c) { (_, vs) =>
        // one group per distinct value and one NULL group; NaN is one value
        val dups = vs.groupBy(_.map(_.toString)).count(_._2.size > 1).toLong
        CheckResult("unique_column", dups == 0, s"dup_keys=$dups")
      }
      case NullRatio(c, num, den) => onColumn("null_ratio", c) { (_, vs) =>
        val nulls = vs.count(_.isEmpty).toLong
        CheckResult("null_ratio", nulls * den <= num * n, s"nulls=$nulls rows=$n max=$num/$den")
      }
      case ValueRange(c, lo, hi) => onColumn("value_range", c) {
        case ("bigint" | "double", vs) =>
          // Spark orders NaN above every value, +Inf included
          val bad = vs.flatten.map {
            case l: Long => l.toDouble
            case x: Double => x
          }.count(x => x.isNaN || x < lo || x > hi)
          CheckResult("value_range", bad == 0, s"violations=$bad range=[$lo,$hi]")
        case (tpe, _) => CheckResult("value_range", passed = false, s"column $c not numeric ($tpe)")
      }
      case Freshness(c, asOf, age) => onColumn("freshness", c) {
        case ("timestamp" | "string", vs) =>
          val days = vs.flatten.flatMap {
            case ms: Long => Some(Instant.ofEpochMilli(ms).atZone(ZoneOffset.UTC).toLocalDate)
            case str: String => scala.util.Try(LocalDate.parse(str)).toOption
          }
          val newest = days.maxOption.map(java.sql.Date.valueOf).orNull
          val cutoff = java.sql.Date.valueOf(asOf.toLocalDate.minusDays(age.toLong))
          CheckResult("freshness", newest != null && !newest.before(cutoff),
            s"newest=$newest cutoff=$cutoff as_of=$asOf max_age_days=$age")
        case (tpe, _) =>
          CheckResult("freshness", passed = false, s"column $c not a date or timestamp ($tpe)")
      }
      case UnknownCheck(_) => None
      case other => fail(s"no closed form for $other")
    }
  }

  test("fused runAll equals the closed form on generated frames and suites") {
    samples(frameGen, 40, 7L).zip(samples(suiteGen, 40, 1007L)).zipWithIndex.foreach {
      case ((rows, checks), i) =>
        assert(DataQuality.runAll(frame(rows), checks) == model(rows, checks),
          s"sample $i: rows=$rows checks=$checks")
    }
  }

  test("two unique checks and two checks on one column, on the edge frames") {
    val suite = Seq(UniqueColumn("s"), ValueRange("d", 0.0, 10.0), NullRatio("d", 1, 2),
      UniqueColumn("k"), MinRowCount(1), NullRatio("k", 0, 1), ValueRange("k", 1.0, 5.0),
      UniqueColumn("s"))
    samples(frameGen, 12, 5007L).foreach { rows =>
      assert(DataQuality.runAll(frame(rows), suite) == model(rows, suite), s"rows=$rows")
    }
  }

  test("evaluate is the one-check case of runAll") {
    samples(frameGen, 6, 9007L).zip(samples(suiteGen, 6, 9107L)).foreach { case (rows, checks) =>
      val df = frame(rows)
      assert(checks.flatMap(DataQuality.evaluate(df, _)) == DataQuality.runAll(df, checks))
    }
  }

  test("empty and degenerate inputs: results and row count equal the closed form") {
    val nullKeys = Seq.fill(3)(Rec(None, Some("b"), Some(1.0), Some(Jan25)))
    val unparseable = Seq(Rec(Some(1L), Some("garbage"), None, None), Rec(Some(2L), Some("a"), None, None))
    val parquet = java.nio.file.Files.createTempDirectory("dqempty").toString
    frame(Nil).write.mode("overwrite").parquet(parquet)
    val inputs: Seq[(String, Seq[Rec], () => org.apache.spark.sql.DataFrame)] = Seq(
      ("limit(0)", Nil, () => frame(nullKeys ++ unparseable).limit(0)),
      ("empty LocalRelation", Nil, () => frame(Nil)),
      ("zero-row parquet file", Nil, () => spark.read.parquet(parquet)),
      ("all-NULL key", nullKeys, () => frame(nullKeys)),
      ("unparseable freshness strings", unparseable, () => frame(unparseable)))
    val global = Seq(MinRowCount(1), NullRatio("k", 0, 1), NullRatio("s", 1, 2),
      ValueRange("d", 0.0, 10.0), ValueRange("k", 1.0, 5.0),
      Freshness("s", java.sql.Date.valueOf("2024-02-05"), 7),
      Freshness("t", java.sql.Date.valueOf("2024-02-05"), 7))
    for ((name, rows, df) <- inputs; suite <- Seq(global, UniqueColumn("k") +: global)) {
      assert(DataQuality.runAllCounted(df(), suite) == ((model(rows, suite), rows.size.toLong)),
        s"$name: $suite")
    }
  }
}
