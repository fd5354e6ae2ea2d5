package graft.io

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.util.Try

import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.types.StructType

import graft.{SparkSpec, SqlExecutions}

class TablesSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  private def tmp(): String = Files.createTempDirectory("tables").toString

  private def withNanosAsLong[T](value: Option[String])(body: => T): T = {
    val saved = spark.conf.getOption(NanosAsLong)
    value.fold(spark.conf.unset(NanosAsLong))(spark.conf.set(NanosAsLong, _))
    try body
    finally saved.fold(spark.conf.unset(NanosAsLong))(spark.conf.set(NanosAsLong, _))
  }

  /** The schema a read resolves to, or the error condition it fails with. */
  private def outcome(read: => DataFrame): Either[String, StructType] =
    Try(read.schema).toEither.left.map {
      case e: AnalysisException => e.getCondition
      case e => e.getClass.getName
    }

  test("loading every harness table starts no Spark job") {
    Tables.names.foreach { n =>
      assert(SqlExecutions.jobs(spark)(Tables(spark, dir, n)) == 0, n)
    }
    // the counter does see the inference job this replaces
    assert(SqlExecutions.jobs(spark)(spark.read.parquet(s"$dir/region.parquet")) == 1)
  }

  test("each table's schema equals spark.read.parquet's") {
    Tables.names.filterNot(_ == "events").foreach { n =>
      assert(Tables(spark, dir, n).schema == spark.read.parquet(s"$dir/$n.parquet").schema, n)
    }
    val events = s"$dir/events.parquet"
    Seq(None, Some("true")).foreach { v =>
      withNanosAsLong(v) {
        assert(outcome(Tables.parquet(spark, events)) == outcome(spark.read.parquet(events)), v)
      }
    }
  }

  test("a Spark-written directory with _SUCCESS and several part files reads the same rows") {
    val out = s"${tmp()}/t"
    spark.range(0, 500).selectExpr("id", "cast(id % 7 as string) AS k", "id / 2.0D AS v")
      .repartition(4).write.parquet(out)
    val names = new java.io.File(out).list().toSeq
    assert(names.contains("_SUCCESS") && names.count(_.endsWith(".parquet")) > 1)
    var t: DataFrame = null
    assert(SqlExecutions.jobs(spark) { t = Tables.parquet(spark, out) } == 0)
    val expected = spark.read.parquet(out)
    assert(t.schema == expected.schema)
    assert(t.as[(Long, String, Double)].collect().sorted.toSeq ==
      expected.as[(Long, String, Double)].collect().sorted.toSeq)
  }

  test("a missing path and an empty directory fail like spark.read.parquet") {
    val missing = s"${tmp()}/nope.parquet"
    val empty = tmp()
    Seq(missing, empty).foreach { p =>
      val mine = outcome(Tables.parquet(spark, p))
      assert(mine.isLeft, p)
      assert(mine == outcome(spark.read.parquet(p)), p)
    }
  }

  test("a rewritten file shows its added column on the next read") {
    val base = tmp()
    val file = Paths.get(s"$base/t.parquet")
    def land(df: DataFrame, name: String): Unit = {
      val out = s"$base/$name"
      df.coalesce(1).write.parquet(out)
      val part = new java.io.File(out).listFiles().find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, file, StandardCopyOption.REPLACE_EXISTING)
    }
    land(Seq((1L, "a")).toDF("id", "s"), "v1")
    assert(Tables.parquet(spark, file.toString).columns.toSeq == Seq("id", "s"))
    land(Seq((1L, "a", 2.0)).toDF("id", "s", "added"), "v2")
    val back = Tables.parquet(spark, file.toString)
    assert(back.columns.toSeq == Seq("id", "s", "added"))
    assert(back.as[(Long, String, Double)].collect().toSeq == Seq((1L, "a", 2.0)))
  }
}
