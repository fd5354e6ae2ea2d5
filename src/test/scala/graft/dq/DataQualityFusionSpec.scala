package graft.dq

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

import graft.{SparkSpec, SqlExecutions}

/** Pins the fused compilation of a check suite by counting the SQL
  * executions and Spark jobs it runs: one observed `noop` write per suite,
  * whose action name a listener reports as `overwrite`.
  */
class DataQualityFusionSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private def events = Seq(
    (1L, Some("ada"), 10.0, "2024-02-01 08:00:00"),
    (2L, None, 55.0, "2024-02-03 09:30:00"),
    (3L, Some("eve"), 99.5, "2024-01-20 00:00:00")
  ).toDF("id", "name", "score", "s").select($"id", $"name", $"score", $"s".cast("timestamp").as("ts"))

  test("every scan-needing check of a suite shares ONE SQL execution") {
    val checks = Seq(
      MinRowCount(3), RequiredColumns(Seq("id", "ts")), UniqueColumn("id"),
      NullRatio("name", 1, 2), ValueRange("score", 0.0, 60.0),
      Freshness("ts", java.sql.Date.valueOf("2024-02-05"), 7))
    var results = Seq.empty[CheckResult]
    val runs = SqlExecutions.during(spark) { results = DataQuality.runAll(events, checks) }
    assert(runs == Seq("overwrite"), runs)
    assert(results == Seq(
      CheckResult("min_row_count", passed = true, "observed=3 threshold=3"),
      CheckResult("required_columns", passed = true, "all present"),
      CheckResult("unique_column", passed = true, "dup_keys=0"),
      CheckResult("null_ratio", passed = true, "nulls=1 rows=3 max=1/2"),
      CheckResult("value_range", passed = false, "violations=1 range=[0.0,60.0]"),
      CheckResult("freshness", passed = true,
        "newest=2024-02-03 cutoff=2024-01-29 as_of=2024-02-05 max_age_days=7")))
  }

  test("a suite that needs no scan runs no SQL execution") {
    val dir = java.nio.file.Files.createTempDirectory("dqfuse").toString
    val runs = SqlExecutions.during(spark) {
      val r = DataQuality.runAll(events,
        Seq(RequiredColumns(Seq("id", "zip")), SourceExists(dir), UnknownCheck("x")))
      assert(r.map(_.passed) == Seq(false, true))
    }
    assert(runs.isEmpty, runs)
  }

  test("checks on absent or ill-typed columns fail without a scan or a throw") {
    val runs = SqlExecutions.during(spark) {
      val r = DataQuality.runAll(events, Seq(UniqueColumn("zip"), NullRatio("zip", 0, 1),
        ValueRange("name", 0.0, 1.0), Freshness("score", java.sql.Date.valueOf("2024-02-05"), 1)))
      assert(r.map(_.detail) == Seq("column zip absent", "column zip absent",
        "column name not numeric (string)", "column score not a date or timestamp (double)"))
    }
    assert(runs.isEmpty, runs)
  }

  test("a second unique_column and fk_integrity keep their own queries") {
    val parent = Seq(1L, 2L).toDF("pid")
    val runs = SqlExecutions.during(spark) {
      val r = DataQuality.runAll(events, Seq(MinRowCount(1), UniqueColumn("id"),
        UniqueColumn("name"), FkIntegrity("id", parent, "pid"), UniqueColumn("id")))
      assert(r.map(_.detail) ==
        Seq("observed=3 threshold=1", "dup_keys=0", "dup_keys=0", "orphans=1", "dup_keys=0"))
    }
    // the fused aggregate (min_row_count and both id checks), the name
    // uniqueness query and the anti-join
    assert(runs.sorted == Seq("count", "overwrite", "overwrite"), runs)
  }

  test("user column names never collide with the aggregate's own names") {
    val df = Seq((1L, Some(2L), 3.0), (1L, None, 9.0)).toDF("__dq_cnt", "rows", "a.b`c")
    val r = DataQuality.runAll(df, Seq(UniqueColumn("__dq_cnt"), NullRatio("rows", 0, 1),
      ValueRange("a.b`c", 0.0, 5.0), UniqueColumn("a.b`c"), MinRowCount(2)))
    assert(r.map(_.detail) == Seq("dup_keys=1", "nulls=1 rows=2 max=0/1",
      "violations=1 range=[0.0,5.0]", "dup_keys=0", "observed=2 threshold=2"))
  }

  test("runAllCounted takes the row count from the same aggregate") {
    var counted: (Seq[CheckResult], Long) = (Nil, -1L)
    val runs = SqlExecutions.during(spark) {
      counted = DataQuality.runAllCounted(events, Seq(UniqueColumn("id"), RequiredColumns(Seq("id"))))
    }
    assert(runs == Seq("overwrite"), runs)
    assert(counted._2 == 3L && counted._1.forall(_.passed))
    // with no scan-needing check the count is the one execution
    assert(DataQuality.runAllCounted(events.limit(0), Seq(RequiredColumns(Seq("id"))))._2 == 0L)
  }

  test("a global-only suite is one Spark job, a suite with a unique check two") {
    val global = Seq(MinRowCount(3), NullRatio("name", 1, 2), ValueRange("score", 0.0, 60.0),
      Freshness("ts", java.sql.Date.valueOf("2024-02-05"), 7))
    val df = events
    assert(SqlExecutions.jobs(spark)(DataQuality.runAll(df, global)) == 1)
    // the per-key aggregate's map stage and the observed pass over its output
    assert(SqlExecutions.jobs(spark)(DataQuality.runAll(df, UniqueColumn("id") +: global)) <= 2)
  }

  test("the global path reads only the columns its checks reference") {
    val dir = java.nio.file.Files.createTempDirectory("dqprune").toString
    Seq((1L, "2024-02-01", "x" * 40), (2L, "nope", "y" * 40)).toDF("id", "s", "pad")
      .write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
    val runs = SqlExecutions.captured(spark) {
      val r = DataQuality.runAll(df, Seq(NullRatio("s", 0, 1),
        Freshness("s", java.sql.Date.valueOf("2024-02-05"), 7)))
      assert(r.map(_.passed) == Seq(true, true))
    }
    assert(runs.map(_._1) == Seq("overwrite"), runs.map(_._1))
    val scans = collectWithSubqueries(runs.head._2.executedPlan) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s.requiredSchema.simpleString
    }
    assert(scans == Seq("struct<s:string>"), scans)
  }
}
