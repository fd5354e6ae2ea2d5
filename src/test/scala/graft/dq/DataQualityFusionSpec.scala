package graft.dq

import graft.{SparkSpec, SqlExecutions}

/** Pins the fused compilation of a check suite by counting the SQL
  * executions it runs.
  */
class DataQualityFusionSpec extends SparkSpec {
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
    assert(runs == Seq("head"), runs)
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
    assert(runs.sorted == Seq("count", "head", "head"), runs)
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
    assert(runs == Seq("head"), runs)
    assert(counted._2 == 3L && counted._1.forall(_.passed))
    // with no scan-needing check the count is the one execution
    assert(DataQuality.runAllCounted(events.limit(0), Seq(RequiredColumns(Seq("id"))))._2 == 0L)
  }
}
