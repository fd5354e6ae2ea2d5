package graft.pipeline

import java.time.LocalDate

import scala.collection.mutable

import graft.SparkSpec

class PipelineRunSpec extends SparkSpec {

  private val usersPayload =
    """[{"id": 1, "name": "Ada", "email": "a@x.com"},
      | {"id": 2, "name": "Bob", "email": "b@x.com"},
      | {"id": 3, "name": "Eve", "email": "e@x.com"}]""".stripMargin

  private class StubFetcher(payload: String) extends Fetcher {
    var lastParams: Map[String, String] = Map.empty
    def fetch(endpoint: String, params: Map[String, String]): String = {
      lastParams = params; payload
    }
  }

  private class RecordingAlerts extends AlertSink {
    val alerts = mutable.Buffer.empty[(String, Seq[String])]
    def alert(name: String, failures: Seq[String]): Unit = alerts += (name -> failures)
  }

  private def spec(checks: Seq[graft.dq.Check], bucket: String) = PipelineSpec(
    PipelineInfo("p1", "o", "@daily", Nil, ""),
    ApiSource("c", "https://example.invalid/u", Map("report_date" -> "{{ ds }}")),
    RawZoneDest(bucket, "raw/users"),
    checks)

  private def tmp() = java.nio.file.Files.createTempDirectory("pipe").toString

  test("passing pipeline: ingest -> raw zone -> checks -> PASSED, no alert") {
    import graft.dq._
    val fetcher = new StubFetcher(usersPayload)
    val alerts = new RecordingAlerts
    val r = Pipeline.run(spark, spec(Seq(MinRowCount(3), UniqueColumn("id"),
      RequiredColumns(Seq("id", "name", "email"))), tmp()),
      LocalDate.parse("2024-05-01"), fetcher, alerts)
    assert(r.passed && r.rows == 3)
    assert(r.results.forall(_.passed))
    assert(alerts.alerts.isEmpty)
    assert(fetcher.lastParams == Map("report_date" -> "2024-05-01")) // ds templated
  }

  test("failing pipeline: verdict false, alert carries real failure details") {
    import graft.dq._
    val alerts = new RecordingAlerts
    val r = Pipeline.run(spark, spec(Seq(MinRowCount(99), UniqueColumn("id")), tmp()),
      LocalDate.parse("2024-05-01"), new StubFetcher(usersPayload), alerts)
    assert(!r.passed)
    assert(alerts.alerts.size == 1)
    val (name, failures) = alerts.alerts.head
    assert(name == "p1")
    assert(failures.exists(_.contains("min_row_count")))
    assert(!failures.exists(_.contains("unique_column"))) // only failures alert
  }

  test("unknown check types are skipped, not failed (reference semantics)") {
    import graft.dq._
    val r = Pipeline.run(spark, spec(Seq(UnknownCheck("anomaly"), MinRowCount(1)), tmp()),
      LocalDate.parse("2024-05-01"), new StubFetcher(usersPayload), new RecordingAlerts)
    assert(r.passed)
    assert(r.results.map(_.checkName) == Seq("min_row_count"))
  }

  test("rerun of the same ds overwrites that partition only") {
    import graft.dq._
    val bucket = tmp()
    val s = spec(Seq(MinRowCount(1)), bucket)
    Pipeline.run(spark, s, LocalDate.parse("2024-05-01"), new StubFetcher(usersPayload), new RecordingAlerts)
    Pipeline.run(spark, s, LocalDate.parse("2024-05-02"), new StubFetcher(usersPayload), new RecordingAlerts)
    val r = Pipeline.run(spark, s, LocalDate.parse("2024-05-01"), new StubFetcher(usersPayload), new RecordingAlerts)
    assert(r.rows == 3) // not 6: the rerun replaced, not appended
    assert(spark.read.parquet(r.rawPath).count() == 6) // both ds partitions live
  }

  test("backfill runs every date in the window; re-backfill is idempotent") {
    import graft.dq._
    val bucket = tmp()
    val s = spec(Seq(MinRowCount(1)), bucket)
    val fetcher = new StubFetcher(usersPayload)
    val results = Pipeline.backfill(spark, s,
      LocalDate.parse("2024-06-01"), LocalDate.parse("2024-06-03"),
      fetcher, new RecordingAlerts)
    assert(results.map(_._1.toString) == Seq("2024-06-01", "2024-06-02", "2024-06-03"))
    assert(results.forall(_._2.get.passed))
    val root = results.head._2.get.rawPath
    assert(spark.read.parquet(root).count() == 9) // 3 rows × 3 ds partitions
    // re-running the same window replaces each ds partition, no duplication
    Pipeline.backfill(spark, s,
      LocalDate.parse("2024-06-01"), LocalDate.parse("2024-06-03"),
      fetcher, new RecordingAlerts)
    assert(spark.read.parquet(root).count() == 9)
  }

  test("an empty ingest on a fresh raw root fails min_row_count, not the run") {
    import graft.dq._
    // header-only CSV: a non-empty schema and zero rows. The partitioned
    // write of zero rows creates no ds= directory to read back.
    val dir = tmp()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/in.csv"), "id,name\n")
    val alerts = new RecordingAlerts
    val s = PipelineSpec(PipelineInfo("empty", "o", "@daily", Nil, ""),
      FileSource("csv", s"$dir/in.csv", Map("header" -> "true")),
      RawZoneDest(s"$dir/raw", "users"),
      Seq(MinRowCount(1), RequiredColumns(Seq("id", "name")), UniqueColumn("id")))
    val r = Pipeline.run(spark, s, LocalDate.parse("2024-05-01"), new StubFetcher(""), alerts)
    assert(!r.passed && r.rows == 0)
    assert(r.results == Seq(
      CheckResult("min_row_count", passed = false, "observed=0 threshold=1"),
      CheckResult("required_columns", passed = true, "all present"),
      CheckResult("unique_column", passed = true, "dup_keys=0")))
    assert(alerts.alerts.map(_._2) == Seq(Seq("min_row_count: observed=0 threshold=1")))
  }

  test("an empty rerun of a ds replaces the earlier run's partition") {
    import graft.dq._
    val dir = tmp()
    val csv = java.nio.file.Paths.get(s"$dir/in.csv")
    val s = PipelineSpec(PipelineInfo("rerun", "o", "@daily", Nil, ""),
      FileSource("csv", csv.toString, Map("header" -> "true")),
      RawZoneDest(s"$dir/raw", "users"),
      Seq(MinRowCount(1)))
    val ds = LocalDate.parse("2024-05-01")
    java.nio.file.Files.writeString(csv, "id,name\n1,Ada\n2,Bob\n")
    val first = Pipeline.run(spark, s, ds, new StubFetcher(""), new RecordingAlerts)
    assert(first.passed && first.rows == 2)
    java.nio.file.Files.writeString(csv, "id,name\n")
    val rerun = Pipeline.run(spark, s, ds, new StubFetcher(""), new RecordingAlerts)
    assert(!rerun.passed && rerun.rows == 0)
    assert(rerun.results == Seq(
      CheckResult("min_row_count", passed = false, "observed=0 threshold=1")))
    assert(!DataQuality.pathExists(spark, s"${rerun.rawPath}/ds=2024-05-01"))
  }

  test("the run takes its row count from the check aggregate, not a count()") {
    import graft.dq._
    var r: PipelineResult = null
    val runs = graft.SqlExecutions.during(spark) {
      r = Pipeline.run(spark, spec(Seq(MinRowCount(3), UniqueColumn("id"),
        RequiredColumns(Seq("id"))), tmp()),
        LocalDate.parse("2024-05-01"), new StubFetcher(usersPayload), new RecordingAlerts)
    }
    assert(r.passed && r.rows == 3)
    assert(!runs.contains("count"), runs)
    assert(runs.last == "head", runs) // the one DQ aggregate ends the run
  }

  test("an ingested ds column is dropped on read-back") {
    import graft.dq._
    val payload = """[{"id": 1, "ds": "stale"}, {"id": 2, "ds": "stale"}]"""
    val r = Pipeline.run(spark, spec(Seq(RequiredColumns(Seq("ds")), MinRowCount(2)), tmp()),
      LocalDate.parse("2024-05-01"), new StubFetcher(payload), new RecordingAlerts)
    assert(r.rows == 2)
    assert(r.results.head == CheckResult("required_columns", passed = false, "missing=ds"))
  }
}
