package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.dq.{MinRowCount, RequiredColumns, UniqueColumn, UnknownCheck}

class PipelineSpecSpec extends AnyFunSuite {

  /** Mirror of /root/reference/configs/sources/marketing_api_campaigns.yaml
    * (FIXTURES.md B2): 4 sections, generic_api source, templated path, the
    * three check types.
    */
  private val yaml =
    """pipeline_info:
      |  name: marketing_api_campaigns
      |  owner: data-team
      |  schedule: "0 2 * * *"
      |  tags: [marketing, api]
      |  description: Fetch campaign users daily
      |source:
      |  type: generic_api
      |  connection_id: http_default
      |  endpoint: https://example.invalid/users
      |  params:
      |    report_date: "{{ ds }}"
      |    page_size: "100"
      |destination:
      |  type: s3
      |  connection_id: aws_default
      |  bucket: raw-zone
      |  path: "raw/marketing/users"
      |data_quality_checks:
      |  - check_type: min_row_count
      |    threshold: 10
      |  - check_type: required_columns
      |    columns: [id, name, email]
      |  - check_type: unique_column
      |    column: id
      |  - check_type: volume_anomaly
      |    zscore: 3
      |""".stripMargin

  test("fromYaml parses all four sections into typed spec") {
    val spec = PipelineSpec.fromYaml(yaml)
    assert(spec.info.name == "marketing_api_campaigns")
    assert(spec.info.schedule == "0 2 * * *")
    assert(spec.info.tags == Seq("marketing", "api"))
    assert(spec.source == ApiSource("http_default", "https://example.invalid/users",
      Map("report_date" -> "{{ ds }}", "page_size" -> "100")))
    assert(spec.destination == RawZoneDest("raw-zone", "raw/marketing/users"))
    assert(spec.checks == Seq(
      MinRowCount(10),
      RequiredColumns(Seq("id", "name", "email")),
      UniqueColumn("id"),
      UnknownCheck("volume_anomaly")))
  }

  test("renderDs substitutes the ds macro with and without inner spaces") {
    assert(PipelineSpec.renderDs("raw/{{ ds }}/f.json", "2024-05-01") == "raw/2024-05-01/f.json")
    assert(PipelineSpec.renderDs("d={{ds}}", "2024-05-01") == "d=2024-05-01")
    assert(PipelineSpec.renderDs("no macro", "2024-05-01") == "no macro")
  }

  test("empty-valued keys and empty documents parse without NPE") {
    val spec = PipelineSpec.fromYaml(
      """pipeline_info:
        |  name: p
        |  description:
        |source:
        |  type: csv
        |  path:
        |""".stripMargin)
    assert(spec.info.description == "")
    assert(spec.source == FileSource("csv", "", Map.empty))
    assert(PipelineSpec.fromYaml("") == PipelineSpec.fromYaml("# only a comment"))
  }

  test("min_row_count without a threshold is a config ERROR, not a 0 default") {
    val e = intercept[IllegalArgumentException] {
      PipelineSpec.fromYaml(
        """data_quality_checks:
          |  - check_type: min_row_count
          |""".stripMargin)
    }
    assert(e.getMessage.contains("threshold"))
  }

  test("null_ratio and value_range checks parse to their typed forms") {
    val spec = PipelineSpec.fromYaml(
      """data_quality_checks:
        |  - check_type: null_ratio
        |    column: email
        |    max_ratio: 0.01
        |  - check_type: value_range
        |    column: age
        |    min: 0
        |    max: 130
        |""".stripMargin)
    assert(spec.checks == Seq(
      graft.dq.NullRatio("email", 10000L, 1000000L),
      graft.dq.ValueRange("age", 0.0, 130.0)))
  }

  private def check(body: String) = PipelineSpec.fromYaml("data_quality_checks:\n" + body)

  test("null_ratio max_ratio outside [0, 1] is a config ERROR at parse time") {
    for (bad <- Seq("-0.1", "1.5", ".nan")) {
      val e = intercept[IllegalArgumentException] {
        check(s"  - check_type: null_ratio\n    column: email\n    max_ratio: $bad\n")
      }
      assert(e.getMessage.contains("max_ratio"), bad)
    }
    // both closed ends are valid ratios
    assert(check("  - check_type: null_ratio\n    column: e\n    max_ratio: 0\n").checks ==
      Seq(graft.dq.NullRatio("e", 0L, 1000000L)))
    assert(check("  - check_type: null_ratio\n    column: e\n    max_ratio: 1\n").checks ==
      Seq(graft.dq.NullRatio("e", 1000000L, 1000000L)))
  }

  test("value_range with min > max or a NaN bound is a config ERROR at parse time") {
    for ((lo, hi) <- Seq("10" -> "1", ".nan" -> "5", "0" -> ".nan")) {
      val e = intercept[IllegalArgumentException] {
        check(s"  - check_type: value_range\n    column: age\n    min: $lo\n    max: $hi\n")
      }
      assert(e.getMessage.contains("value_range"), s"[$lo, $hi]")
    }
    // a one-point range and infinite bounds are legitimate
    assert(check("  - check_type: value_range\n    column: a\n    min: 3\n    max: 3\n").checks ==
      Seq(graft.dq.ValueRange("a", 3.0, 3.0)))
    assert(check("  - check_type: value_range\n    column: a\n    min: -.inf\n    max: .inf\n")
      .checks == Seq(graft.dq.ValueRange("a", Double.NegativeInfinity, Double.PositiveInfinity)))
  }

  test("freshness check parses with explicit as_of (no wall clock)") {
    val spec = PipelineSpec.fromYaml(
      """data_quality_checks:
        |  - check_type: freshness
        |    column: updated_at
        |    as_of: 2024-02-05
        |    max_age_days: 7
        |""".stripMargin)
    assert(spec.checks == Seq(
      graft.dq.Freshness("updated_at", java.sql.Date.valueOf("2024-02-05"), 7)))
  }

  test("file source parses as FileSource with options") {
    val spec = PipelineSpec.fromYaml(
      """source:
        |  type: csv
        |  path: /data/{{ ds }}/in.csv
        |  options:
        |    header: "true"
        |""".stripMargin)
    assert(spec.source == FileSource("csv", "/data/{{ ds }}/in.csv", Map("header" -> "true")))
    assert(spec.checks.isEmpty)
  }
}
