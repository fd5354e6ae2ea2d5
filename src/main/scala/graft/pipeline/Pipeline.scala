package graft.pipeline

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.dq.{CheckResult, DataQuality}
import graft.io.Ingest

/** Pluggable payload fetcher — the impure HTTP seam. Tests inject fixture
  * payloads; production uses [[HttpFetcher]]. Mirrors the reference's
  * `http_hook.run(endpoint, data=params)` (api_to_s3.py:55-58).
  */
trait Fetcher {
  def fetch(endpoint: String, params: Map[String, String]): String
}

/** java.net.http GET with query params (the reference's requests-equivalent).
  * Bounded and status-checked: a 4xx/5xx error body must NOT flow onward as
  * if it were data — run() writes the payload over the previous good raw
  * partition before checks see it, so the fetch throws instead. Timeouts
  * keep a hung endpoint from blocking a whole backfill window. One client
  * (and its selector thread) serves every fetch.
  */
object HttpFetcher extends Fetcher {
  private lazy val client = java.net.http.HttpClient.newBuilder()
    .connectTimeout(java.time.Duration.ofSeconds(10))
    // follow routine redirects (http→https upgrades); the >=300 guard
    // below then only fires on real errors, not on 301/302 hops
    .followRedirects(java.net.http.HttpClient.Redirect.NORMAL).build()

  def fetch(endpoint: String, params: Map[String, String]): String = {
    val qs =
      if (params.isEmpty) ""
      else params.map { case (k, v) =>
        java.net.URLEncoder.encode(k, "UTF-8") + "=" + java.net.URLEncoder.encode(v, "UTF-8")
      }.mkString("?", "&", "")
    val req = java.net.http.HttpRequest.newBuilder()
      .uri(java.net.URI.create(endpoint + qs))
      .timeout(java.time.Duration.ofSeconds(60)).GET().build()
    val resp = client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
    if (resp.statusCode() >= 300)
      throw new java.io.IOException(
        s"GET $endpoint returned HTTP ${resp.statusCode()} — refusing error body as payload")
    resp.body()
  }
}

/** Failure-alert sink (the reference's Slack webhook branch,
  * dag_factory.py:80-87) — a side-effect trait so the engine stays testable.
  * Note the reference templates a `dq_summary['errors']` key that is never
  * written (dag_factory.py:85) — here alerts carry the REAL failure details
  * (SURVEY.md §7.4 decision 6: do not reproduce the bug).
  */
trait AlertSink {
  def alert(pipelineName: String, failures: Seq[String]): Unit
}

object LogAlertSink extends AlertSink {
  def alert(pipelineName: String, failures: Seq[String]): Unit =
    System.err.println(
      s"[alert] Data quality check failed for pipeline: $pipelineName! " +
        s"Errors: ${failures.mkString("; ")}")
}

/** Webhook alert sink — the reference's real failure branch: an HTTP POST of
  * a templated message to an injected endpoint (dag_factory.py:80-87 posts
  * `{"text": ...}` to a Slack webhook). Unlike the reference's template —
  * which interpolates a `dq_summary['errors']` key that is never written —
  * the message carries the actual failure details.
  */
final class WebhookAlertSink(endpoint: String) extends AlertSink {
  /** One client (and its selector thread) per sink, built on first alert. */
  private lazy val client = java.net.http.HttpClient.newBuilder()
    .connectTimeout(java.time.Duration.ofSeconds(5)).build()

  private def jsonEscape(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** Best-effort delivery: alerting must never turn an already-recorded DQ
    * failure into a crashed or hung pipeline, so the call is bounded by
    * connect/request timeouts, exceptions are logged instead of propagated,
    * and a non-2xx response (e.g. a rate-limited webhook) is logged as an
    * undelivered alert rather than silently treated as success.
    */
  def alert(pipelineName: String, failures: Seq[String]): Unit = {
    val msg = s"Data quality check failed for pipeline: $pipelineName! " +
      s"Errors: ${failures.mkString("; ")}"
    val body = s"""{"text":"${jsonEscape(msg)}"}"""
    try {
      val req = java.net.http.HttpRequest.newBuilder()
        .uri(java.net.URI.create(endpoint))
        .timeout(java.time.Duration.ofSeconds(10))
        .header("Content-Type", "application/json")
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body)).build()
      val resp = client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
      if (resp.statusCode() >= 300)
        System.err.println(
          s"[alert] webhook returned HTTP ${resp.statusCode()} for $pipelineName — alert NOT delivered")
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(
          s"[alert] webhook delivery failed for $pipelineName: ${e.getClass.getSimpleName}: ${e.getMessage}")
    }
  }
}

final case class PipelineResult(
    passed: Boolean,
    results: Seq[CheckResult],
    rawPath: String,
    rows: Long)

/** Compile + run a [[PipelineSpec]] — the engine-side equivalent of the
  * reference's generated DAG (dag_factory.py:22-95):
  *
  *   ingest (API fetch or file read) → raw-zone ds-partition write →
  *   read-back → declarative checks → verdict branch → alert | success.
  *
  * Everything is one in-process dataflow: no XCom, no task boundaries; the
  * branch is a real `if` on a verdict VALUE (both paths reachable, unlike the
  * reference where the failure branch is dead — SURVEY.md §3.1).
  */
object Pipeline {

  def run(
      spark: SparkSession,
      spec: PipelineSpec,
      runDate: LocalDate,
      fetcher: Fetcher = HttpFetcher,
      alertSink: AlertSink = LogAlertSink): PipelineResult = {
    val ds = runDate.toString

    // 1. Ingest — O1: HTTP GET (templated params) or self-service file read.
    val ingested: DataFrame = spec.source match {
      case ApiSource(_, endpoint, params) =>
        val rendered = params.map { case (k, v) => k -> PipelineSpec.renderDs(v, ds) }
        Ingest.fromJsonPayload(spark, fetcher.fetch(endpoint, rendered))
      case FileSource(format, path, options) =>
        spark.read.options(options).format(format)
          .load(PipelineSpec.renderDs(path, ds))
    }

    // 2. Raw-zone write, date-partitioned, overwrite-on-conflict (O1's
    //    load_string(replace=True) + keyed path, api_to_s3.py:68-73).
    //    The destination path is `{{ ds }}`-templated like the source
    //    (api_to_s3.py:29 template_fields covers the S3 key) — an
    //    unrendered token would write every date under one literal
    //    '{{ ds }}' directory and break the glob on read-back.
    val RawZoneDest(bucket, pathTemplate) = spec.destination
    val root = s"$bucket/${PipelineSpec.renderDs(pathTemplate, ds).stripSuffix("/")}"
    // A zero-COLUMN ingest (e.g. the API returned '[]') cannot be written
    // as parquet and must not crash the run: skip the write and hand the
    // empty frame straight to the checks, so min_row_count FAILS as a
    // verdict instead of the whole run dying on an unreadable raw zone.
    // `written` only decides rawPath: on the skip path it is empty, so a
    // consumer cannot mistake a nonexistent directory for this run's output.
    val (readBack, written) =
      if (ingested.schema.isEmpty) (ingested, false)
      else {
        Ingest.writeRawZone(ingested, root, ds)
        // 3. Read back the written partition (the DQ operator re-reads from
        //    the raw zone, data_quality_operator.py:63-69) with the ingested
        //    schema: no schema-inference job, no listing of earlier dates.
        (Ingest.readRawZone(spark, root, ds, ingested.schema), true)
      }

    // 4–5. Checks + verdict (run ALL, spec order; verdict is a value) and
    //    the row count, all from one observed pass over the read-back.
    //    source_exists paths are {{ ds }}-templated like the reference's
    //    check_for_key key.
    val renderedChecks = spec.checks.map {
      case graft.dq.SourceExists(p) => graft.dq.SourceExists(PipelineSpec.renderDs(p, ds))
      case c => c
    }
    val (results, rows) = DataQuality.runAllCounted(readBack, renderedChecks)
    val passed = DataQuality.verdict(results)
    // An empty date keeps no partition: neither the one empty file the
    // direct write leaves nor, on the skip path, an earlier run's data.
    if (rows == 0) Ingest.dropRawZone(spark, root, ds)

    // 6. Branch: alert on failure, no-op on success (O9–O11).
    if (!passed)
      alertSink.alert(spec.info.name, results.filterNot(_.passed).map(r =>
        s"${r.checkName}: ${r.detail}"))

    PipelineResult(passed, results, if (written) root else "", rows)
  }

  /** Backfill — the Airflow operation the reference's users actually run:
    * execute the pipeline once per date, oldest first. Each run overwrites
    * only its own `ds=` directory (and removes it when the date is empty),
    * so a backfill is idempotent and safely re-runnable over any date window.
    * The loop is over the DATE RANGE (config), never over data; one date's
    * failure — DQ verdict OR thrown error (fetch timeout, bad payload) —
    * never stops later dates, matching the one-DagRun-per-date model; each
    * date's outcome is its Try.
    */
  def backfill(
      spark: SparkSession,
      spec: PipelineSpec,
      start: LocalDate,
      endInclusive: LocalDate,
      fetcher: Fetcher = HttpFetcher,
      alertSink: AlertSink = LogAlertSink): Seq[(LocalDate, scala.util.Try[PipelineResult])] =
    Iterator.iterate(start)(_.plusDays(1))
      .takeWhile(!_.isAfter(endInclusive))
      .map(d => d -> scala.util.Try(run(spark, spec, d, fetcher, alertSink)))
      .toSeq
}
