package perfbench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.time.LocalDate
import java.util.concurrent.atomic.AtomicInteger

import com.sun.net.httpserver.HttpServer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.gen.EventGen
import graft.pipeline.{Fetcher, HttpFetcher, PipelineSpec}

/** The planted truth for one pipeline run. */
final case class Truth(passed: Boolean, failing: Seq[String], rows: Long)

/** Inputs of the etl_backfill workload: a window of dates, two YAML specs
  * (a JSON file source and an HTTP API source), each date's landing data
  * and the planted defects, plus the localhost server that serves the API
  * payloads and receives the webhook alerts.
  */
final class EtlFixture(spark: SparkSession, work: String, seed: Long,
    val dates: Seq[LocalDate], eventsPerDate: Int, campaignsPerDate: Int) {

  val Specs: Seq[String] = Seq("clickstream_files", "campaigns_api")
  private val Defects = Seq("duplicate_keys", "null_burst", "short_partition")
  private val rng = new scala.util.Random(seed)

  /** (date, spec) → defect, for about a quarter of the dates. */
  val defects: Map[(LocalDate, String), String] =
    rng.shuffle(dates).take(math.max(1, math.round(dates.size / 4.0).toInt)).map { d =>
      (d, Specs(rng.nextInt(Specs.size))) -> Defects(rng.nextInt(Defects.size))
    }.toMap

  private val landing = s"$work/landing/clickstream"
  val rawRoot = s"$work/raw"
  val alerts = new AtomicInteger(0)
  private val payloads = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private val server: HttpServer = {
    val s = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    s.createContext("/campaigns", ex => {
      val q = Option(ex.getRequestURI.getRawQuery).getOrElse("")
      val ds = q.split('&').collectFirst { case kv if kv.startsWith("report_date=") =>
        kv.stripPrefix("report_date=") }.getOrElse("")
      val body = Option(payloads.get(ds)).getOrElse("[]").getBytes(StandardCharsets.UTF_8)
      ex.sendResponseHeaders(200, body.length.toLong)
      ex.getResponseBody.write(body)
      ex.close()
    })
    s.createContext("/alert", ex => {
      ex.getRequestBody.readAllBytes()
      alerts.incrementAndGet()
      ex.sendResponseHeaders(204, -1)
      ex.close()
    })
    s.start()
    s
  }
  val baseUrl = s"http://127.0.0.1:${server.getAddress.getPort}"

  def stop(): Unit = server.stop(0)

  private val clickChecks =
    s"""data_quality_checks:
       |  - check_type: min_row_count
       |    threshold: ${eventsPerDate * 9 / 10}
       |  - check_type: required_columns
       |    columns: [event_id, user_id, event_type, url, timestamp, utm_source]
       |  - check_type: unique_column
       |    column: event_id
       |  - check_type: null_ratio
       |    column: user_id
       |    max_ratio: 0.05
       |""".stripMargin

  val yaml: Map[String, String] = Map(
    "clickstream_files" ->
      (s"""pipeline_info:
          |  name: clickstream_files
          |  owner: perfbench
          |  schedule: "@daily"
          |  tags: [clickstream, files]
          |  description: landing JSON files to the raw zone
          |source:
          |  type: json
          |  path: $landing/d={{ ds }}
          |destination:
          |  bucket: $rawRoot
          |  path: clickstream
          |""".stripMargin + clickChecks),
    "campaigns_api" ->
      s"""pipeline_info:
         |  name: campaigns_api
         |  owner: perfbench
         |  schedule: "@daily"
         |  tags: [marketing, api]
         |  description: campaign report API to the raw zone
         |source:
         |  type: generic_api
         |  connection_id: campaigns
         |  endpoint: $baseUrl/campaigns
         |  params:
         |    report_date: "{{ ds }}"
         |destination:
         |  bucket: $rawRoot
         |  path: campaigns
         |data_quality_checks:
         |  - check_type: min_row_count
         |    threshold: ${campaignsPerDate * 9 / 10}
         |  - check_type: required_columns
         |    columns: [id, name, channel, spend, clicks, report_date]
         |  - check_type: unique_column
         |    column: id
         |  - check_type: null_ratio
         |    column: name
         |    max_ratio: 0.05
         |""".stripMargin)

  val specs: Map[String, PipelineSpec] = yaml.map { case (k, v) => k -> PipelineSpec.fromYaml(v) }

  val alertUrl = s"$baseUrl/alert"

  private val truths = scala.collection.mutable.Map.empty[(LocalDate, String), Truth]
  def truth(d: LocalDate, spec: String): Truth = truths((d, spec))

  private def failing(defect: Option[String]): Seq[String] = defect match {
    case Some("duplicate_keys") => Seq("unique_column")
    case Some("null_burst") => Seq("null_ratio")
    case Some("short_partition") => Seq("min_row_count")
    case _ => Nil
  }

  /** Landing rows for one date: EventGen events with a per-date key, then
    * the planted defect if the date carries one.
    */
  private def clickstream(d: LocalDate, i: Int, defect: Option[String]): (DataFrame, Long) = {
    val dayEpoch = d.toEpochDay * 86400L
    val n = if (defect.contains("short_partition")) eventsPerDate * 85 / 100 else eventsPerDate
    val ev = EventGen.syntheticEvents(spark, n.toLong, seed * 1000 + i, baseEpoch = dayEpoch)
      .withColumn("event_id",
        unix_timestamp(col("timestamp"), "yyyy-MM-dd'T'HH:mm:ss'Z'") - lit(dayEpoch))
    defect match {
      case Some("duplicate_keys") => (ev.union(ev.filter(col("event_id") < 50)), n + 50L)
      case Some("null_burst") =>
        (ev.withColumn("user_id", when(col("event_id") < n / 5, lit(null)).otherwise(col("user_id"))),
          n.toLong)
      case _ => (ev, n.toLong)
    }
  }

  private def campaigns(d: LocalDate, defect: Option[String]): (String, Long) = {
    val r = new scala.util.Random(seed * 7919 + d.toEpochDay)
    val n = if (defect.contains("short_partition")) campaignsPerDate * 85 / 100 else campaignsPerDate
    val channels = Seq("search", "social", "display", "email")
    val rows = (0 until n).map { i =>
      val name = if (defect.contains("null_burst") && i < n / 3) "null" else s""""campaign_$i""""
      s"""{"id": $i, "name": $name, "channel": "${channels(r.nextInt(4))}", """ +
        s""""spend": ${r.nextInt(100000) / 100.0}, "clicks": ${r.nextInt(5000)}, """ +
        s""""report_date": "$d"}"""
    } ++ (if (defect.contains("duplicate_keys")) (0 until 5).map(i =>
      s"""{"id": $i, "name": "campaign_dup_$i", "channel": "search", "spend": 1.0, """ +
        s""""clicks": 1, "report_date": "$d"}""") else Nil)
    (rows.mkString("[", ",\n", "]"), rows.size.toLong)
  }

  /** Writes every date's landing partition (one Spark job) and API payload;
    * returns the landing bytes (JSON files plus payloads).
    */
  def materialize(): Long = {
    val frames = dates.zipWithIndex.map { case (d, i) =>
      val clickDefect = defects.get((d, "clickstream_files"))
      val (df, rows) = clickstream(d, i, clickDefect)
      truths((d, "clickstream_files")) =
        Truth(clickDefect.isEmpty, failing(clickDefect), rows)
      df.withColumn("d", lit(d.toString))
    }
    frames.reduce(_ union _).repartition(col("d"))
      .write.mode("overwrite").partitionBy("d").json(landing)
    dates.foreach { d =>
      val apiDefect = defects.get((d, "campaigns_api"))
      val (payload, n) = campaigns(d, apiDefect)
      payloads.put(d.toString, payload)
      truths((d, "campaigns_api")) = Truth(apiDefect.isEmpty, failing(apiDefect), n)
    }
    landingBytes
  }

  def landingBytes: Long =
    Files.bytesUnder(landing) + payloads.values().toArray.map(
      _.toString.getBytes(StandardCharsets.UTF_8).length.toLong).sum

  def rawBytes: Long = Files.bytesUnder(rawRoot)
}

/** A fetcher that times each call to the real [[HttpFetcher]]. */
final class TimedFetcher extends Fetcher {
  @volatile var lastMs = 0.0
  def fetch(endpoint: String, params: Map[String, String]): String = {
    val t0 = System.nanoTime()
    try HttpFetcher.fetch(endpoint, params)
    finally lastMs = (System.nanoTime() - t0) / 1e6
  }
}

object Files {
  def bytesUnder(dir: String): Long = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_))
        .filter(f => !f.getFileName.toString.startsWith("."))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }
  }
}

/** The steps of `Pipeline.run`, driven through their public calls, each under
  * its own job group so that source read, raw-zone write, read-back, checks
  * and alert are timed and counted separately.
  */
object Steps {
  final case class Step(kind: String, group: String, start: Long, end: Long)

  def run(spark: SparkSession, f: EtlFixture): Seq[Step] = {
    import graft.dq.DataQuality
    import graft.io.Ingest
    import graft.pipeline.{ApiSource, FileSource, RawZoneDest, WebhookAlertSink}
    val sc = spark.sparkContext
    val sink = new WebhookAlertSink(f.alertUrl)
    val out = scala.collection.mutable.ArrayBuffer.empty[Step]
    var i = 0
    def step[T](kind: String)(body: => T): T = {
      val g = s"step-$kind-$i"
      sc.setJobGroup(g, kind, interruptOnCancel = false)
      val s = System.currentTimeMillis()
      try body finally out += Step(kind, g, s, System.currentTimeMillis())
    }
    for (d <- f.dates; name <- f.Specs) {
      val spec = f.specs(name)
      val ds = d.toString
      val ingested = step("read") {
        spec.source match {
          case ApiSource(_, endpoint, params) =>
            Ingest.fromJsonPayload(spark, HttpFetcher.fetch(endpoint,
              params.map { case (k, v) => k -> PipelineSpec.renderDs(v, ds) }))
          case FileSource(format, path, options) =>
            spark.read.options(options).format(format).load(PipelineSpec.renderDs(path, ds))
        }
      }
      val RawZoneDest(bucket, template) = spec.destination
      val root = s"$bucket/${PipelineSpec.renderDs(template, ds).stripSuffix("/")}"
      step("write")(Ingest.writeRawZone(ingested, root, ds))
      val readBack = step("readback")(spark.read.parquet(root).filter(col("ds") === ds).drop("ds"))
      val results = step("dq")(DataQuality.runAll(readBack, spec.checks))
      step("alert") {
        if (!DataQuality.verdict(results))
          sink.alert(spec.info.name, results.filterNot(_.passed).map(_.checkName))
      }
      i += 1
    }
    sc.clearJobGroup()
    out.toSeq
  }
}
