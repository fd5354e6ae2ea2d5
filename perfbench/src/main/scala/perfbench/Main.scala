package perfbench

import java.lang.management.ManagementFactory
import java.time.LocalDate

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{count, lit, sum}

import graft.SparkEntry
import graft.pipeline.{Pipeline, WebhookAlertSink}

/** One operation of a workload: a query execution or one pipeline run. */
trait Op {
  def name: String
  /** Module that implements the op (its own action jobs belong to it). */
  def module: String
  /** Build step; returns the action to run. Timed separately from the action. */
  def build(): () => Unit
  /** Checks the outcome of the last action; a non-empty result is a wrong output. */
  def check(): Option[String] = None
  /** Time the last action spent fetching its source over HTTP. */
  def fetchMs: Double = 0.0
}

/** One executed op inside a pass: epoch-ms phase bounds plus nano latency. */
final case class Sample(op: String, module: String, group: String, start: Long,
    buildEnd: Long, end: Long, latencyS: Double, error: Option[String], wrong: Option[String],
    fetchMs: Double)

final case class PassRec(index: Int, traced: Boolean, start: Long, end: Long,
    wallS: Double, samples: Seq[Sample], gcMs: Long, jitMs: Long)

/** Runs one workload with one seed in one JVM and writes a JSON report.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --data DIR --work DIR --out FILE
  */
object Main {

  /** Query workloads. `analytics_mix` is the measured one; the other three
    * are the full per-area op sets, kept for investigation runs (a pass of
    * each takes 12–25 s on 4 cores, too long for the benchmark's run budget).
    */
  val QueryWorkloads: Map[String, Seq[String]] = Map(
    "analytics_mix" -> Seq("q_tpch_q9", "q_ntile", "x_rand_walk", "x_jaccard_join"),
    "warehouse_sql" -> ((2 to 22).map(i => s"q_tpch_q$i") ++ Seq(
      "q_ntile", "q_quantiles", "q_quartiles_cont", "x_select_quantile",
      "x_group_median", "x_rfm", "x_weighted_median", "x_calibration_bins")),
    "graph_iter" -> Seq("x_pagerank", "x_bfs_dist", "x_shortest_path", "x_rand_walk",
      "x_triangles", "x_kcore", "x_cc_size_dist"),
    "llm_corpus" -> Seq("x_dedup_minhash", "x_jaccard_join", "x_dedup_simhash",
      "x_span_dedup", "x_ann_recall_multi", "x_ivfpq_topk", "x_quality_filter",
      "x_knn_graph", "x_bm25_topk", "x_containment_join"))

  val Workloads: Seq[String] = "etl_backfill" +: QueryWorkloads.keys.toSeq.sorted

  /** etl_backfill sizing: dates per pass, events per landing partition, API rows. */
  val EtlDates = 3
  val EtlEventsPerDate = 10000
  val EtlCampaignsPerDate = 200

  /** Measured passes per untraced run, at least; the window may run past
    * `--seconds`. A traced run adds its own interleaved untraced pass.
    */
  val MinPasses = 2

  private def arg(args: Array[String], k: String): String = {
    val i = args.indexOf(s"--$k")
    require(i >= 0 && i + 1 < args.length, s"missing --$k")
    args(i + 1)
  }

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum
  def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "workload")
    require(Workloads.contains(workload), s"unknown workload $workload; one of ${Workloads.mkString(", ")}")
    val seed = arg(args, "seed").toLong
    val seconds = arg(args, "seconds").toDouble
    val trace = arg(args, "trace") == "1"
    val data = arg(args, "data")
    val work = arg(args, "work")
    val out = arg(args, "out")
    val cores = Runtime.getRuntime.availableProcessors()
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ui.retainedExecutions", "1")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionReady = System.currentTimeMillis()
    var etl: Option[EtlFixture] = None
    try {
      val report = run(spark, workload, seed, seconds, trace, data, work, out, cores,
        f => etl = Some(f))
      val timeline = report("timeline").asInstanceOf[Map[String, Any]] ++
        Map("jvm_start_ms" -> jvmStart, "session_ready_ms" -> sessionReady)
      val full = report.updated("timeline", timeline)
      java.nio.file.Files.write(java.nio.file.Paths.get(out),
        Json.render(full).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } finally {
      etl.foreach(_.stop())
      spark.stop()
    }
  }

  private def run(spark: SparkSession, workload: String, seed: Long, seconds: Double,
      trace: Boolean, data: String, work: String, out: String, cores: Int,
      onEtl: EtlFixture => Unit): Map[String, Any] = {
    val sc = spark.sparkContext
    val rng = new scala.util.Random(seed)

    // Landing generation (etl); query workloads read their generated tables
    // first in the warm-up pass.
    var landingBytes = 0L
    val (ops, checkOps, fixture): (Seq[Op], Seq[Op], Option[EtlFixture]) = workload match {
      case "etl_backfill" =>
        val dates = (0 until EtlDates).map(i => LocalDate.of(2025, 7, 28).plusDays(i.toLong))
        val f = new EtlFixture(spark, work, seed, dates, EtlEventsPerDate, EtlCampaignsPerDate)
        onEtl(f)
        landingBytes = f.materialize()
        val o = etlOps(spark, f)
        (o, o, Some(f))
      case w =>
        val q = SparkEntry.queries
        val names = rng.shuffle(QueryWorkloads(w))
        def ops(sink: (String, DataFrame) => Unit) = names.map(n => queryOp(spark, n, q(n), data, sink))
        (ops((_, df) => df.write.format("noop").mode("overwrite").save()),
          ops((n, df) => df.write.mode("overwrite").parquet(s"$work/results/$n")), None)
    }
    val fixtureReady = System.currentTimeMillis()

    // Warm-up pass, outside the measured window: on a fresh JVM the first
    // pass runs 2-4x the steady time. For query workloads it also writes
    // each op's result as parquet for the oracle comparison that runs after
    // the JVM exits (pipeline runs are checked as they run). The JIT keeps
    // warming over the next passes, so the window holds at least two passes
    // and reports medians.
    val warm = runPass(spark, checkOps, 0, traced = false)
    referenceS(spark, cores)
    val setupEnd = System.currentTimeMillis()

    val probeBefore = Host.probe()
    val passes = scala.collection.mutable.ArrayBuffer.empty[PassRec]
    val refs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val window = if (trace) seconds / 2 else seconds
    val t0 = System.nanoTime()
    val minPasses = if (trace) 1 else MinPasses
    while (passes.size < minPasses || (System.nanoTime() - t0) / 1e9 < window) {
      passes += runPass(spark, ops, passes.size + 1, traced = false)
      refs ++= referenceS(spark, cores)
    }
    val measureEnd = System.currentTimeMillis()

    var tracedPasses = Seq.empty[PassRec]
    val traced: Map[String, Any] = if (!trace) Map.empty else {
      // Traced and untraced passes interleave (T, U, T) so that
      // trace_overhead compares neighbours, not a warming JVM's early passes.
      val rec = new Recorder
      def tracedPass(i: Int): PassRec = {
        sc.addSparkListener(rec)
        try {
          val p = runPass(spark, ops, 100 + i, traced = true)
          rec.settle()
          p
        } finally sc.removeSparkListener(rec)
      }
      val t1 = tracedPass(0)
      passes += runPass(spark, ops, passes.size + 1, traced = false)
      refs ++= referenceS(spark, cores)
      val tp = Seq(t1, tracedPass(1))
      tracedPasses = tp
      sc.addSparkListener(rec)
      try {
        val steps = fixture.map { f =>
          val s = Steps.run(spark, f)
          rec.settle()
          s
        }
        Layers.report(rec, tp, passes.takeRight(2).toSeq, steps, cores,
          fixture.map(f => f.specs.values.map(_.checks.size).sum.toDouble / f.specs.size)
            .getOrElse(0.0),
          s"$out.trace.json")
      } finally sc.removeSparkListener(rec)
    }
    val probeAfter = Host.probe()

    val all = warm +: (passes.toSeq ++ tracedPasses)
    val latencies = passes.toSeq.flatMap(_.samples.map(_.latencyS))
    val tail = Stats.tail(latencies)
    val opP50 = Stats.median(passes.toSeq.flatMap(_.samples).groupBy(_.op).values
      .map(ss => Stats.median(ss.map(_.latencyS))).toSeq)
    Map(
      "summary" -> Map(
        "pass_wall_s" -> Stats.median(passes.toSeq.map(_.wallS)),
        "op_p50_s" -> opP50,
        "reference_s" -> Stats.median(refs.toSeq),
        "pass_wall_rel" -> Stats.median(passes.toSeq.map(_.wallS)) / Stats.median(refs.toSeq),
        "op_p50_rel" -> opP50 / Stats.median(refs.toSeq),
        "op_tail_s" -> tail.value, "op_tail_percentile" -> tail.percentile,
        "op_tail_samples" -> tail.samples, "op_tail_beyond" -> tail.beyond,
        "op_tail_rule_met" -> tail.ruleMet,
        "rss_peak_mb" -> Host.rssPeakMb()),
      "workload" -> workload, "seed" -> seed, "cores" -> cores,
      "ops" -> ops.map(o => Map("name" -> o.name, "module" -> o.module)),
      "etl_rows" -> fixture.map(f => f.dates.flatMap(d => f.Specs.map(s =>
        s"$s@$d" -> f.truth(d, s).rows)).toMap).getOrElse(Map.empty),
      "landing_bytes" -> landingBytes,
      "raw_bytes" -> fixture.map(_.rawBytes).getOrElse(0L),
      "oracle_sql" -> (if (fixture.isEmpty) ops.flatMap(o =>
        SparkEntry.oracleSql.get(o.name).map(o.name -> _)).toMap else Map.empty),
      "warmup" -> passJson(warm),
      "passes" -> passes.map(passJson),
      "errors" -> all.flatMap(_.samples).flatMap(s =>
        s.error.orElse(s.wrong).map(e => Map("op" -> s.op, "pass" -> s.group, "error" -> e))),
      "timeline" -> Map("fixture_ready_ms" -> fixtureReady, "setup_end_ms" -> setupEnd,
        "measure_end_ms" -> measureEnd),
      "host" -> Host.record(probeBefore, probeAfter),
      "trace" -> traced)
  }

  private def passJson(p: PassRec): Map[String, Any] = Map(
    "index" -> p.index, "wall_s" -> p.wallS, "gc_ms" -> p.gcMs, "jit_ms" -> p.jitMs,
    "samples" -> p.samples.map(s => Map("op" -> s.op, "latency_s" -> s.latencyS,
      "ok" -> (s.error.isEmpty && s.wrong.isEmpty))))

  /** Five timings (seconds) of a fixed plain-Spark job that runs no graft
    * code: a range, a projection and a grouped aggregate with one shuffle.
    * It runs after every measured pass, so the host's speed during the run
    * can be divided out: on a shared VM whole runs drift by 20-50% within
    * minutes, and the ratio to this job drifts much less.
    */
  def referenceS(spark: SparkSession, cores: Int): Seq[Double] = {
    spark.sparkContext.setJobGroup("reference", "reference", interruptOnCancel = false)
    try (1 to 5).map { _ =>
      val t0 = System.nanoTime()
      spark.range(0L, 2000000L, 1L, cores)
        .selectExpr("id % 1009 AS k", "CAST(id AS DOUBLE) * 1.5 AS v")
        .groupBy("k").agg(sum("v"), count(lit(1)))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    finally spark.sparkContext.clearJobGroup()
  }

  /** A query op: build runs `fn(spark, data)`, the action hands the frame to `sink`. */
  def queryOp(spark: SparkSession, n: String, fn: (SparkSession, String) => DataFrame,
      data: String, sink: (String, DataFrame) => Unit): Op = new Op {
    val name = n
    val module = Attribution.moduleOf(fn)
    def build(): () => Unit = {
      val df = fn(spark, data)
      () => sink(n, df)
    }
  }

  def etlOps(spark: SparkSession, f: EtlFixture): Seq[Op] = {
    val sink = new WebhookAlertSink(f.alertUrl)
    for (d <- f.dates; s <- f.Specs) yield new Op {
      val name = s"$s@$d"
      val module = "pipeline"
      private val fetcher = new TimedFetcher
      override def fetchMs: Double = fetcher.lastMs
      private var result: Option[graft.pipeline.PipelineResult] = None
      private var alertsBefore = 0
      def build(): () => Unit = () => {
        alertsBefore = f.alerts.get()
        fetcher.lastMs = 0.0
        result = Some(Pipeline.run(spark, f.specs(s), d, fetcher, sink))
      }
      override def check(): Option[String] = result.flatMap { r =>
        val t = f.truth(d, s)
        val failing = r.results.filterNot(_.passed).map(_.checkName)
        val alerts = f.alerts.get() - alertsBefore
        val problems = Seq(
          if (r.passed != t.passed) Some(s"verdict ${r.passed} != planted ${t.passed}") else None,
          if (failing != t.failing) Some(s"failing $failing != planted ${t.failing}") else None,
          if (alerts != (if (t.passed) 0 else 1)) Some(s"alerts $alerts") else None,
          if (r.rows != t.rows) Some(s"raw rows ${r.rows} != landing rows ${t.rows}") else None
        ).flatten
        if (problems.isEmpty) None else Some(problems.mkString("; "))
      }
    }
  }

  /** One closed-loop pass: each op starts when the previous one finished. */
  def runPass(spark: SparkSession, ops: Seq[Op], index: Int, traced: Boolean): PassRec = {
    val sc = spark.sparkContext
    val gc0 = gcMs()
    val jit0 = jitMs()
    val start = System.currentTimeMillis()
    val n0 = System.nanoTime()
    val samples = ops.zipWithIndex.map { case (op, i) =>
      val group = s"p$index-o$i"
      sc.setJobGroup(group, op.name, interruptOnCancel = false)
      val s0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      var buildEnd = s0
      val error = try {
        val action = op.build()
        buildEnd = System.currentTimeMillis()
        action()
        None
      } catch { case NonFatal(e) => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500)) }
      val latency = (System.nanoTime() - t0) / 1e9
      val end = System.currentTimeMillis()
      val wrong = if (error.isEmpty) op.check() else None
      Sample(op.name, op.module, group, s0, buildEnd, end, latency, error, wrong, op.fetchMs)
    }
    sc.clearJobGroup()
    PassRec(index, traced, start, System.currentTimeMillis(), (System.nanoTime() - n0) / 1e9,
      samples, gcMs() - gc0, jitMs() - jit0)
  }
}
