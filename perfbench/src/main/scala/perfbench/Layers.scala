package perfbench

/** Turns the recorder's jobs, stages and blocks for the traced passes into
  * the per-layer metrics, checks that counts repeat across the two traced
  * passes, and writes the span tree (pass → op → build/action → job → stage).
  */
object Layers {

  /** Counts that must be equal in two traced passes of the same seed. */
  val StableCounts: Seq[String] =
    Seq("spark.jobs", "spark.stages", "dq.jobs_per_run", "util.ckpt_jobs", "io.bytes_written")

  /** Layer a job belongs to: the module its call site names, the op's own
    * module for the op's action jobs, or "unattributed".
    */
  def layer(module: Option[String], opModule: String): String = module match {
    case Some(Attribution.Action) => opModule
    case Some(m) => m
    case None => "unattributed"
  }

  private final case class JobView(job: JobRec, layer: String, frameModule: Option[String],
      sample: Sample, stages: Seq[StageRec]) {
    def ms: Long = math.max(0L, job.end - job.start)
    def taskMs: Long = stages.map(_.taskMs).sum
    def inputBytes: Long = stages.map(_.inputBytes).sum
    def outputBytes: Long = stages.map(_.outputBytes).sum
  }

  private def views(rec: Recorder, p: PassRec): Seq[JobView] = {
    val byGroup = p.samples.map(s => s.group -> s).toMap
    rec.jobsOf(byGroup.keySet).map { case (j, m) =>
      val s = byGroup(j.group)
      JobView(j, layer(m, s.module), m, s, rec.stagesOf(j))
    }
  }

  /** Per-layer metrics of one traced pass. */
  def passMetrics(rec: Recorder, p: PassRec, cores: Int, checksPerRun: Double): Map[String, Double] = {
    val js = views(rec, p)
    val stages = js.flatMap(_.stages).distinctBy(s => (s.stageId, s.attempt))
    val runs = p.samples.count(_.module == "pipeline").toDouble
    def perRun(x: Double) = if (runs > 0) x / runs else 0.0
    def frame(m: String) = js.filter(_.frameModule.contains(m))
    val dq = frame("dq")
    val writes = frame("io").filter(_.outputBytes > 0)
    val ckpt = frame("util")
    def jobsOfSample(s: Sample) = js.filter(_.sample.group == s.group).map(j => (j.job.start, j.job.end))
    val pipelineRuns = p.samples.filter(_.module == "pipeline")
    val taskMs = stages.map(_.taskMs).sum.toDouble
    val byLayer = Seq("analytics", "llm").flatMap { l =>
      val ops = p.samples.filter(_.module == l)
      val lj = js.filter(_.layer == l)
      Seq(
        s"$l.build_ms" -> ops.map(s => s.buildEnd - s.start).sum.toDouble,
        s"$l.prebuild_jobs" -> lj.count(j => j.job.start < j.sample.buildEnd).toDouble,
        s"$l.action_ms" -> ops.map(s => s.end - s.buildEnd).sum.toDouble,
        s"$l.jobs" -> lj.size.toDouble,
        s"$l.task_ms" -> lj.flatMap(_.stages).distinctBy(s => (s.stageId, s.attempt))
          .map(_.taskMs).sum.toDouble)
    }.toMap
    Map(
      "spark.jobs" -> js.size.toDouble,
      "spark.stages" -> stages.size.toDouble,
      "spark.tasks" -> stages.map(_.tasks).sum.toDouble,
      "spark.task_ms" -> taskMs,
      "spark.critical_path_ms" -> stages.map(_.maxTaskMs).sum.toDouble,
      "spark.task_util" -> taskMs / (p.wallS * 1000.0 * cores),
      "spark.driver_self_ms" -> p.samples.map(s =>
        Stats.selfTime(s.start, s.end, jobsOfSample(s))).sum.toDouble,
      "spark.input_bytes" -> stages.map(_.inputBytes).sum.toDouble,
      "spark.shuffle_read_bytes" -> stages.map(_.shuffleReadBytes).sum.toDouble,
      "spark.shuffle_write_bytes" -> stages.map(_.shuffleWriteBytes).sum.toDouble,
      "spark.spill_bytes" -> stages.map(_.spillBytes).sum.toDouble,
      "jvm.gc_ms" -> p.gcMs.toDouble,
      "jvm.jit_ms" -> p.jitMs.toDouble,
      "util.ckpt_jobs" -> ckpt.size.toDouble,
      "util.ckpt_ms" -> ckpt.map(_.ms).sum.toDouble,
      "util.ckpt_bytes" -> rec.diskBytesBetween(p.start, p.end).toDouble,
      "dq.jobs_per_run" -> perRun(dq.size),
      "dq.job_ms_per_run" -> perRun(dq.map(_.ms).sum),
      "dq.scan_bytes_per_run" -> perRun(dq.map(_.inputBytes).sum),
      "dq.checks_per_job" -> (if (dq.isEmpty) 0.0 else runs * checksPerRun / dq.size),
      "io.write_jobs" -> writes.size.toDouble,
      "io.write_ms" -> writes.map(_.ms).sum.toDouble,
      "io.bytes_written" -> writes.map(_.outputBytes).sum.toDouble,
      "pipeline.run_ms" -> perRun(pipelineRuns.map(s => s.end - s.start).sum),
      "pipeline.self_ms" -> perRun(pipelineRuns.map(s =>
        Stats.selfTime(s.start, s.end, jobsOfSample(s))).sum),
      "pipeline.fetch_ms" -> perRun(pipelineRuns.map(_.fetchMs).sum),
      "pipeline.jobs_per_run" -> perRun(js.count(_.sample.module == "pipeline"))
    ) ++ byLayer
  }

  /** Share of the pass's jobs tied to an op and a named module or action. */
  def attributedShare(rec: Recorder, p: PassRec): (Double, Map[String, Int]) = {
    val js = views(rec, p)
    val groups = p.samples.map(_.group).toSet
    val stray = rec.allJobs.count(j => !groups.contains(j.group) &&
      j.start >= p.start && j.start <= p.end)
    val byLayer = js.groupBy(_.layer).map { case (k, v) => k -> v.size } ++
      (if (stray > 0) Map("no_op_group" -> stray) else Map.empty)
    val total = js.size + stray
    val ok = js.count(_.layer != "unattributed")
    (if (total == 0) 1.0 else ok.toDouble / total, byLayer)
  }

  def report(rec: Recorder, traced: Seq[PassRec], untraced: Seq[PassRec],
      steps: Option[Seq[Steps.Step]], cores: Int, checksPerRun: Double,
      spanFile: String): Map[String, Any] = {
    val per = traced.map(p => passMetrics(rec, p, cores, checksPerRun))
    val unstable = StableCounts.filter(k => per.map(_(k)).distinct.size > 1)
    val metrics = per.head.keys.toSeq.sorted.map(k => k -> per.map(_(k)).sum / per.size).toMap
    val shares = traced.map(p => attributedShare(rec, p))
    val stepJobs = steps.getOrElse(Nil).map { s =>
      s -> rec.jobsOf(Set(s.group)).map(_._1)
    }
    def stepsOf(kinds: Set[String]) = stepJobs.filter(x => kinds.contains(x._1.kind))
    val io = Map(
      "io.infer_jobs" -> stepsOf(Set("read", "readback")).map(_._2.size).sum.toDouble,
      "io.input_bytes" -> stepsOf(Set("read")).flatMap(_._2).flatMap(rec.stagesOf)
        .map(_.inputBytes).sum.toDouble)
    val overhead = Stats.median(traced.map(_.wallS)) / Stats.median(untraced.map(_.wallS))
    writeSpans(rec, traced, spanFile)
    Map(
      "metrics" -> (metrics ++ io ++ Map(
        "trace_overhead" -> overhead,
        "trace.attributed_share" -> shares.map(_._1).min,
        "trace.unstable_counts" -> unstable.size.toDouble)),
      "unstable_counts" -> unstable.map(k => Map("metric" -> k, "values" -> per.map(_(k)))),
      "jobs_by_layer" -> shares.map(_._2),
      "steps" -> steps.getOrElse(Nil).groupBy(_.kind).map { case (k, v) =>
        k -> Map("ms" -> v.map(s => s.end - s.start).sum,
          "jobs" -> stepJobs.filter(_._1.kind == k).map(_._2.size).sum)
      },
      "span_file" -> spanFile)
  }

  /** Writes the span tree of the traced passes once, at the end of the run. */
  private def writeSpans(rec: Recorder, traced: Seq[PassRec], file: String): Unit = {
    val tree = traced.map { p =>
      val js = views(rec, p).groupBy(_.sample.group)
      Map("pass" -> p.index, "start" -> p.start, "end" -> p.end, "ops" -> p.samples.map { s =>
        Map("op" -> s.op, "module" -> s.module, "start" -> s.start,
          "build" -> Map("start" -> s.start, "end" -> s.buildEnd),
          "action" -> Map("start" -> s.buildEnd, "end" -> s.end),
          "self_ms" -> Stats.selfTime(s.start, s.end,
            js.getOrElse(s.group, Nil).map(j => (j.job.start, j.job.end))),
          "jobs" -> js.getOrElse(s.group, Nil).sortBy(_.job.jobId).map { j =>
            Map("job" -> j.job.jobId, "layer" -> j.layer, "frame_module" -> j.frameModule,
              "start" -> j.job.start, "end" -> j.job.end, "stages" -> j.stages.map(st =>
                Map("stage" -> st.stageId, "attempt" -> st.attempt, "tasks" -> st.tasks,
                  "task_ms" -> st.taskMs, "max_task_ms" -> st.maxTaskMs)))
          })
      })
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(file),
      Json.render(tree).getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}
