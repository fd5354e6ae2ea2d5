package perfbench

import java.util.Properties

import org.apache.spark.scheduler.{JobSucceeded, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.scalatest.funsuite.AnyFunSuite

class AttributionSpec extends AnyFunSuite {

  private def site(frames: String*): String = frames.mkString("\n")

  private val dqSite = site(
    "org.apache.spark.sql.Dataset.collect(Dataset.scala:3800)",
    "graft.dq.DataQuality$.runAll(DataQuality.scala:65)",
    "graft.pipeline.Pipeline$.run(Pipeline.scala:178)",
    "perfbench.Main$.runPass(Main.scala:240)")
  private val ckptSite = site(
    "org.apache.spark.sql.Dataset.localCheckpoint(Dataset.scala:700)",
    "graft.util.Ckpt$CkptOps$.ckptDisk$extension(Ckpt.scala:62)",
    "graft.analytics.PageRank$.pagerank(PageRank.scala:120)")
  private val actionSite = site(
    "org.apache.spark.sql.DataFrameWriter.save(DataFrameWriter.scala:200)",
    "perfbench.Main$.$anonfun$run$5(Main.scala:130)")

  test("innermost graft frame names the module") {
    assert(Attribution.module(dqSite).contains("dq"))
    assert(Attribution.module(ckptSite).contains("util"))
    assert(Attribution.module("graft.SparkEntry$.entry(SparkEntry.scala:22)").contains("core"))
    assert(Attribution.module(actionSite).isEmpty)
    assert(Attribution.module("").isEmpty)
  }

  test("a query function's module comes from the object that defines it") {
    val q = graft.SparkEntry.queries
    assert(Attribution.moduleOf(q("q_ntile")) == "analytics")
    assert(Attribution.moduleOf(q("x_calibration_bins")) == "llm")
    assert(Attribution.moduleOf(q("x_pagerank")) == "analytics")
  }

  private def sqlStart(id: Long, details: String) =
    SparkListenerSQLExecutionStart(id, Some(id), "desc", details, "plan",
      new SparkPlanInfo("node", "node", Nil, Map.empty, Nil), 0L)

  private def jobStart(jobId: Int, group: String, execId: Option[Long]) = {
    val p = new Properties()
    p.setProperty("spark.jobGroup.id", group)
    execId.foreach(e => p.setProperty("spark.sql.execution.id", e.toString))
    SparkListenerJobStart(jobId, 1000L + jobId, Nil, p)
  }

  test("jobs are attributed from a recorded listener-event sequence") {
    val rec = new Recorder
    // Execution 7 (DQ), execution 8 (the op's own noop write), execution 9
    // whose start event was never seen, one RDD job with only stage details.
    rec.onOtherEvent(sqlStart(7, dqSite))
    rec.onJobStart(jobStart(0, "p1-o0", Some(7)))
    rec.onJobEnd(SparkListenerJobEnd(0, 1100L, JobSucceeded))
    rec.onOtherEvent(sqlStart(8, actionSite))
    rec.onJobStart(jobStart(1, "p1-o0", Some(8)))
    rec.onJobEnd(SparkListenerJobEnd(1, 1200L, JobSucceeded))
    rec.onJobStart(jobStart(2, "p1-o1", Some(9)))
    rec.onJobEnd(SparkListenerJobEnd(2, 1300L, JobSucceeded))
    rec.recordJobStart(3, 1400L, "p1-o1", None, Seq(5), ckptSite)
    rec.onJobEnd(SparkListenerJobEnd(3, 1500L, JobSucceeded))
    rec.onJobStart(jobStart(4, "other", None))

    val mods = rec.jobsOf(Set("p1-o0", "p1-o1")).map { case (j, m) => j.jobId -> m }.toMap
    assert(mods == Map(0 -> Some("dq"), 1 -> Some(Attribution.Action), 2 -> None,
      3 -> Some("util")))
    assert(rec.open == 1, "job 4 never ended")
    assert(Layers.layer(mods(1), "pipeline") == "pipeline")
    assert(Layers.layer(mods(0), "pipeline") == "dq")
    assert(Layers.layer(mods(2), "analytics") == "unattributed")
  }
}
