package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

/** Host record of a run, so a slow run can be traced to the host. */
object Host {

  final case class Probe(epochMs: Long, loadAvg: String, cpuMiniMs: Long)

  private def read(path: String): Option[String] =
    try Some(new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))).trim)
    catch { case scala.util.control.NonFatal(_) => None }

  /** Load average and one `graft.util.CpuProbe` mini reading, taken now. */
  def probe(): Probe =
    Probe(System.currentTimeMillis(), read("/proc/loadavg").getOrElse(""),
      graft.util.CpuProbe.miniMs())

  /** Peak resident set size of this process in MiB (VmHWM), or -1. */
  def rssPeakMb(): Double =
    read("/proc/self/status").flatMap(_.linesIterator.find(_.startsWith("VmHWM:")))
      .map(_.replaceAll("[^0-9]", "").toLong / 1024.0).getOrElse(-1.0)

  def record(before: Probe, after: Probe): Map[String, Any] = {
    val rt = Runtime.getRuntime
    def p(x: Probe) = Map("epoch_ms" -> x.epochMs, "loadavg" -> x.loadAvg,
      "cpu_probe_mini_ms" -> x.cpuMiniMs,
      "cpu_probe_hot" -> graft.util.CpuProbe.miniHot(x.cpuMiniMs))
    Map(
      "nproc" -> rt.availableProcessors(),
      "probe_before" -> p(before), "probe_after" -> p(after),
      "heap_max_mb" -> rt.maxMemory() / (1 << 20),
      "heap_committed_mb" -> rt.totalMemory() / (1 << 20),
      "rss_peak_mb" -> rssPeakMb(),
      "jvm" -> System.getProperty("java.vm.version"),
      "jvm_flags" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq
        .filterNot(_.startsWith("--add-opens")))
  }
}
