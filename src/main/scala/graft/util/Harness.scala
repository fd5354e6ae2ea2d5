package graft.util

import org.apache.spark.sql.SparkSession

/** The one local SparkSession the mains (`graft.Bench`, `graft.Verify`
  * and every `graft.tools` main) run on, so each harness setting is
  * decided in one place.
  */
object Harness {

  /** `SPARK_GRAFT_CPUS` when set, else every core this JVM can see. */
  def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `local[cpus]` with one shuffle partition per core, UTC session time
    * and no UI, plus `conf` on top (e.g. AQE off for a compile-time plan
    * audit). Log level WARN.
    */
  def session(cpus: Int = defaultCpus,
      conf: Map[String, String] = Map.empty): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Even with the UI off, SQLAppStatusListener retains up to 1000
      // executions' full plan graphs + metric maps; across a 150-query
      // suite that is real old-gen pressure inside later queries' measured
      // windows (observed: x_pagerank 4.6 s isolated vs 8.2 s mid-suite).
      .config("spark.sql.ui.retainedExecutions", "1")
      // The CodeGenerator class cache defaults to 100 entries against a
      // 250-query suite x 2-3 runs each (~750 plan executions, far more
      // distinct codegen units): every run past the first hundred evicts
      // and Janino-recompiles inside the measured window, and the churned
      // generated classes pile into the old gen until a full GC can unload
      // them — the accumulation regime BENCH_NOTES #31 measured (pass-2
      // x_pagerank 4.0 -> 13.1 s on IDENTICAL code) and the round-7 full-suite
      // run hit as steady state. 5000 entries holds every generated class
      // for the whole suite: compile once on the warmup/first run, hit
      // cache forever after. Static conf — must be set before the session
      // exists, which is why it lives here and not per-query.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
    val spark = conf.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
