package graft.io

import scala.concurrent.{Await, TimeoutException}
import scala.concurrent.duration._

import org.apache.spark.sql.{DataFrame, Observation, Row}
import org.apache.spark.sql.functions._

/** Pipeline observability via `Dataset.observe`: named metrics computed
  * DURING a job's existing pass over the data — no second scan, no extra
  * action. At 100 TB a separate "count the rows we just wrote" job re-reads
  * the output; observed metrics ride the write itself.
  *
  * Usage: wrap the frame, run ONE action on it, then read the metrics.
  *
  *   val (df, m) = Observed.rowStats(frame, "ingest")
  *   df.write.parquet(out)
  *   val rows = m("n_rows")   // filled once the action has finished
  */
object Observed {

  /** Attach standard row metrics (count + per-column null counts for the
    * given columns) under `name`; returns the wrapped frame and a handle
    * that resolves after the next action on it.
    */
  def rowStats(df: DataFrame, name: String, nullCols: Seq[String] = Nil)
      : (DataFrame, MetricsHandle) = {
    val exprs = count(lit(1)).as("n_rows") +:
      nullCols.map(c => sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"n_null_$c"))
    val obs = Observation(name)
    (df.observe(obs, exprs.head, exprs.tail: _*), new MetricsHandle(obs))
  }

  /** The metrics row of `obs`, which Spark fills when an action on the
    * observed frame succeeds; waits up to `timeoutMs` for it. Throws if it
    * never arrives — a missing metric must not read as zero.
    */
  def metrics(obs: Observation, timeoutMs: Long = 10000): Row =
    try Await.result(obs.future, timeoutMs.millis)
    catch {
      case _: TimeoutException => throw new IllegalStateException(
        s"observed metrics '${obs.name}' not delivered within ${timeoutMs}ms — did an action run?")
    }

  /** One observation's metrics, read by name. */
  final class MetricsHandle(obs: Observation) {
    def apply(metric: String, timeoutMs: Long = 10000): Any =
      metrics(obs, timeoutMs).getAs[Any](metric)
  }
}
