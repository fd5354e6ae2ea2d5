package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Declared
import graft.functions.GraftFunctions
import graft.io.Tables
import graft.util.Det

/** Bottom-k uniform-sample sketch — the MERGEABLE quantile summary that
  * completes the mergeable tier (KMV = distinct count, HLL = registers,
  * theta = set algebra, CMS = frequency; this = rank statistics). A slice's
  * sketch is its k rows with the smallest row-key md5; because "k smallest
  * by a fixed hash" is an associative selection, the bottom-k of the UNION
  * of per-slice sketches is EXACTLY the dataset's global bottom-k — so
  * per-shipyear sketches merge into the same sample a direct global pass
  * builds, no re-scan. That law is what the gate proves: Spark emits the
  * MERGED route (slice sketches → union → re-select), the oracle computes
  * the DIRECT global bottom-k; they hash-match iff merge ≡ direct, the
  * [[Hll]]/[[graft.analytics.Sketch]] proof pattern applied to sampling.
  *
  * The sample is uniform over rows (the hash key is the unique
  * (orderkey, linenumber) row id, not the value), so the merged sketch's
  * empirical quantiles estimate the true quantiles with the usual
  * k^-1/2 rank error — the per-partition summary a 100 TB store ships to a
  * coordinator for cross-partition percentiles (the t-digest/KLL deployment
  * shape, with determinism instead of randomized compaction).
  *
  * Scale shape: per-slice sketches via the native bounded `top_k_rows`
  * aggregate (ord = negated hash ⇒ keeps the k SMALLEST hashes; map-side
  * partial heaps mean the one exchange carries O(slices × k) rows no
  * matter how many billions went in), then a single-group re-selection
  * over the slices×k-row union — coordinator-sized by construction. The
  * exact n_total rides the same slice aggregate; no second scan.
  */
object BottomK {

  /** Sketch size: rank error ~ 1/√k ≈ 3% of rank at k = 1024. */
  val SketchK = 1024

  private def rowHash(ok: org.apache.spark.sql.Column,
                      ln: org.apache.spark.sql.Column) =
    conv(substring(md5(concat(ok.cast("string"), lit(":"),
      ln.cast("string"))), 1, 13), 16, 10).cast("long")

  def quantileMerge(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    GraftFunctions.register(spark)
    val base = Tables.lineitem(spark, dir)
      .select(year(to_date($"l_shipdate")).as("y"),
        Det.cents($"l_extendedprice").as("cents"),
        rowHash($"l_orderkey", $"l_linenumber").as("h"))
    // Per-slice sketch: k smallest hashes (ord = -h keeps smallest; ties
    // by cents ASC — the same (h, cents) order the oracle's window uses).
    val slices = base.groupBy($"y")
      .agg(call_function("top_k_rows", -$"h", $"cents", lit(SketchK)).as("sk"),
        count(lit(1)).as("n_slice"))
    // count(y), not count(*): one row per group means this counts the
    // NON-NULL slice keys — the oracle's count(DISTINCT y) semantics. A
    // NULL/unparseable-shipdate group would otherwise count as a slice on
    // the Spark side only (its rows still belong in n_total and the
    // sketch, matching the oracle's ungated base scan).
    val totals = slices.agg(sum($"n_slice").as("n_total"),
      count($"y").as("n_slices"))
    // Merge: union the slice samples, re-select the global bottom-k. The
    // input here is slices×k rows — coordinator-sized.
    val merged = slices
      .select(explode($"sk").as("p"))
      .agg(call_function("top_k_rows", $"p.ord", $"p.tag", lit(SketchK)).as("sk"))
      .select(explode($"sk").as("p"))
      .select((-$"p.ord").as("h"), $"p.tag".as("cents"))
    // Quantile picks over the k-row sample, ordered by (cents, h) — the
    // sample frame is k rows, so the single-partition window is bounded by
    // construction (the quantileSample anti-pattern does NOT apply).
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy($"cents", $"h")
    val est = merged
      .select($"cents", row_number().over(w).as("rn"),
        count(lit(1)).over(Window.partitionBy()).as("k"))
      .groupBy()
      .agg(max($"k").as("k_sketch"),
        max(when($"rn" === floor(($"k" + 1) / 2.0), $"cents")).as("p50_est"),
        max(when($"rn" === floor(($"k" * 9 + 9) / 10.0), $"cents")).as("p90_est"),
        max(when($"rn" === floor(($"k" * 99 + 99) / 100.0), $"cents")).as("p99_est"))
    est.crossJoin(broadcast(totals))
      .select($"n_total", $"n_slices", $"k_sketch",
        $"p50_est", $"p90_est", $"p99_est")
  }

  val quantileMergeSql: String =
    s"""WITH base AS (
       | SELECT year(CAST(l_shipdate AS DATE)) AS y,
       |  CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
       |  CAST(CAST('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || ':' ||
       |    CAST(l_linenumber AS VARCHAR)), 1, 13) AS BIGINT) AS BIGINT) AS h
       | FROM lineitem),
       |tot AS (SELECT count(*) AS n_total, count(DISTINCT y) AS n_slices
       |        FROM base),
       |direct AS (
       | SELECT cents, h,
       |  row_number() OVER (ORDER BY h, cents) AS rn_h
       | FROM base),
       |sample AS (SELECT cents, h FROM direct WHERE rn_h <= $SketchK),
       |ranked AS (
       | SELECT cents, row_number() OVER (ORDER BY cents, h) AS rn,
       |  count(*) OVER () AS k
       | FROM sample),
       |est AS (
       | SELECT max(k) AS k_sketch,
       |  max(CASE WHEN rn = floor((k + 1) / 2.0) THEN cents END) AS p50_est,
       |  max(CASE WHEN rn = floor((k * 9 + 9) / 10.0) THEN cents END) AS p90_est,
       |  max(CASE WHEN rn = floor((k * 99 + 99) / 100.0) THEN cents END) AS p99_est
       | FROM ranked)
       |SELECT n_total, CAST(n_slices AS BIGINT) AS n_slices, k_sketch,
       | p50_est, p90_est, p99_est
       |FROM est, tot""".stripMargin

  val declared: Seq[Declared] = Seq(
    Declared("x_quantile_merge", quantileMerge, Some(quantileMergeSql)))
}
