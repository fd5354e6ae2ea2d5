package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Declared
import graft.io.Tables

/** Deterministic HyperLogLog — the fixed-size mergeable cardinality state.
  *
  * [[Sketch]]'s KMV is this library's first distinct-count sketch; HLL is
  * the second, and the one production engines actually ship (Spark's
  * `approx_count_distinct`, DuckDB's `approx_count_distinct` — both
  * engine-private and therefore useless under a cross-engine hash gate).
  * This is HLL built from public primitives so every step is bit-identical
  * in any engine: md5 → register index (first 8 hash bits) + 52-bit
  * suffix; rho = leading-zero count of the suffix + 1 computed from the
  * BINARY-STRING LENGTH of the integer (`bin()` renders a positive long
  * identically everywhere — no floating log2); registers = `max(rho)`
  * per index — a plain partial+final aggregate; the harmonic-mean
  * denominator Σ 2^(−r) kept EXACT by scaling to 2^53 (integer shifts,
  * never float summation whose order Spark does not pin); one final IEEE
  * division producing the estimate.
  *
  * Why both sketches: KMV keeps k VALUES (k rows of state, estimate from
  * the kth minimum); HLL keeps m=256 4-bit-ish REGISTERS (one fixed-size
  * row of state regardless of cardinality) and merges by element-wise max
  * — the shape you pre-aggregate per partition/day/source and fold at
  * 100 TB without ever rescanning. [[hllMerge]] proves that property on
  * real per-source sketches: max-merged registers are IDENTICAL to the
  * directly-built global registers, so the merged estimate is exactly the
  * direct estimate.
  *
  * Standard HLL applies a linear-counting correction below ~2.5m and a
  * large-range correction near 2^32; both need `ln` (libm — engine-
  * dependent last bits), so this implementation emits the RAW estimator
  * plus the zero-register count `m_zero` that the correction would key on,
  * and documents the regime instead: the gated fixtures sit well above
  * 2.5·256 = 640 distinct keys, where the raw estimator is the right one.
  * Expected relative error is 1.04/√256 ≈ 6.5%.
  */
object Hll {

  /** Register count m = 2^8: index = first 2 hex chars of the md5. */
  val M = 256

  /** Raw-estimator bias constant α₂₅₆ = 0.7213/(1 + 1.079/m), times m²,
    * times the 2^53 denominator scale — folded into ONE double literal so
    * both engines parse the identical constant and perform a single
    * division at query time.
    */
  val AlphaM2Scale: Double =
    0.7213 / (1.0 + 1.079 / 256.0) * 65536.0 * 9007199254740992.0

  /** Per-key (register index j, rank rho) projection of an md5-hashed key
    * column: j from hash bits 0–7, rho = leading zeros of the 52-bit
    * suffix + 1 ∈ [1, 53]. Public because the SAME projection feeds the
    * streaming register maintenance (`groupBy(j).agg(max(rho))` is a
    * standard incremental streaming aggregate — the sketch state updates
    * per micro-batch with no custom state store; HllStreamParitySpec pins
    * stream ≡ batch registers).
    */
  def jRho(hashCol: String): Seq[org.apache.spark.sql.Column] = {
    val w = conv(substring(col(hashCol), 3, 13), 16, 10).cast("long")
    Seq(
      conv(substring(col(hashCol), 1, 2), 16, 10).cast("long").as("j"),
      when(w === 0L, lit(53L))
        .otherwise(lit(53L) - length(bin(w)).cast("long")).as("rho"))
  }

  /** SQL twin of [[jRho]] over a hash column named h. */
  private def jRhoSql: String =
    """SELECT CAST('0x' || substr(h, 1, 2) AS BIGINT) AS j,
      |  CASE WHEN CAST('0x' || substr(h, 3, 13) AS BIGINT) = 0 THEN 53
      |   ELSE 53 - length(bin(CAST('0x' || substr(h, 3, 13) AS BIGINT)))
      |  END AS rho""".stripMargin

  /** Scaled harmonic denominator over a register frame (j, r):
    * Z·2^53 = Σ_hit 2^(53−r) + (m − hit)·2^53 — exact long arithmetic,
    * max 256·2^53 = 2^61, no float sum anywhere. Public for the stress
    * harness, which runs the identical arithmetic at corpus sizes the
    * gated fixtures don't reach.
    */
  def zScaled(regs: DataFrame): DataFrame =
    regs.agg(
      count(lit(1)).as("m_hit"),
      sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(53 - r AS INT))")).as("z_hit"))
      .select(col("m_hit"),
        (col("z_hit") + (lit(M.toLong) - col("m_hit")) *
          lit(9007199254740992L)).as("z_scaled"))

  /** x_hll_distinct — HLL estimate of |distinct l_orderkey| beside the
    * exact count: m, registers hit, zero registers, the exact scaled
    * denominator, the estimate, and the signed relative error.
    */
  def hllDistinct(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // Widen the key projection before the md5 chain: the fixture scan is
    // one task, so the whole per-row hash derivation serialized on one
    // core (measured 1.9 s of the 2.1 s wall). Both the register build
    // and the exact count consume the SAME widened frame — ReuseExchange
    // collapses them to one scan + one narrow exchange.
    val keys = graft.util.Widen(
      Tables.lineitem(spark, dir).select($"l_orderkey"), $"l_orderkey")
    val regs = keys
      .select(md5($"l_orderkey".cast("string")).as("h"))
      .select(jRho("h"): _*)
      .groupBy($"j").agg(max($"rho").as("r"))
    val z = zScaled(regs)
    val exact = keys
      .agg(countDistinct($"l_orderkey").as("n_exact"))
    z.crossJoin(exact)
      .select(
        lit(M.toLong).as("m"), $"m_hit",
        (lit(M.toLong) - $"m_hit").as("m_zero"),
        $"z_scaled",
        (lit(AlphaM2Scale) / $"z_scaled".cast("double")).as("estimate"),
        $"n_exact")
      .select($"m", $"m_hit", $"m_zero", $"z_scaled", $"estimate", $"n_exact",
        (($"estimate" - $"n_exact".cast("double")) /
          $"n_exact".cast("double")).as("rel_err"))
  }

  val hllDistinctSql: String =
    s"""WITH hashed AS (
       | SELECT md5(CAST(l_orderkey AS VARCHAR)) AS h FROM lineitem),
       |jr AS ($jRhoSql FROM hashed),
       |regs AS (SELECT j, max(rho) AS r FROM jr GROUP BY j),
       |z AS (
       | SELECT CAST(count(*) AS BIGINT) AS m_hit,
       |  CAST(sum(CAST(1 AS BIGINT) << CAST(53 - r AS INTEGER))
       |    + ($M - count(*)) * CAST(9007199254740992 AS BIGINT) AS BIGINT)
       |    AS z_scaled
       | FROM regs),
       |ex AS (SELECT count(DISTINCT l_orderkey) AS n_exact FROM lineitem)
       |SELECT CAST($M AS BIGINT) AS m, m_hit,
       | CAST($M AS BIGINT) - m_hit AS m_zero, z_scaled,
       | $AlphaM2Scale / CAST(z_scaled AS DOUBLE) AS estimate, n_exact,
       | ($AlphaM2Scale / CAST(z_scaled AS DOUBLE) - CAST(n_exact AS DOUBLE))
       |   / CAST(n_exact AS DOUBLE) AS rel_err
       |FROM z, ex""".stripMargin

  /** x_hll_merge — mergeability proof on real per-source sketches: build
    * one 256-register sketch per document source over CONTENT hashes
    * (md5(text) — cross-source duplicates collapse, so the union is not
    * the sum), max-merge the per-source register frames into the ALL
    * sketch, and emit one row per source plus ALL with estimate, exact
    * distinct-content count, and error permille. The ALL row's registers
    * come from the MERGE (max over per-source maxes), never from a second
    * corpus scan — the 100 TB fold.
    */
  def hllMerge(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // ONE corpus scan: every downstream consumer derives from the distinct
    // (source, h) substrate (ScanAudit round 14 — the register aggregate
    // and the exact-count eval side each re-scanned and re-hashed the text
    // before). Dedup cannot change the registers (max rho is idempotent
    // under duplicates; j/rho are deterministic in h), and the exact side
    // needs exactly this distinct. ckptDisk-materialized, not just shared
    // at plan level: the three consumers prune/rewrite the distinct
    // differently (column pruning drops `source` on the ALL-row path),
    // forking the subtrees back into separate corpus scans (measured).
    // The pinned frame is one (source, content-hash) row per distinct
    // text per source — never the text itself.
    import graft.util.Ckpt.CkptOps
    val hashed = Tables.documents(spark, dir)
      .select($"source", md5($"text").as("h")).distinct().ckptDisk()
    val perSrcRegs = hashed
      .select((col("source") +: jRho("h")): _*)
      .groupBy($"source", $"j").agg(max($"rho").as("r"))
    // The merge: element-wise max of the per-source registers. Associative
    // + commutative, so any partial-aggregation tree gives these bits.
    val mergedRegs = perSrcRegs.groupBy($"j").agg(max($"r").as("r"))
      .select(lit("ALL").as("source"), $"j", $"r")
    val allRegs = perSrcRegs.select($"source", $"j", $"r").union(mergedRegs)
    val z = allRegs.groupBy($"source").agg(
      count(lit(1)).as("m_hit"),
      sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(53 - r AS INT))")).as("z_hit"))
      .select($"source", $"m_hit",
        ($"z_hit" + (lit(M.toLong) - $"m_hit") *
          lit(9007199254740992L)).as("z_scaled"))
    // hashed is already the distinct (source, h) substrate; the ALL row
    // still needs its own distinct over h (cross-source duplicates
    // collapse), but over the deduped substrate, not the corpus.
    val exact = hashed
      .groupBy($"source").agg(count(lit(1)).as("n_exact"))
      .union(hashed.select($"h").distinct()
        .agg(count(lit(1)).as("n_exact")).select(lit("ALL").as("source"), $"n_exact"))
    z.join(exact, "source")
      .select($"source", $"m_hit",
        (lit(AlphaM2Scale) / $"z_scaled".cast("double")).as("estimate"),
        $"n_exact")
      // floor, not cast: Spark's double→long cast truncates toward zero
      // while DuckDB's CAST rounds half-even — floor is the one narrowing
      // both engines agree on bit-for-bit.
      .select($"source", $"m_hit", $"estimate", $"n_exact",
        floor((($"estimate" - $"n_exact".cast("double")) * 1000.0) /
          $"n_exact".cast("double")).cast("long").as("err_permille"))
      .orderBy($"source")
  }

  val hllMergeSql: String =
    s"""WITH hashed AS (SELECT source, md5(text) AS h FROM documents),
       |jr AS (
       | SELECT source, CAST('0x' || substr(h, 1, 2) AS BIGINT) AS j,
       |  CASE WHEN CAST('0x' || substr(h, 3, 13) AS BIGINT) = 0 THEN 53
       |   ELSE 53 - length(bin(CAST('0x' || substr(h, 3, 13) AS BIGINT)))
       |  END AS rho
       | FROM hashed),
       |per_src AS (SELECT source, j, max(rho) AS r FROM jr GROUP BY 1, 2),
       |merged AS (SELECT 'ALL' AS source, j, max(r) AS r FROM per_src GROUP BY 2),
       |all_regs AS (SELECT * FROM per_src UNION ALL SELECT * FROM merged),
       |z AS (
       | SELECT source, CAST(count(*) AS BIGINT) AS m_hit,
       |  CAST(sum(CAST(1 AS BIGINT) << CAST(53 - r AS INTEGER))
       |    + ($M - count(*)) * CAST(9007199254740992 AS BIGINT) AS BIGINT)
       |    AS z_scaled
       | FROM all_regs GROUP BY 1),
       |ex AS (
       | SELECT source, CAST(count(DISTINCT h) AS BIGINT) AS n_exact
       | FROM hashed GROUP BY 1
       | UNION ALL
       | SELECT 'ALL', CAST(count(DISTINCT h) AS BIGINT) FROM hashed)
       |SELECT z.source, z.m_hit,
       | $AlphaM2Scale / CAST(z.z_scaled AS DOUBLE) AS estimate, ex.n_exact,
       | CAST(floor((($AlphaM2Scale / CAST(z.z_scaled AS DOUBLE)
       |   - CAST(ex.n_exact AS DOUBLE)) * 1000.0)
       |   / CAST(ex.n_exact AS DOUBLE)) AS BIGINT) AS err_permille
       |FROM z JOIN ex ON z.source = ex.source
       |ORDER BY z.source""".stripMargin

  val declared: Seq[Declared] = Seq(
    Declared("x_hll_distinct", hllDistinct, Some(hllDistinctSql)),
    Declared("x_hll_merge", hllMerge, Some(hllMergeSql)))
}
