package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Declared
import graft.analytics.PrefixSum
import graft.io.Tables
import graft.util.Select

/** Ranking-model evaluation at scale: exact AUC (Mann–Whitney form) and a
  * calibration/lift table for a declared scorer — the eval tier of the
  * embedding pipeline ([[Similarity]] builds representations,
  * [[AnnMulti]] measures recall of the INDEX; this measures the quality
  * of a SCORE, which is what a curation classifier or reranker ships).
  *
  * The declared scorer is fully deterministic and oracle-expressible:
  * score(v) = ⟨int8(v), Σ int8(u) over positives⟩ — the int8 dot of each
  * vector with the UNNORMALIZED integer centroid of the positive class
  * ([[Similarity.quantize8]] idiom, exact long arithmetic end-to-end).
  * AUC then needs each vector's GLOBAL rank — produced by
  * [[PrefixSum.globalRunningSum]] (range exchange + parallel local
  * windows), never a single-partition `row_number() OVER (ORDER BY …)`.
  * Ties rank by (score, vec_id) — rank-order AUC, declared; with the
  * fixture's scores, ties are measure-zero.
  *
  * AUC = (Σ ranks(pos) − nPos(nPos+1)/2) / (nPos·nNeg), emitted as exact
  * integer ppm. The ppm product goes through DECIMAL(38,0) (integral
  * `div` on decimals still returns BIGINT, so the declared schema stays
  * long): in pure longs U·10⁶ overflows past nPos·nNeg ≈ 9.2e12 (~3e6
  * balanced rows) — a ceiling the round-9 `evalstress` corpus (16.8M
  * rows, nPos·nNeg ≈ 5.3e13) sits well past; the decimal path is
  * closed-form-verified there and hash-unchanged at fixture scale.
  */
object Eval {

  val PosLabel = 0

  /** Dimension ceiling for [[scored]]'s unrolled dot product: past this,
    * the literal expression tree would bloat the plan and the
    * posexplode+join form is the better trade (it is also the oracle's
    * formulation either way).
    */
  val UnrollDims = 512

  /** (vec_id, label, exact integer score) for every vector.
    *
    * Round 14: the centroid is dims-bounded, so it collects (≤ dims
    * rows — the audited bounded-collect class) and the per-vector dot
    * unrolls into a literal codegen'd sum `Σ q[d]·cv(d)` — a MAP-ONLY
    * scorer. The previous form posexploded every vector (×dims row
    * inflation) and re-aggregated through a hash exchange on vec_id —
    * 64× the corpus through a shuffle to compute a per-row expression.
    * A `transform`/`aggregate` HOF would also be map-only but runs
    * interpreted (the BENCH_NOTES #64 JIT-storm shape); the literal
    * tree stays inside whole-stage codegen. Falls back to the
    * posexplode+join form past [[UnrollDims]] dims.
    *
    * Measured trade at sf0.1 (2k vectors): the centroid collect is one
    * extra SEQUENTIAL driver job, ≈ +0.2–0.3 s per consumer locally
    * (interleaved A/B, x_auc 1.3 → 1.55 s) — the local job floor, not
    * data. At scale both forms scan twice (centroid + scorer); only the
    * old one then shuffles dims× the corpus. Adopted for the shape, with
    * the local cost on record (OPTIMIZATION_r14.md).
    */
  private def scored(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val q = Tables.embeddings(spark, dir)
      .select($"vec_id", $"label".cast("long").as("label"),
        Similarity.quantize8($"embedding").as("q"))
    val c0 = q.filter($"label" === PosLabel)
      .select(posexplode($"q").as(Seq("d0", "v")))
      .groupBy(($"d0" + 1).as("d"))
      .agg(sum($"v".cast("long")).as("cv"))
    val cv = c0.orderBy($"d").collect()
      .map(r => (r.getAs[Number](0).longValue, r.getLong(1)))
    if (cv.isEmpty)
      // no positive class: the inner join produced an empty frame
      q.select($"vec_id", $"label", lit(0L).as("score")).where(lit(false))
    else if (cv.length <= UnrollDims && cv.last._1 == cv.length) {
      // dense 1..dims centroid: unrolled exact dot, zero shuffles. The
      // coalesce gives a short vector's missing dims the inner join's
      // contribute-nothing semantics, and the size filter reproduces its
      // drop of zero-dim vectors (posexplode emits no row for them).
      // try_element_at, not element_at: under Spark 4's default ANSI mode
      // a plain element_at THROWS on an index past the array's end, so a
      // corpus vector shorter than the positive-centroid dims would crash
      // the query where the posexplode+inner-join form (and the oracle)
      // score it over its own dims. try_element_at yields NULL there,
      // which the coalesce maps to the join's contribute-nothing 0.
      val dot = cv.map { case (d, c) =>
        coalesce(try_element_at($"q", lit(d.toInt)).cast("long"), lit(0L)) *
          lit(c)
      }.reduce(_ + _)
      q.where(size($"q") > 0).select($"vec_id", $"label", dot.as("score"))
    } else
      q.select($"vec_id", $"label", posexplode($"q").as(Seq("d0", "v")))
        .select($"vec_id", $"label", ($"d0" + 1).as("d"), $"v")
        .join(broadcast(c0), "d")
        .groupBy($"vec_id", $"label")
        .agg(sum($"v".cast("long") * $"cv").as("score"))
  }

  private val scoredCte: String =
    s"""q AS (
       | SELECT vec_id, CAST(label AS BIGINT) AS label,
       |  list_transform(embedding, x ->
       |   CAST(greatest(-127, least(127,
       |     floor(CAST(x AS DOUBLE) * 127.0 + 0.5))) AS BIGINT)) AS q
       | FROM embeddings),
       |c0 AS (
       | SELECT i AS d, CAST(sum(q[i]) AS BIGINT) AS cv
       | FROM q, generate_series(1, 4096) AS t(i)
       | WHERE i <= len(q) AND label = ${PosLabel}
       | GROUP BY i),
       |sc AS (
       | SELECT q.vec_id, q.label,
       |  CAST(sum(q.q[c0.d] * c0.cv) AS BIGINT) AS score
       | FROM q, c0
       | GROUP BY 1, 2)""".stripMargin

  /** x_auc — exact Mann–Whitney AUC of the declared scorer, one row. */
  def auc(spark: SparkSession, dir: String): DataFrame =
    aucOver(scored(spark, dir))

  /** Frame-parametric core over any (vec_id, label, score) frame — the
    * seam the scale stress drives with planted closed-form scores. The
    * ppm arithmetic goes through DECIMAL(38,0) (integral `div` on
    * decimals still returns BIGINT, so the declared schema is unchanged):
    * in pure longs, U·10⁶ overflows past nPos·nNeg ≈ 9.2e12 (~3e6
    * balanced rows), a ceiling the round-9 `evalstress` corpus (16.8M
    * rows, U up to 3.5e13) sits an order of magnitude past.
    *
    * The tie-rank correction n_pos·(n_pos+1)/2 is computed IN decimal —
    * one of the two factors is halved first in BIGINT (one of them is
    * always even, so the halving is exact), then the product widens to
    * DECIMAL(38,0) — so the multiply never touches a long. The remaining
    * ceiling is r_pos_sum's declared-BIGINT sum of ranks, ≈ n·n_pos ≤
    * 9.2e18 (~3e9 balanced rows): a declared-schema bound (the oracle pins
    * r_pos_sum as BIGINT), not an arithmetic shortcut in the ppm path.
    */
  def aucOver(sc: DataFrame): DataFrame = {
    import sc.sparkSession.implicits._
    val ranked = PrefixSum.globalRunningSum(sc.sparkSession, sc,
        struct($"score", $"vec_id"), lit(1L))
      .withColumnRenamed("running", "rnk")
    ranked.agg(
        sum(when($"label" === PosLabel, 1L).otherwise(0L)).as("n_pos"),
        sum(when($"label" =!= PosLabel, 1L).otherwise(0L)).as("n_neg"),
        sum(when($"label" === PosLabel, $"rnk").otherwise(0L)).as("r_pos_sum"))
      .select($"n_pos", $"n_neg", $"r_pos_sum",
        expr("""(CAST(r_pos_sum AS DECIMAL(38,0))
               |  - CASE WHEN n_pos % 2 = 0
               |         THEN CAST(n_pos div 2 AS DECIMAL(38,0)) * (n_pos + 1)
               |         ELSE CAST(n_pos AS DECIMAL(38,0)) * ((n_pos + 1) div 2)
               |    END)
               | * 1000000
               | div (CAST(n_pos AS DECIMAL(38,0)) * n_neg)""".stripMargin)
          .as("auc_ppm"))
  }

  val aucSql: String =
    s"""WITH ${scoredCte},
       |rk AS (
       | SELECT label, row_number() OVER (ORDER BY score, vec_id) AS rnk
       | FROM sc)
       |SELECT
       | CAST(sum(CASE WHEN label = ${PosLabel} THEN 1 ELSE 0 END) AS BIGINT)
       |   AS n_pos,
       | CAST(sum(CASE WHEN label <> ${PosLabel} THEN 1 ELSE 0 END) AS BIGINT)
       |   AS n_neg,
       | CAST(sum(CASE WHEN label = ${PosLabel} THEN rnk ELSE 0 END) AS BIGINT)
       |   AS r_pos_sum,
       | (CAST(sum(CASE WHEN label = ${PosLabel} THEN rnk ELSE 0 END) AS BIGINT)
       |   - CAST(sum(CASE WHEN label = ${PosLabel} THEN 1 ELSE 0 END) AS BIGINT)
       |     * (CAST(sum(CASE WHEN label = ${PosLabel} THEN 1 ELSE 0 END) AS BIGINT) + 1) // 2)
       |  * 1000000
       |  // (CAST(sum(CASE WHEN label = ${PosLabel} THEN 1 ELSE 0 END) AS BIGINT)
       |      * CAST(sum(CASE WHEN label <> ${PosLabel} THEN 1 ELSE 0 END) AS BIGINT))
       |   AS auc_ppm
       |FROM rk""".stripMargin

  /** x_calibration_bins — score-decile lift table: per decile of the
    * score ranking, vector count and positive-class permille (a
    * well-separating scorer concentrates positives in the top deciles —
    * the calibration/lift view a threshold decision reads).
    */
  def calibrationBins(spark: SparkSession, dir: String): DataFrame =
    calibrationBinsOver(scored(spark, dir))

  /** Frame-parametric core of [[calibrationBins]]. Round 14: a decile id
    * only reads which side of nine boundary ranks a row falls — decile >
    * i ⟺ (rnk-1)·10 ≥ i·n ⟺ rnk > ⌈i·n/10⌉ =: Bᵢ — and (score, vec_id)
    * is unique, so the nine boundary KEYS at ranks Bᵢ determine every
    * decile: 1 + #{i : key > Tᵢ}. They come from one keyed
    * [[graft.util.Select]] over ONE pin of the scored frame; tagging is
    * then map-only. The previous form paid [[PrefixSum.globalRunningSum]]
    * — a full range exchange plus its own checkpoint pin — for per-row
    * ranks that collapsed to ten ids.
    */
  def calibrationBinsOver(sc: DataFrame): DataFrame = {
    import sc.sparkSession.implicits._
    import graft.util.Ckpt._
    val base = sc.select($"vec_id", $"label", $"score").ckptDisk()
    def targets(n: Long) = (1 to 9).map(i => (i.toLong * n + 9) / 10) // Bᵢ = ⌈i·n/10⌉
    val sel = Select(base, "score", keys = Seq("vec_id"))(targets)
    val bounds = sel.picks.select($"rank", $"score", $"vec_id")
      .as[(Long, Long, Long)].collect()
      .map(t => t._1 -> (t._2, t._3)).toMap
    // an empty scored frame — [[scored]] yields one on a corpus with no
    // positive class — has no boundaries and aggregates to no rows
    val ks = sel.groups.headOption.fold(Seq.empty[Long])(g => targets(g.n))
    val decile = ks.foldLeft(lit(1L)) { case (acc, k) =>
      val (tv, tc) = bounds(k)
      acc + when($"score" > tv || ($"score" === tv && $"vec_id" > tc), 1L)
        .otherwise(0L)
    }
    base.select(decile.as("decile"), $"label")
      .groupBy($"decile")
      .agg(count(lit(1)).as("n_vecs"),
        sum(when($"label" === PosLabel, 1L).otherwise(0L)).as("n_pos"))
      .select($"decile", $"n_vecs", $"n_pos",
        expr("n_pos * 1000 div n_vecs").as("pos_permille"))
      .orderBy($"decile")
  }

  val calibrationBinsSql: String =
    s"""WITH ${scoredCte},
       |rk AS (
       | SELECT label, row_number() OVER (ORDER BY score, vec_id) AS rnk,
       |  count(*) OVER () AS n_total
       | FROM sc),
       |b AS (
       | SELECT 1 + ((rnk - 1) * 10) // n_total AS decile, label FROM rk)
       |SELECT decile, count(*) AS n_vecs,
       | CAST(sum(CASE WHEN label = ${PosLabel} THEN 1 ELSE 0 END) AS BIGINT)
       |   AS n_pos,
       | CAST(sum(CASE WHEN label = ${PosLabel} THEN 1 ELSE 0 END) AS BIGINT)
       |   * 1000 // count(*) AS pos_permille
       |FROM b GROUP BY 1
       |ORDER BY decile""".stripMargin

  /** x_ks_stat — exact two-sample Kolmogorov–Smirnov distance between the
    * positive and negative score distributions: at every cut point the
    * CDF gap is the cross-multiplied integer
    * |posCum·nNeg − negCum·nPos| (no per-row division), maximized in one
    * aggregate; the rank and the running positive count come out of ONE
    * [[PrefixSum.globalRunningSums]] pass (one range exchange, one pin,
    * one window — chaining single-value passes paid both per statistic;
    * negCum = rank − posCum, free). KS and AUC disagree about WHERE
    * separation lives — KS is the max local gap, AUC the global rank
    * integral — which is why an eval tier carries both.
    */
  def ksStat(spark: SparkSession, dir: String): DataFrame =
    ksStatOver(scored(spark, dir))

  /** Frame-parametric core of [[ksStat]]; same DECIMAL(38,0) ppm headroom
    * upgrade as [[aucOver]] (the per-row cross-multiplied gap stays pure
    * long — it is bounded by nPos·nNeg, which fits until ~9.2e18, far
    * past any driver-collectable frame).
    */
  def ksStatOver(sc: DataFrame): DataFrame = {
    import sc.sparkSession.implicits._
    val base = sc
      .withColumn("is_pos", when($"label" === PosLabel, 1L).otherwise(0L))
    val withPos = PrefixSum.globalRunningSums(sc.sparkSession, base,
      struct($"score", $"vec_id"),
      Seq("rnk" -> lit(1L), "pos_cum" -> $"is_pos"))
    // counts read the pass's checkpointed frame, not a re-execution of
    // the (posexplode-heavy) scored subtree
    val n = withPos.agg(sum($"is_pos").as("n_pos"),
      sum(lit(1L) - $"is_pos").as("n_neg"))
    withPos.crossJoin(broadcast(n))
      .select($"n_pos", $"n_neg",
        abs($"pos_cum" * $"n_neg" - ($"rnk" - $"pos_cum") * $"n_pos").as("gap"))
      .groupBy($"n_pos", $"n_neg")
      .agg(max($"gap").as("max_gap"))
      .select($"n_pos", $"n_neg", $"max_gap",
        expr("""CAST(max_gap AS DECIMAL(38,0)) * 1000000
               | div (CAST(n_pos AS DECIMAL(38,0)) * n_neg)""".stripMargin)
          .as("ks_ppm"))
  }

  val ksStatSql: String =
    s"""WITH ${scoredCte},
       |rk AS (
       | SELECT label,
       |  row_number() OVER (ORDER BY score, vec_id) AS rnk,
       |  sum(CASE WHEN label = ${PosLabel} THEN 1 ELSE 0 END)
       |    OVER (ORDER BY score, vec_id
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pos_cum
       | FROM sc),
       |n AS (
       | SELECT CAST(sum(CASE WHEN label = ${PosLabel} THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
       |  CAST(sum(CASE WHEN label <> ${PosLabel} THEN 1 ELSE 0 END) AS BIGINT) AS n_neg
       | FROM sc),
       |g AS (
       | SELECT n.n_pos, n.n_neg,
       |  max(abs(CAST(pos_cum AS BIGINT) * n.n_neg
       |          - (rnk - CAST(pos_cum AS BIGINT)) * n.n_pos)) AS max_gap
       | FROM rk, n GROUP BY 1, 2)
       |SELECT n_pos, n_neg, CAST(max_gap AS BIGINT) AS max_gap,
       | CAST(max_gap AS BIGINT) * 1000000 // (n_pos * n_neg) AS ks_ppm
       |FROM g""".stripMargin

  val declared: Seq[Declared] = Seq(
    Declared("x_auc", auc, Some(aucSql)),
    Declared("x_calibration_bins", calibrationBins, Some(calibrationBinsSql)),
    Declared("x_ks_stat", ksStat, Some(ksStatSql)))
}
