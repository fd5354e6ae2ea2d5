package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Declared
import graft.io.Tables
import graft.llm.Tokens
import graft.util.Ckpt._
import graft.util.Select

/** Cardinality sketching that survives a cross-engine hash gate.
  *
  * HLL-family sketches (Spark's `approx_count_distinct`, DuckDB's
  * `approx_count_distinct`) give engine-dependent estimates — useless when
  * results must be reproducible across engines or runs. K-Minimum-Values
  * is the deterministic alternative: hash every key with md5 (identical
  * everywhere), keep the k smallest DISTINCT hash values, and estimate
  * |D| ≈ (k−1)/u_k where u_k is the kth minimum as a fraction of the hash
  * space. Every step — md5, lexicographic hex order, exact integer parse,
  * one IEEE division — is bit-identical in any engine.
  *
  * Scale path: "k smallest values" is exactly Spark's TakeOrdered pattern —
  * each partition keeps its local k minima, the driver merges k·P values.
  * The sketch is MERGEABLE (union of KMV sets, re-truncated to k, is the
  * KMV of the union), so per-partition/per-day sketches compose into a
  * corpus-wide estimate without rescanning — the property that matters at
  * 100 TB, where the exact `count(DISTINCT)` this query also emits for
  * comparison would be a full shuffle of every key.
  */
object Sketch {

  val K = 256
  /** 16^13 = 2^52: 13 hex chars parse exactly into both long and double. */
  val HashSpace: Double = 4503599627370496.0

  /** x_kmv_distinct — KMV estimate of |distinct l_orderkey| side-by-side
    * with the exact count. One row: k, the kth-minimum hash, the estimate,
    * the exact cardinality, and the signed relative error.
    */
  def kmvDistinct(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // Widened key projection (see [[graft.util.Widen]]): both the sketch
    // and the exact count consume one widened frame — ReuseExchange gives
    // one scan + one narrow exchange, and the per-key md5 runs full-width.
    val li = graft.util.Widen(
      Tables.lineitem(spark, dir).select($"l_orderkey"), $"l_orderkey")
    val kth = li
      .select(substring(md5($"l_orderkey".cast("string")), 1, 13).as("h13"))
      .distinct()
      .orderBy($"h13")
      .limit(K)
      .agg(max($"h13").as("kth_hash"), count(lit(1)).as("k"))
    val exact = li.agg(countDistinct($"l_orderkey").as("n_exact"))
    // A non-full sketch (k < K) holds EVERY distinct hash, so the sketch
    // size IS the exact cardinality; the (k-1)·S/kth extrapolation only
    // applies once the sketch truncates. Standard KMV, and it removes
    // avoidable error at small slices.
    kth.crossJoin(exact)
      .select(
        $"k", $"kth_hash", $"n_exact",
        when($"k" < K, $"k".cast("double"))
          .otherwise(($"k".cast("double") - 1.0) * lit(HashSpace) /
            conv($"kth_hash", 16, 10).cast("long").cast("double")).as("estimate"))
      .select($"k", $"kth_hash", $"n_exact", $"estimate",
        (($"estimate" - $"n_exact".cast("double")) / $"n_exact".cast("double")).as("rel_err"))
  }

  val kmvDistinctSql: String =
    s"""WITH h AS (
       | SELECT DISTINCT substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 13) AS h13
       | FROM lineitem),
       |topk AS (SELECT h13 FROM h ORDER BY h13 LIMIT $K),
       |kth AS (SELECT max(h13) AS kth_hash, CAST(count(*) AS BIGINT) AS k FROM topk),
       |ex AS (SELECT count(DISTINCT l_orderkey) AS n_exact FROM lineitem),
       |est AS (
       | SELECT kth.k, kth.kth_hash, ex.n_exact,
       |  CASE WHEN kth.k < $K THEN CAST(kth.k AS DOUBLE)
       |   ELSE (CAST(kth.k AS DOUBLE) - 1.0) * $HashSpace /
       |    CAST(CAST('0x' || kth.kth_hash AS BIGINT) AS DOUBLE) END AS estimate
       | FROM kth, ex)
       |SELECT k, kth_hash, n_exact, estimate,
       | (estimate - CAST(n_exact AS DOUBLE)) / CAST(n_exact AS DOUBLE) AS rel_err
       |FROM est""".stripMargin

  /** x_kmv_merge — the MERGEABILITY proof for the KMV sketch, the property
    * that makes it a distributed-systems primitive (HLL's reason to exist,
    * done deterministically): build one K-row sketch per event slice
    * (viewers, purchasers), then estimate the UNION cardinality from the
    * two sketches ALONE — k smallest of the combined 2K hashes, never
    * re-touching the raw data — and the intersection by inclusion-
    * exclusion. Emitted against the exact counts, so the gate pins the
    * estimator AND the fixture documents its real error. The union
    * estimate is what a 1000-executor rollup ships to the driver: K rows
    * per partition, merged associatively.
    */
  def kmvMerge(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.events(spark, dir)
    def sketch(t: String): DataFrame = e.filter($"event_type" === t)
      .select(substring(md5($"user_id".cast("string")), 1, 13).as("h13"))
      .distinct().orderBy($"h13").limit(K)
    def estimate(sk: DataFrame): DataFrame = sk
      .agg(max($"h13").as("kth"), count(lit(1)).as("k"))
      .select(when($"k" < K, $"k".cast("double"))
        .otherwise(($"k".cast("double") - 1.0) * lit(HashSpace) /
          conv($"kth", 16, 10).cast("long").cast("double")).as("est"))
    val sa = sketch("view").ckptDisk()
    val sb = sketch("purchase").ckptDisk()
    // union sketch = merge of the two SKETCHES (k smallest of their union)
    val su = sa.union(sb).distinct().orderBy($"h13").limit(K)
    val exact = e.filter($"event_type".isin("view", "purchase"))
      .agg(
        countDistinct(when($"event_type" === "view", $"user_id")).as("exact_a"),
        countDistinct(when($"event_type" === "purchase", $"user_id")).as("exact_b"),
        countDistinct($"user_id").as("exact_union"))
    exact
      .crossJoin(broadcast(estimate(sa).select($"est".as("est_a"))))
      .crossJoin(broadcast(estimate(sb).select($"est".as("est_b"))))
      .crossJoin(broadcast(estimate(su).select($"est".as("est_union"))))
      .withColumn("est_inter", $"est_a" + $"est_b" - $"est_union")
  }

  val kmvMergeSql: String =
    s"""WITH ha AS (
       | SELECT DISTINCT substr(md5(CAST(user_id AS VARCHAR)), 1, 13) AS h13
       | FROM events WHERE event_type = 'view'),
       |hb AS (
       | SELECT DISTINCT substr(md5(CAST(user_id AS VARCHAR)), 1, 13) AS h13
       | FROM events WHERE event_type = 'purchase'),
       |sa AS (SELECT h13 FROM ha ORDER BY h13 LIMIT $K),
       |sb AS (SELECT h13 FROM hb ORDER BY h13 LIMIT $K),
       |su AS (SELECT h13 FROM (
       |  SELECT DISTINCT h13 FROM (SELECT h13 FROM sa UNION ALL SELECT h13 FROM sb))
       | ORDER BY h13 LIMIT $K),
       |ea AS (SELECT CASE WHEN count(*) < $K THEN CAST(count(*) AS DOUBLE)
       |  ELSE (CAST(count(*) AS DOUBLE) - 1.0) * $HashSpace /
       |   CAST(CAST('0x' || max(h13) AS BIGINT) AS DOUBLE) END AS est_a FROM sa),
       |eb AS (SELECT CASE WHEN count(*) < $K THEN CAST(count(*) AS DOUBLE)
       |  ELSE (CAST(count(*) AS DOUBLE) - 1.0) * $HashSpace /
       |   CAST(CAST('0x' || max(h13) AS BIGINT) AS DOUBLE) END AS est_b FROM sb),
       |eu AS (SELECT CASE WHEN count(*) < $K THEN CAST(count(*) AS DOUBLE)
       |  ELSE (CAST(count(*) AS DOUBLE) - 1.0) * $HashSpace /
       |   CAST(CAST('0x' || max(h13) AS BIGINT) AS DOUBLE) END AS est_union FROM su),
       |ex AS (
       | SELECT
       |  count(DISTINCT CASE WHEN event_type = 'view' THEN user_id END) AS exact_a,
       |  count(DISTINCT CASE WHEN event_type = 'purchase' THEN user_id END) AS exact_b,
       |  count(DISTINCT user_id) AS exact_union
       | FROM events WHERE event_type IN ('view', 'purchase'))
       |SELECT exact_a, exact_b, exact_union, est_a, est_b, est_union,
       | est_a + est_b - est_union AS est_inter
       |FROM ex, ea, eb, eu""".stripMargin

  /** x_theta_intersect — DIRECT set-intersection estimation from two KMV
    * sketches, the theta-sketch composition (the operation inclusion-
    * exclusion, [[kmvMerge]]'s `est_inter`, does badly: subtracting three
    * ~6%-error estimates leaves an absolute error proportional to the
    * UNION, catastrophic for small intersections). Theta composition
    * instead treats each sketch as a θ-uniform sample of its set:
    * θ = min(θ_A, θ_B), count the hashes RETAINED BY BOTH sketches below
    * θ, and scale by the sampled fraction — the error now tracks the
    * intersection itself. A non-full sketch holds its whole set, so its
    * θ is the full hash space. Emitted beside the exact overlap AND the
    * inclusion-exclusion estimate so the gate pins both estimators and
    * the fixture documents why the direct one wins.
    *
    * Scale shape: everything after the two TakeOrdered sketch builds
    * touches ≤ 2K rows — the sketches travel, the sets never do.
    */
  def thetaIntersect(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = Tables.orders(spark, dir)
    def sketch(prio: String): DataFrame = o
      .filter($"o_orderpriority" === prio)
      .select(substring(md5($"o_custkey".cast("string")), 1, 13).as("h13"))
      .distinct().orderBy($"h13").limit(K)
    val sa = sketch("1-URGENT").ckptDisk()
    val sb = sketch("5-LOW").ckptDisk()
    // θ per sketch as an exact long: kth-min when full, 2^52 when the
    // sketch holds its entire set.
    def theta(sk: DataFrame): DataFrame = sk
      .agg(max($"h13").as("kth"), count(lit(1)).as("k"))
      .select($"k", when($"k" < K, lit(HashSpace.toLong))
        .otherwise(conv($"kth", 16, 10).cast("long")).as("th"))
    val thetas = theta(sa).select($"k".as("k_a"), $"th".as("th_a"))
      .crossJoin(theta(sb).select($"k".as("k_b"), $"th".as("th_b")))
      .select($"k_a", $"k_b", least($"th_a", $"th_b").as("theta"))
    val common = sa.join(sb, "h13")
      .select(conv($"h13", 16, 10).cast("long").as("hv"))
    val exact = o.filter($"o_orderpriority" === "1-URGENT")
      .select($"o_custkey").distinct()
      .join(o.filter($"o_orderpriority" === "5-LOW")
        .select($"o_custkey").distinct(), "o_custkey")
      .agg(count(lit(1)).as("n_exact"))
    // Inclusion-exclusion rival from the same two sketches + their merge.
    val su = sa.union(sb).distinct().orderBy($"h13").limit(K)
    def est1(sk: DataFrame, name: String): DataFrame = sk
      .agg(max($"h13").as("kth"), count(lit(1)).as("k"))
      .select(when($"k" < K, $"k".cast("double"))
        .otherwise(($"k".cast("double") - 1.0) * lit(HashSpace) /
          conv($"kth", 16, 10).cast("long").cast("double")).as(name))
    common.crossJoin(broadcast(thetas))
      .filter($"hv" < $"theta")
      .groupBy($"k_a", $"k_b", $"theta")
      .agg(count(lit(1)).as("n_common"))
      .crossJoin(broadcast(exact))
      .crossJoin(broadcast(est1(sa, "est_a")))
      .crossJoin(broadcast(est1(sb, "est_b")))
      .crossJoin(broadcast(est1(su, "est_union")))
      .select($"k_a", $"k_b", $"theta", $"n_common", $"n_exact",
        ($"n_common".cast("double") * lit(HashSpace) /
          $"theta".cast("double")).as("est_theta"),
        ($"est_a" + $"est_b" - $"est_union").as("est_incl_excl"))
  }

  val thetaIntersectSql: String =
    s"""WITH ha AS (
       | SELECT DISTINCT substr(md5(CAST(o_custkey AS VARCHAR)), 1, 13) AS h13
       | FROM orders WHERE o_orderpriority = '1-URGENT'),
       |hb AS (
       | SELECT DISTINCT substr(md5(CAST(o_custkey AS VARCHAR)), 1, 13) AS h13
       | FROM orders WHERE o_orderpriority = '5-LOW'),
       |sa AS (SELECT h13 FROM ha ORDER BY h13 LIMIT $K),
       |sb AS (SELECT h13 FROM hb ORDER BY h13 LIMIT $K),
       |su AS (SELECT h13 FROM (
       |  SELECT DISTINCT h13 FROM (SELECT h13 FROM sa UNION ALL SELECT h13 FROM sb))
       | ORDER BY h13 LIMIT $K),
       |ta AS (SELECT count(*) AS k_a,
       |  CASE WHEN count(*) < $K THEN CAST(${HashSpace.toLong} AS BIGINT)
       |   ELSE CAST('0x' || max(h13) AS BIGINT) END AS th_a FROM sa),
       |tb AS (SELECT count(*) AS k_b,
       |  CASE WHEN count(*) < $K THEN CAST(${HashSpace.toLong} AS BIGINT)
       |   ELSE CAST('0x' || max(h13) AS BIGINT) END AS th_b FROM sb),
       |th AS (SELECT k_a, k_b, least(th_a, th_b) AS theta FROM ta, tb),
       |co AS (
       | SELECT CAST('0x' || sa.h13 AS BIGINT) AS hv
       | FROM sa JOIN sb ON sa.h13 = sb.h13),
       |nc AS (
       | SELECT th.k_a, th.k_b, th.theta, count(*) AS n_common
       | FROM co, th WHERE co.hv < th.theta
       | GROUP BY 1, 2, 3),
       |ex AS (
       | SELECT count(*) AS n_exact FROM
       |  (SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT') a
       |  JOIN (SELECT DISTINCT o_custkey FROM orders
       |        WHERE o_orderpriority = '5-LOW') b USING (o_custkey)),
       |ea AS (SELECT CASE WHEN count(*) < $K THEN CAST(count(*) AS DOUBLE)
       |  ELSE (CAST(count(*) AS DOUBLE) - 1.0) * $HashSpace /
       |   CAST(CAST('0x' || max(h13) AS BIGINT) AS DOUBLE) END AS est_a FROM sa),
       |eb AS (SELECT CASE WHEN count(*) < $K THEN CAST(count(*) AS DOUBLE)
       |  ELSE (CAST(count(*) AS DOUBLE) - 1.0) * $HashSpace /
       |   CAST(CAST('0x' || max(h13) AS BIGINT) AS DOUBLE) END AS est_b FROM sb),
       |eu AS (SELECT CASE WHEN count(*) < $K THEN CAST(count(*) AS DOUBLE)
       |  ELSE (CAST(count(*) AS DOUBLE) - 1.0) * $HashSpace /
       |   CAST(CAST('0x' || max(h13) AS BIGINT) AS DOUBLE) END AS est_union FROM su)
       |SELECT nc.k_a, nc.k_b, nc.theta, nc.n_common, ex.n_exact,
       | CAST(nc.n_common AS DOUBLE) * $HashSpace / CAST(nc.theta AS DOUBLE)
       |   AS est_theta,
       | ea.est_a + eb.est_b - eu.est_union AS est_incl_excl
       |FROM nc, ex, ea, eb, eu""".stripMargin

  /** CMS geometry: d independent hash rows × w buckets. ε ≈ e/w ≈ 1%,
    * δ ≈ e^−d ≈ 2%. Hashes are md5 with a per-row salt — identical in any
    * engine, so the sketch (and its collisions) is fully deterministic.
    */
  val CmsDepth = 4
  val CmsWidth = 256

  /** x_cms_freq — Count-Min-Sketch frequency estimates for the 20 most
    * frequent tokens, exact counts alongside. The sketch is the d×w bucket
    * table — ONE hash aggregate over the token stream whose state is
    * d·w counters regardless of vocabulary size (the property that matters
    * when the vocabulary won't fit memory: heavy-hitter frequencies from
    * fixed O(d·w) space). Estimate(t) = min over rows of t's bucket count;
    * the one-sided error guarantee (estimate ≥ truth, ≤ truth + εN with
    * prob 1−δ) is visible in the output as over_count ≥ 0.
    *
    * Probing joins the (tiny, d·w-row) bucket table to the probe set —
    * broadcast, map-side. The exact counts emitted for comparison are the
    * full-shuffle path the sketch avoids at scale.
    */
  def cmsFreq(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // Widened before the token explode (see [[graft.util.Widen]]); both
    // the sketch build and the exact top-k consume the same widened frame.
    val tok = graft.util.Widen(
      Tables.documents(spark, dir).select($"doc_id", $"text"), $"doc_id")
      .select(explode(Tokens.tokens($"text", lower = true)).as("token"))
    def bucket(row: Int, t: org.apache.spark.sql.Column) =
      pmod(conv(substring(md5(concat(lit(s"cms$row:"), t)), 1, 13), 16, 10)
        .cast("long"), lit(CmsWidth.toLong))
    // The sketch: one explode over rows 0..d-1 per token instance, then a
    // hash aggregate on (row, bucket) — map-side combine shrinks each
    // partition's contribution to ≤ d·w rows before the shuffle.
    val sketch = tok
      .select(explode(array((0 until CmsDepth).map(r =>
        struct(lit(r).as("row"), bucket(r, $"token").as("bucket"))): _*)).as("rb"))
      .groupBy($"rb.row".as("row"), $"rb.bucket".as("bucket"))
      .agg(count(lit(1)).as("c"))
    val top = tok.groupBy($"token").agg(count(lit(1)).as("n_true"))
      .orderBy($"n_true".desc, $"token").limit(20)
    val probes = top.select($"token", $"n_true",
      explode(array((0 until CmsDepth).map(r =>
        struct(lit(r).as("row"), bucket(r, $"token").as("bucket"))): _*)).as("rb"))
      .select($"token", $"n_true", $"rb.row".as("row"), $"rb.bucket".as("bucket"))
    probes.join(broadcast(sketch), Seq("row", "bucket"))
      .groupBy($"token")
      .agg(first($"n_true").as("n_true"), min($"c").as("estimate"))
      .select($"token", $"n_true", $"estimate",
        ($"estimate" - $"n_true").as("over_count"))
      .orderBy($"n_true".desc, $"token")
  }

  val cmsFreqSql: String = {
    val rows = (0 until CmsDepth)
      .map(r => s"SELECT $r AS row, 'cms$r:' AS salt").mkString(" UNION ALL ")
    s"""WITH tok AS (
       | SELECT unnest(${Tokens.tokensSql("text", lower = true)}) AS token FROM documents),
       |rows AS ($rows),
       |hashed AS (
       | SELECT rows.row AS row,
       |  CAST(CAST('0x' || substr(md5(rows.salt || tok.token), 1, 13) AS BIGINT) % $CmsWidth AS BIGINT) AS bucket,
       |  tok.token AS token
       | FROM tok, rows),
       |sketch AS (
       | SELECT row, bucket, count(*) AS c FROM hashed GROUP BY row, bucket),
       |top AS (
       | SELECT token, count(*) AS n_true FROM tok GROUP BY token
       | ORDER BY n_true DESC, token LIMIT 20),
       |probes AS (
       | SELECT top.token, top.n_true, rows.row AS row,
       |  CAST(CAST('0x' || substr(md5(rows.salt || top.token), 1, 13) AS BIGINT) % $CmsWidth AS BIGINT) AS bucket
       | FROM top, rows)
       |SELECT p.token AS token, p.n_true AS n_true,
       | min(s.c) AS estimate,
       | CAST(min(s.c) - p.n_true AS BIGINT) AS over_count
       |FROM probes p JOIN sketch s ON s.row = p.row AND s.bucket = p.bucket
       |GROUP BY p.token, p.n_true
       |ORDER BY n_true DESC, token""".stripMargin
  }

  /** Heavy = more than 1/[[HhPhiDen]] of the token stream. */
  val HhPhiDen = 50L

  /** Misra–Gries capacity: the sketch is false-negative-free above
    * N/(MgK+1) < N/[[HhPhiDen]], so no true heavy hitter can be pruned.
    */
  val MgK = 64

  /** x_heavy_hitters — φ-frequent tokens via the two-pass candidate
    * pattern: a [[graft.functions.MisraGries]] `mg_candidates` sketch
    * nominates ≤ [[MgK]] candidate keys (ONE map-side-aggregable pass whose
    * shuffle carries ≤ k counters per partition, never the key
    * distribution), then an exact rescan counts ONLY the candidate keys
    * (semi-join against the broadcast candidate array) and the φ·N filter
    * drops the sketch's false positives. MG's guarantee makes the pruning
    * LOSSLESS for true heavy hitters, so the result is exact and
    * hash-gates against the oracle's plain GROUP BY/HAVING — which at
    * 100 TB would shuffle every distinct key, while this plan shuffles k
    * counters plus the (tiny, candidate-only) rescan aggregate.
    *
    * Candidates are nominated by xxhash64(token): a hash collision can only
    * ADD a false candidate (two tokens share a counter), never lose a true
    * one, and the exact rescan filters it — correctness is
    * collision-independent.
    */
  def heavyHitters(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val toks = Tables.documents(spark, dir)
      .select(explode(Tokens.tokens($"text", lower = true)).as("token"))
      .withColumn("h", xxhash64($"token"))
    // ONE sketch pass: the MG candidate aggregate and the total-count ride
    // the same global aggregate, and the SINGLE downstream consumer keeps
    // them fused (ScanAudit round 14 — as separate .agg() calls, and even
    // as two selects over one aggregate, each consumer re-tokenized the
    // corpus: Catalyst column-prunes every branch independently, splitting
    // the shared subtree). The one-row sketch explodes into k candidate
    // rows each carrying n_total; the inner broadcast join both filters
    // the rescan to candidates (what the semi-join did) and delivers
    // n_total (what the cross-join did). Two passes total — the second,
    // candidate-only exact rescan is the algorithm's inherent verify
    // pass, not waste.
    val cand = toks.agg(
      call_function("mg_candidates", $"h", lit(MgK)).as("c"),
      count(lit(1)).as("n_total"))
      .select(explode($"c").as("h"), $"n_total")
    toks.join(broadcast(cand), Seq("h"))
      .groupBy($"token")
      .agg(count(lit(1)).as("n"), max($"n_total").as("n_total"))
      .filter($"n" * HhPhiDen > $"n_total")
      .select($"token", $"n", $"n_total")
      .orderBy($"n".desc, $"token")
  }

  val heavyHittersSql: String =
    s"""WITH t AS (
       | SELECT unnest(${Tokens.tokensSql("text", lower = true)}) AS token FROM documents),
       |n AS (SELECT count(*) AS n_total FROM t)
       |SELECT token, count(*) AS n, n.n_total
       |FROM t, n
       |GROUP BY token, n.n_total
       |HAVING count(*) * $HhPhiDen > n.n_total
       |ORDER BY n DESC, token""".stripMargin

  /** Sample rate denominator for [[quantileSample]]: md5 2-hex prefix
    * "00" admits 1/256 of rows, deterministically and append-stably.
    */
  val QSampleDen = 256

  /** x_quantile_sample — hash-sampled quantiles against exact, the KMV
    * pattern applied to rank statistics: p50/p90/p99 of order value from a
    * deterministic 1/[[QSampleDen]] md5 sample, side by side with the
    * exact quantiles and the signed cent errors. The point at 100 TB: the
    * EXACT side needs a global sort (the single-partition window below is
    * deliberately the anti-pattern, kept as the measuring stick at
    * fixture scale), while the SAMPLE side sorts 1/256 of the data for
    * bounded rank error — the trade every percentile dashboard on a big
    * fact table actually makes. All quantile values are exact integer
    * cents; the md5 sample is partition-layout-independent, so the
    * sampled ranks are reproducible anywhere. At tiny inputs the 1/256
    * sample may be empty — estimates go NULL identically on both engines
    * (the gate pins that too), which is the honest answer a sampler gives
    * below its operating range.
    */
  def quantileSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val base = Tables.orders(spark, dir)
      .select(graft.util.Det.cents($"o_totalprice").as("cents"),
        md5($"o_orderkey".cast("string")).as("h"))
    def picks(df: DataFrame, tag: String): DataFrame = {
      val w = Window.orderBy($"cents", $"h")
      df.select($"cents",
          row_number().over(w).as("rn"),
          count(lit(1)).over(Window.partitionBy()).as("n"))
        .groupBy()
        .agg(max($"n").as(s"n_$tag"),
          max(when($"rn" === floor(($"n" + 1) / 2.0), $"cents")).as(s"p50_$tag"),
          max(when($"rn" === floor(($"n" * 9 + 9) / 10.0), $"cents")).as(s"p90_$tag"),
          max(when($"rn" === floor(($"n" * 99 + 99) / 100.0), $"cents")).as(s"p99_$tag"))
    }
    picks(base, "exact")
      .crossJoin(broadcast(picks(
        base.filter(substring($"h", 1, 2) === "00"), "samp")))
      .select($"n_exact", $"n_samp",
        $"p50_exact", $"p50_samp", ($"p50_samp" - $"p50_exact").as("err_p50"),
        $"p90_exact", $"p90_samp", ($"p90_samp" - $"p90_exact").as("err_p90"),
        $"p99_exact", $"p99_samp", ($"p99_samp" - $"p99_exact").as("err_p99"))
  }

  val quantileSampleSql: String =
    """WITH base AS (
      | SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
      |  md5(CAST(o_orderkey AS VARCHAR)) AS h
      | FROM orders),
      |re AS (
      | SELECT cents, row_number() OVER (ORDER BY cents, h) AS rn,
      |  count(*) OVER () AS n
      | FROM base),
      |ex AS (
      | SELECT max(n) AS n_exact,
      |  max(CASE WHEN rn = floor((n + 1) / 2.0) THEN cents END) AS p50_exact,
      |  max(CASE WHEN rn = floor((n * 9 + 9) / 10.0) THEN cents END) AS p90_exact,
      |  max(CASE WHEN rn = floor((n * 99 + 99) / 100.0) THEN cents END) AS p99_exact
      | FROM re),
      |rs AS (
      | SELECT cents, row_number() OVER (ORDER BY cents, h) AS rn,
      |  count(*) OVER () AS n
      | FROM base WHERE substr(h, 1, 2) = '00'),
      |sa AS (
      | SELECT max(n) AS n_samp,
      |  max(CASE WHEN rn = floor((n + 1) / 2.0) THEN cents END) AS p50_samp,
      |  max(CASE WHEN rn = floor((n * 9 + 9) / 10.0) THEN cents END) AS p90_samp,
      |  max(CASE WHEN rn = floor((n * 99 + 99) / 100.0) THEN cents END) AS p99_samp
      | FROM rs)
      |SELECT n_exact, n_samp,
      | p50_exact, p50_samp, p50_samp - p50_exact AS err_p50,
      | p90_exact, p90_samp, p90_samp - p90_exact AS err_p90,
      | p99_exact, p99_samp, p99_samp - p99_exact AS err_p99
      |FROM ex, sa""".stripMargin

  /** x_select_quantile — the EXACT median without a global sort, by
    * distributed selection: [[quantileSample]] documents the two textbook
    * answers (full sort = anti-pattern, sampling = approximate); this is
    * the third, production answer — exact AND sort-free. One rank,
    * k = (n+1) div 2, through [[Select]]: two collected aggregates and one
    * in-bucket pass over ~n/256 of the data, zero full shuffles of the
    * fact table — at 100 TB the full sort moves the corpus, this moves
    * three aggregates and one bucket.
    */
  def selectQuantile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cents = Tables.orders(spark, dir)
      .select(round($"o_totalprice" * 100).cast("long").as("c"))
    val sel = Select(cents, "c")(n => Seq((n + 1) / 2))
    sel.picks.select(lit(sel.groups.map(_.n).sum).as("n"), $"rank".as("k"),
      $"bucket", $"bucket_rows", $"c".as("median_cents"))
  }

  val selectQuantileSql: String =
    s"""WITH c AS (
       | SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c FROM orders),
       |mm AS (SELECT min(c) AS mn, max(c) AS mx, count(*) AS n FROM c),
       |hist AS (
       | SELECT (c.c - mm.mn) * ${Select.Buckets} // (mm.mx - mm.mn + 1) AS b,
       |  count(*) AS cnt
       | FROM c, mm GROUP BY 1),
       |cum AS (
       | SELECT b, cnt,
       |  CAST(coalesce(sum(cnt) OVER (ORDER BY b
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |   AS cum_before
       | FROM hist),
       |pick AS (
       | SELECT cum.b AS bucket, cum.cnt AS bucket_rows, cum.cum_before,
       |  mm.n, (mm.n + 1) // 2 AS k
       | FROM cum, mm
       | WHERE cum.cum_before < (mm.n + 1) // 2
       |  AND (mm.n + 1) // 2 <= cum.cum_before + cum.cnt),
       |med AS (
       | SELECT max(v) AS median_cents FROM (
       |  SELECT c.c AS v
       |  FROM c, mm, pick
       |  WHERE (c.c - mm.mn) * ${Select.Buckets} // (mm.mx - mm.mn + 1) = pick.bucket
       |  ORDER BY c.c LIMIT (SELECT k - cum_before FROM pick)))
       |SELECT pick.n, pick.k, pick.bucket, pick.bucket_rows, med.median_cents
       |FROM pick, med""".stripMargin

  /** x_group_median — [[selectQuantile]]'s distributed selection with the
    * driver walk REMOVED: exact per-group medians where even the bucket
    * pick happens engine-side (a per-group cumulative window over the
    * ≤256-row-per-group histogram frame), so nothing is collected and the
    * same plan serves 5 groups or 5 million. Passes: per-group min/max/
    * count (broadcast back), per-(group, bucket) histogram, window-picked
    * rank-holding bucket, then an in-bucket row_number — a window over
    * ONLY each group's picked bucket (~n_g/256 rows). Ties in the value
    * column are harmless: the k-th order statistic VALUE is unique even
    * when row order under equal keys is not.
    */
  def groupMedian(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val cents = Tables.orders(spark, dir)
      .select($"o_orderpriority".as("grp"),
        round($"o_totalprice" * 100).cast("long").as("c"))
    val stats = cents.groupBy($"grp")
      .agg(min($"c").as("mn"), max($"c").as("mx"), count(lit(1)).as("n"))
      .withColumn("k", expr("(n + 1) div 2"))
    val withB = cents.join(broadcast(stats), "grp")
      .select($"grp", $"c",
        expr(s"(c - mn) * ${Select.Buckets} div (mx - mn + 1)").as("b"))
    val hist = withB.groupBy($"grp", $"b").agg(count(lit(1)).as("cnt"))
    val wCum = Window.partitionBy($"grp").orderBy($"b")
      .rowsBetween(Window.unboundedPreceding, -1)
    // pick derives from withB (via hist) — rename its keys so the re-join
    // below is not an ambiguous self-join in the analyzer's eyes.
    val pick = hist
      .withColumn("cum_before", coalesce(sum($"cnt").over(wCum), lit(0L)))
      .join(broadcast(stats.select($"grp", $"n", $"k")), "grp")
      .filter($"cum_before" < $"k" && $"k" <= $"cum_before" + $"cnt")
      .select($"grp".as("pgrp"), $"b".as("bucket"), $"cnt".as("bucket_rows"),
        $"cum_before", $"n", $"k")
    val wRank = Window.partitionBy($"grp").orderBy($"c")
    withB.join(broadcast(pick), $"grp" === $"pgrp" && $"b" === $"bucket")
      .select($"grp", $"c", $"bucket", $"bucket_rows",
        $"cum_before", $"n", $"k")
      .withColumn("rn", row_number().over(wRank))
      .filter($"rn" === $"k" - $"cum_before")
      .select($"grp", $"n", $"k", $"bucket", $"bucket_rows",
        $"c".as("median_cents"))
      .orderBy($"grp")
  }

  val groupMedianSql: String =
    s"""WITH c AS (
       | SELECT o_orderpriority AS grp,
       |  CAST(round(o_totalprice * 100) AS BIGINT) AS c FROM orders),
       |stats AS (
       | SELECT grp, min(c) AS mn, max(c) AS mx, count(*) AS n,
       |  (count(*) + 1) // 2 AS k
       | FROM c GROUP BY 1),
       |wb AS (
       | SELECT c.grp, c.c,
       |  (c.c - s.mn) * ${Select.Buckets} // (s.mx - s.mn + 1) AS b
       | FROM c JOIN stats s ON c.grp = s.grp),
       |hist AS (SELECT grp, b, count(*) AS cnt FROM wb GROUP BY 1, 2),
       |pick AS (
       | SELECT h.grp, h.b AS bucket, h.cnt AS bucket_rows,
       |  CAST(coalesce(sum(h.cnt) OVER (PARTITION BY h.grp ORDER BY h.b
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |   AS cum_before,
       |  s.n, s.k
       | FROM hist h JOIN stats s ON h.grp = s.grp
       | QUALIFY cum_before < s.k AND s.k <= cum_before + h.cnt),
       |ranked AS (
       | SELECT wb.grp, wb.c, p.bucket, p.bucket_rows, p.cum_before, p.n, p.k,
       |  row_number() OVER (PARTITION BY wb.grp ORDER BY wb.c) AS rn
       | FROM wb JOIN pick p ON wb.grp = p.grp AND wb.b = p.bucket)
       |SELECT grp, n, k, bucket, bucket_rows, c AS median_cents
       |FROM ranked WHERE rn = k - cum_before
       |ORDER BY grp""".stripMargin

  val declared: Seq[Declared] = Seq(
    Declared("x_select_quantile", selectQuantile, Some(selectQuantileSql)),
    Declared("x_group_median", groupMedian, Some(groupMedianSql)),
    Declared("x_quantile_sample", quantileSample, Some(quantileSampleSql)),
    Declared("x_kmv_distinct", kmvDistinct, Some(kmvDistinctSql)),
    Declared("x_kmv_merge", kmvMerge, Some(kmvMergeSql)),
    Declared("x_theta_intersect", thetaIntersect, Some(thetaIntersectSql)),
    Declared("x_cms_freq", cmsFreq, Some(cmsFreqSql)),
    Declared("x_heavy_hitters", heavyHitters, Some(heavyHittersSql)))
}
