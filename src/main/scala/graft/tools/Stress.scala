package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.analytics.{RandWalk, Scd, Sessions, Skew, Upsert}
import graft.llm.{Cluster, Dedup, Eval, Pack, Semantic}
import graft.util.Ckpt._
import graft.util.{Harness, TaskStats}

/** Scale-stress harness for the dedup pipeline: generates an N-doc corpus
  * with PLANTED near-duplicate groups (deterministically, from murmur3 of
  * ids — no fixture needed, no rand()), then times signatures → LSH pairs →
  * connected components end to end and reports whether the planted structure
  * was recovered. This is the "would it survive 20–40× the bench corpus"
  * evidence the fixed sf0.1 fixture can't give:
  *
  *   SPARK_GRAFT_CPUS=32 sbt "runMain graft.tools.Stress 200000"
  *
  * Corpus design: docs come in groups of [[GroupSize]]; every member of a
  * group shares the group's token body except one member-specific position.
  * Two same-group docs therefore differ at TWO positions — up to 6 of ~38
  * word-3-gram shingles each — so intra-group Jaccard ≈ 0.73 and per-band
  * match probability ≈ J² ≈ 0.53; across 4 bands the per-pair miss rate is
  * ≈ (1-0.53)^4 ≈ 5%, which transitive clustering largely heals (one found
  * pair per group suffices). Inter-group similarity is noise. MinHash+LSH
  * should pair up each group and components should emit ≈ one cluster per
  * group.
  */
object Stress {

  /** One timing helper for every scenario (was copy-pasted per scenario —
    * ten drifting closures for one job). `timed` passes the result
    * through; `timedS` also returns the seconds for scenarios that assert
    * on ratios between phases.
    */
  private def timedS[T](what: String)(f: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = f
    val s = (System.nanoTime() - t0) / 1e9
    println(f"[stress] $what: $s%.1f s"); (r, s)
  }

  private def timed[T](what: String)(f: => T): T = timedS(what)(f)._1

  /** Runs `f` with `confs` set, then restores each key exactly: its prior
    * value when the session had one set, unset otherwise — on every exit
    * path.
    */
  private def withConfs[T](spark: SparkSession, confs: (String, String)*)(f: => T): T = {
    val prior = spark.conf.getAll
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally confs.foreach { case (k, _) =>
      prior.get(k).fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  /** `width` reducers with AQE coalescing off. Coalescing merges bounded
    * partitions back up to its advisory BYTE target (measured: 128
    * reducers re-coalesced to ~19 tasks of ~222k rows at 4M events) —
    * healthy in production, but it measures AQE's target, not the plan's
    * own per-task bound, and a width fixed here rather than derived from
    * the core count makes a straggler bound hold on any host.
    */
  private def fixedWidth(width: Int): Seq[(String, String)] =
    Seq("spark.sql.shuffle.partitions" -> width.toString,
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")

  /** Reducer width of the `skew` legs (salt buckets = width/2 = 16). */
  val SkewWidth = 32

  /** Reducer width of the capped legs: 4 × defaultParallelism at 32
    * cores, where the bounds were first calibrated.
    */
  val CappedWidth = 128

  /** `f`'s result, seconds, and the most shuffle records one of its tasks
    * read (the straggler metric), in a fresh `stats` window.
    */
  private def measured[T](stats: TaskStats, what: String)(f: => T): (T, Double, Long) = {
    stats.reset()
    val (r, secs) = timedS(what)(f)
    (r, secs, stats.settled().maxShuffleReadRecords)
  }

  /** The bot-user leg `scd` and `sessions` share. On a corpus of `total`
    * rows whose one bot user holds `burst` of them, at [[CappedWidth]]
    * reducers (coalescing off), the atomic plan's max task must read MORE
    * than the bound — a window partition is one task, so it reads the
    * whole burst — and the capped plan's max task at most the bound, with
    * zero null-safe full-outer drift between the two outputs on `keys`.
    * The bound is min(4 × total/[[CappedWidth]], burst/2): the capped
    * plan's balanced floor total/width with room for chunk hash
    * collisions, and at most half the burst, so it cannot pass by
    * splitting the straggler in two.
    */
  private def cappedLeg(spark: SparkSession, what: String, total: Long,
      burst: Long, keys: Seq[String])(atomic: => DataFrame,
      capped: => DataFrame): Boolean = {
    val bound = math.min(4L * total / CappedWidth, burst / 2)
    withConfs(spark, fixedWidth(CappedWidth): _*) {
      val stats = TaskStats.attach(spark)
      // Each frame is built inside its window (the capped plan's eager
      // checkpoint is part of its cost) and reused by the drift count.
      val ((a, tAtomic, maxAtomic), (c, tCapped, maxCapped)) = try {
        def run(df: DataFrame): DataFrame = {
          df.write.format("noop").mode("overwrite").save(); df
        }
        (measured(stats, s"$what, one bot user (+$burst rows), atomic")(run(atomic)),
          measured(stats, s"$what, bot corpus, CAPPED plan")(run(capped)))
      } finally spark.sparkContext.removeSparkListener(stats)
      val cols = a.columns.filterNot(keys.contains).toSeq
      val drift = a.join(c.withColumnsRenamed(cols.map(x => x -> s"c_$x").toMap),
          keys, "full")
        .filter(!cols.map(x => col(x) <=> col(s"c_$x")).reduce(_ && _)).count()
      println(f"[stress] capped $what ($CappedWidth slices/reducers): " +
        f"drift=$drift (expect 0), max task shuffle-read " +
        f"$maxAtomic%,d -> $maxCapped%,d (bound $bound%,d = " +
        f"min(4x total/$CappedWidth, burst/2); burst was $burst%,d); " +
        f"wall $tAtomic%.1f -> $tCapped%.1f s")
      maxAtomic > bound && maxCapped <= bound && drift == 0
    }
  }

  /** Runs `java.nio.file.Files.walk`, CLOSES the stream (its javadoc
    * requires it — an unclosed walk leaks directory handles until GC),
    * and hands back the paths.
    */
  private def walkPaths(p: java.nio.file.Path): Seq[java.nio.file.Path] = {
    val s = java.nio.file.Files.walk(p)
    try s.toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
    finally s.close()
  }

  val GroupSize = 4
  val DocTokens = 40
  val Vocab = 50000

  /** (doc_id, text): deterministic, group-structured corpus. */
  def corpus(spark: SparkSession, n: Long): DataFrame = {
    import spark.implicits._
    // token j of a doc comes from the GROUP id — identical across the group —
    // except one member-specific position, which mixes in the doc id.
    val toks = transform(sequence(lit(0), lit(DocTokens - 1)), j =>
      concat(lit("w"),
        when(j === ($"doc_id" % GroupSize + 2).cast("int"),
          pmod(hash($"doc_id", lit(7L)), lit(Vocab)))
          .otherwise(pmod(hash($"gid" * 131 + j, lit(13L)), lit(Vocab)))))
    spark.range(n)
      .select($"id".as("doc_id"), ($"id" / GroupSize).cast("long").as("gid"))
      .select($"doc_id", concat_ws(" ", toks).as("text"))
  }

  /** Heavy-hitter stress: `n`-token stream, 10 planted hot tokens at 1%
    * each over a ~1M-token cold tail; the MG-candidates + exact-rescan
    * route must EQUAL the plain groupBy/HAVING route at φ = 1/200
    * (k = 512 ≫ 200, so the sketch is false-negative-free by margin).
    */
  def runHeavyHitters(spark: SparkSession, n: Long): Boolean = {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val phiDen = 200L
    val sel = pmod(hash($"id", lit(3)), lit(1000))
    val toks = spark.range(n).select(
      when(sel < 100, concat(lit("hot"), sel % 10))
        .otherwise(concat(lit("cold"), pmod(hash($"id", lit(7)), lit(1000000))))
        .as("token"))
      .withColumn("h", xxhash64($"token"))
      .ckptDisk()
    val viaSketch = timed("mg candidates + exact rescan") {
      val cand = toks.agg(call_function("mg_candidates", $"h", lit(512)).as("c"))
        .select(explode($"c").as("h"))
      toks.join(broadcast(cand), Seq("h"), "left_semi")
        .groupBy($"token").agg(count(lit(1)).as("c"))
        .filter($"c" * phiDen > n)
        .as[(String, Long)].collect().toSet
    }
    val viaPlain = timed("plain groupBy/HAVING (the full-shuffle route)") {
      toks.groupBy($"token").agg(count(lit(1)).as("c"))
        .filter($"c" * phiDen > n)
        .as[(String, Long)].collect().toSet
    }
    println(s"[stress] heavy hitters: sketch=${viaSketch.size} plain=${viaPlain.size}")
    val ok = viaSketch == viaPlain && viaSketch.size == 10
    ok
  }

  /** (vec_id, v): `n` 64-dim vectors in [-0.5, 0.5) from murmur3 of the
    * id, with an EXACT twin planted at every id ≡ 1 (mod 100) — it copies
    * id−1's coordinates. Checkpointed, so generation is excluded from the
    * timed phases. The corpus of the `sem`, `ivfpq` and `multiprobe`
    * scenarios.
    */
  private def twinVectors(spark: SparkSession, n: Long): DataFrame = {
    import spark.implicits._
    val base = when(pmod($"id", lit(100)) === 1, $"id" - 1).otherwise($"id")
    spark.range(n).select($"id".as("vec_id"),
        transform(sequence(lit(0), lit(63)), j =>
          (pmod(hash(base * 31 + j, lit(11)), lit(1000)).cast("double") / 1000.0)
            - 0.5).as("v"))
      .ckptDisk()
  }

  /** Semantic-dedup stress: `n` 64-dim vectors, 1% planted identical pairs
    * (id, id−1), nlist = 1024 and the 10× noise bound CALIBRATED AT THE
    * 200k DESIGN POINT. The bound is a property of (corpus, τ), not the
    * operator — round 10 measured this three ways at 400k: noise is
    * 678/620/789 at nlist 1024/2000/632, i.e. essentially
    * CLUSTERING-INDEPENDENT, because IVF clustering is built to keep
    * high-cosine pairs together — what the bound counts is this synthetic
    * hash family's genuine >τ pair mass, which grows ~n² while the
    * planted signal grows ~n. A production corpus at larger n re-derives
    * τ from ITS null distribution (the 4–5σ rule on
    * [[graft.llm.Semantic]]); missed=0 at every (n, nlist) tried — the
    * exactness invariant (identical vectors always share a cluster and
    * score sim = 1) never depends on the calibration. τ here is 0.6 ≈
    * 4.8σ of the null cosine distribution (σ ≈ 1/√64): at the declared
    * fixture τ (1.4σ for these crude vectors) the greedy rule chained
    * through noise pairs and marked 99.7% of the corpus duplicate — the
    * calibration failure mode this scenario documents.
    */
  def runSemantic(spark: SparkSession, n: Long): Boolean = {
    import spark.implicits._
    val vecs = twinVectors(spark, n)
    val nlist = 1024
    val losers = timed(s"semantic dedup (nlist=$nlist, tau=0.6) over $n vectors") {
      Semantic.semanticDedupOver(spark, vecs, nlist = nlist, tau = 0.6)
        .select($"loser_id").as[Long].collect().toSet
    }
    val planted = (1L until n by 100L).toSet
    val missed = planted -- losers
    val noise = losers -- planted
    println(s"[stress] planted=${planted.size} losers=${losers.size} " +
      s"missed=${missed.size} noise=${noise.size}")
    // all planted recovered; noise (4.8σ exceedances + hash artifacts)
    // bounded well below the planted signal
    val ok = missed.isEmpty && noise.size * 10 < planted.size
    ok
  }

  /** IVF-PQ stress: the [[runSemantic]] vector corpus (1% planted identical
    * twins at (id, id−1)) searched through [[graft.llm.IvfPq.searchOver]]
    * at nlist ≈ √n. The invariant is exact, not statistical: an identical
    * twin lands in the SAME coarse cell (same vector ⇒ same argmax), so
    * every probe's candidate set contains a vector carrying the probe's own
    * PQ codes — and Σ_m min_c round6(‖q_m − c‖²) is the global minimum any
    * code combination can score. Therefore top-1 ADC must EQUAL the probe's
    * own reconstruction floor (Pq.bestCodes dist sum) for every probe; a
    * routing, LUT, or scoring bug breaks the equality immediately.
    */
  def runIvfPq(spark: SparkSession, n: Long): Boolean = {
    import spark.implicits._
    val vecs = twinVectors(spark, n)
    val probes = vecs.filter(pmod($"vec_id", lit(100)) === 1)
      .select($"vec_id".as("query_id"), $"v".as("qv"))
    val nlist = math.max(16, math.sqrt(n.toDouble).toInt)
    val top1 = timed(s"ivf-pq search (nlist=$nlist, nprobe=8) over $n vectors, ${n / 100} probes") {
      graft.llm.IvfPq.searchOver(spark, vecs, probes, nlist, nProbe = 8, topK = 10)
        .filter($"rnk" === 1)
        .select($"query_id", expr("CAST(round(adc * 1000000) AS BIGINT)").as("adcs"))
    }
    // fixed-order 4-term sum, matching searchOver's d0+d1+d2+d3 exactly —
    // an agg-order sum of the same doubles can differ in the last ulp
    val floor = graft.llm.Pq.bestCodes(spark, vecs)
      .groupBy($"vec_id".as("query_id"))
      .agg(max(when($"m" === 0, $"dist")).as("f0"),
        max(when($"m" === 1, $"dist")).as("f1"),
        max(when($"m" === 2, $"dist")).as("f2"),
        max(when($"m" === 3, $"dist")).as("f3"))
      .select($"query_id", expr(
        "CAST(round((f0 + f1 + f2 + f3) * 1000000) AS BIGINT)").as("floor_s"))
    val bad = top1.join(floor, "query_id")
      .filter($"adcs" =!= $"floor_s").count()
    val nProbes = top1.count()
    println(s"[stress] probes=$nProbes top1!=floor=$bad")
    // ids ≡ 1 (mod 100) below n number ceil((n-1)/100) — equal to n/100
    // only when 100 divides n, so the literal n/100 spuriously failed odd n.
    val ok = bad == 0 && nProbes == (n + 98) / 100
    ok
  }

  /** Multi-probe ANN recovery stress: the [[runIvfPq]] vector generator
    * plants an EXACT twin at every `id ≡ 1 (mod 100)` (the vector copies
    * id−1's coordinates), so the true nearest neighbor of every probe is
    * id−1 at cosine exactly 1.0 — and an identical vector provably lands
    * in the SAME coarse cell (identical rounded cosines, identical
    * tie-break), which multi-probe routing always probes first. The
    * invariant is therefore exact at any scale: every probe's rank-1 must
    * be id−1 with micro_sim 1 000 000. This pins the whole route (cell
    * assignment → routing → candidate join → bounded top-k) at ~100× the
    * fixture's vector count, where a single-partition regression or a
    * bucket blow-up would be minutes, not milliseconds.
    */
  def runMultiprobe(spark: SparkSession, n: Long): Boolean = {
    import spark.implicits._
    val vecs = twinVectors(spark, n)
    val probes = vecs.filter(pmod($"vec_id", lit(100)) === 1)
      .select($"vec_id".as("query_id"), $"v".as("qv"))
    val nlist = math.max(16, math.sqrt(n.toDouble).toInt)
    val top1 = timed(s"multiprobe search (nlist=$nlist, nprobe=8) over $n vectors, ${n / 100} probes") {
      graft.llm.AnnMulti.searchOver(spark, vecs, probes, nlist, nProbe = 8, topK = 10)
        .filter($"rnk" === 1)
        .select($"query_id", $"neighbor_id", $"micro_sim")
        .ckptDisk()
    }
    val nProbes = top1.count()
    val bad = top1.filter($"neighbor_id" =!= $"query_id" - 1 ||
      $"micro_sim" =!= 1000000L).count()
    println(s"[stress] probes=$nProbes twin-missed=$bad")
    // ids ≡ 1 (mod 100) below n number ceil((n-1)/100) — equal to n/100
    // only when 100 divides n, so the literal n/100 spuriously failed odd n.
    val ok = bad == 0 && nProbes == (n + 98) / 100
    ok
  }

  /** PPJoin losslessness stress: the [[corpus]] generator's planted groups
    * have intra-group shingle Jaccard ≈ 0.73 (documented above), well over
    * SimJoin's τ = 0.6 — so EVERY one of the C(4,2)=6 intra-group pairs
    * must appear in the exact similarity join's output at any corpus size.
    * The prefix/length/partition filters are provably candidate-complete;
    * this scenario checks the proof survives real execution at ~8× the
    * bench corpus (bucket skew, checkpoint pressure, rare-token ties), and
    * times the cascade. Missing pairs = a filter became lossy; extra
    * intra-group pairs are impossible (the verify stage is exact).
    */
  def runPpjoin(spark: SparkSession, n: Long): Boolean = {
    import spark.implicits._
    val docs = corpus(spark, n)
      .withColumn("lang", lit("en")).ckptDisk()
    val pairs = timed(s"ppjoin (prefix+length+lang filters, tau=0.6) over $n docs") {
      graft.llm.SimJoin.jaccardJoinOver(docs)
        .select($"doc_a", $"doc_b").as[(Long, Long)].collect()
    }
    val intra = pairs.filter { case (a, b) => a / GroupSize == b / GroupSize }
    val expected = n / GroupSize * (GroupSize * (GroupSize - 1) / 2)
    println(s"[stress] pairs=${pairs.length} intra=${intra.length} " +
      s"expected-intra=$expected cross=${pairs.length - intra.length}")
    val ok = intra.length == expected
    ok
  }

  /** HLL + bitmap at synthetic-corpus scale: n distinct keys through the
    * register build (exact arithmetic identical to the gated query), and
    * two planted 60%-overlapping member ranges through the bitmap fold.
    * Asserts the HLL estimate lands inside 4σ of truth and the bitmap
    * popcounts are EXACTLY the planted set sizes — the properties that
    * must survive when n is no longer fixture-sized.
    */
  def runSketches(spark: SparkSession, n: Long): Boolean = {
    import spark.implicits._
    import graft.analytics.Hll
    val est = timed(s"hll registers over $n distinct keys") {
      val regs = spark.range(n)
        .select(md5($"id".cast("string")).as("h"))
        .select(Hll.jRho("h"): _*)
        .groupBy($"j").agg(max($"rho").as("r"))
      Hll.zScaled(regs)
        .select(lit(Hll.AlphaM2Scale) / $"z_scaled".cast("double"))
        .as[Double].head()
    }
    val relErr = math.abs(est / n.toDouble - 1.0)
    println(f"[stress] hll estimate $est%.0f vs $n (rel err $relErr%.4f)")
    val hllOk = relErr < 4 * 1.04 / math.sqrt(Hll.M.toDouble)

    // Bitmap fold: A = [0, 0.6n), B = [0.4n, n) — overlap exactly 0.2n.
    val aHi = n * 6 / 10; val bLo = n * 4 / 10
    val (na, nb, ov) = timed(s"bitmap overlap over $n members") {
      val ids = spark.range(n).select($"id",
        expr(s"id div ${graft.analytics.Bitmap.WordBits}").as("word"),
        expr(s"shiftleft(CAST(1 AS BIGINT), CAST(id % ${graft.analytics.Bitmap.WordBits} AS INT))").as("bit"))
      val bmA = ids.filter($"id" < aHi).groupBy($"word")
        .agg(expr("bit_or(bit)").as("bm_a"))
      val bmB = ids.filter($"id" >= bLo).groupBy($"word")
        .agg(expr("bit_or(bit)").as("bm_b"))
      val sizes = bmA.agg(sum(expr("bit_count(bm_a)")).cast("long")).as[Long].head() ->
        bmB.agg(sum(expr("bit_count(bm_b)")).cast("long")).as[Long].head()
      val inter = bmA.join(bmB, "word")
        .agg(sum(expr("bit_count(bm_a & bm_b)")).cast("long")).as[Long].head()
      (sizes._1, sizes._2, inter)
    }
    println(s"[stress] bitmap |A|=$na |B|=$nb |A∩B|=$ov (expect ${aHi}/${n - bLo}/${aHi - bLo})")
    val bmOk = na == aHi && nb == n - bLo && ov == aHi - bLo
    hllOk && bmOk
  }

  /** Graph-tier stress: PageRank + connected components over a SYNTHETIC
    * planted-structure graph several times the bench fixture's edge count —
    * the "would the iterative tier survive a much bigger graph" evidence
    * the fixed sf0.1 co-purchase graph (2.4M directed edges) can't give.
    *
    * Structure: `n` nodes in disjoint 4-cliques, plus [[GraphHubs]] star
    * hubs of [[GraphLeaves]] dedicated leaves each. Every invariant below
    * is EXACT, not statistical:
    *  - all clique nodes are structurally identical (degree 3, symmetric
    *    neighborhoods), so after any number of exact integer PR steps they
    *    all carry the SAME rank — `countDistinct(rank) == 1` over n nodes
    *    is simultaneously a symmetry check and a corpus-wide determinism
    *    check (one drifting partition would split the value);
    *  - hubs aggregate their leaves' mass, so the top-[[GraphHubs]] ranks
    *    are exactly the hub ids, strictly above the clique level;
    *  - integer flooring leaks strictly less than one unit per division,
    *    so total mass lands in (TotalMass − bound, TotalMass];
    *  - components must recover exactly n/4 cliques of size 4 plus
    *    [[GraphHubs]] stars of size leaves+1, through the DISTRIBUTED
    *    pointer-jumping path (the pair count clears the driver-solve gate).
    */
  val GraphHubs = 10
  val GraphLeaves = 5000L

  /** Random-walk stress — [[RandWalk.walksOver]] at 10× the fixture's
    * edge count on a synthetic sink-free regular digraph (node i → the
    * `deg` strided successors (i + j·7919) mod V, self-loops displaced),
    * pinning the operator's three CLAIMS at scale:
    *
    *  1. REPRODUCIBILITY under substrate layout: the identical corpus
    *     (order-independent xxhash64 checksum over full rows) from a
    *     src-hash-partitioned adjacency and from an adversarial
    *     round-robin layout at a different partition count — the property
    *     that makes the corpus replayable across engine re-runs and
    *     repartitions (the scaladoc's core promise).
    *  2. VALIDITY/closure: exactly gated-starts × Walks rows, no NULL
    *     hop anywhere (the graph has no sinks), and every consecutive
    *     (cur → nxt) transition is a real edge — checked distributed via
    *     a left-anti join of all hop pairs against the exploded
    *     adjacency, zero tolerance.
    *  3. Scale shape: the whole corpus is Steps broadcast joins + per-row
    *     native argmin — wall printed; the frontier (≈V/2 walks) is the
    *     broadcast side at ~50× the fixture's frontier.
    */
  def runRandWalk(spark: SparkSession, n0: Long): Boolean = {
    import spark.implicits._
    val deg = 12
    val v = math.max(1024L, n0 / deg)
    val nEdges = v * deg
    val adjBase = spark.range(v).select($"id".as("src"))
      .withColumn("nbrs", expr(
        s"""transform(sequence(1, $deg), j ->
           |  CASE WHEN (src + j * 7919L) % $v = src
           |       THEN (src + j * 7919L + 1) % $v
           |       ELSE (src + j * 7919L) % $v END)""".stripMargin))
    val adjA = adjBase
      .repartition(spark.sparkContext.defaultParallelism, $"src").ckptDisk()
    // adversarial layout: different partition count, row-order scrambled,
    // no useful partitioning
    val adjB = adjBase.repartition(57).ckptDisk()
    println(s"[stress] graph: $v nodes x $deg out-edges = $nEdges edges, " +
      "sink-free (every walk must complete all steps)")

    val (wA, tA) = timedS("walk corpus, src-partitioned substrate (A)") {
      RandWalk.walksOver(adjA).ckptDisk()
    }
    val rows = wA.count()
    val startsExp = adjA.filter(RandWalk.startGate($"src")).count()
    // order-independent corpus fingerprint; DECIMAL sum because a BIGINT
    // sum of ~1M 64-bit hashes overflows under ANSI
    def checksum(df: org.apache.spark.sql.DataFrame): java.math.BigDecimal =
      df.select(sum(xxhash64($"start", $"walk", $"n1", $"n2", $"n3")
        .cast("decimal(38,0)")).as("c"))
        .head().getDecimal(0)
    val cA = checksum(wA)
    val (cB, tB) = timedS("same corpus, adversarial substrate layout (B)") {
      checksum(RandWalk.walksOver(adjB))
    }
    val nullHops = wA.filter(
      $"n1".isNull || $"n2".isNull || $"n3".isNull).count()
    val edges = adjA.select($"src", explode($"nbrs").as("dst"))
    val hops = wA.select($"start".as("a"), $"n1".as("b"))
      .unionByName(wA.select($"n1".as("a"), $"n2".as("b")))
      .unionByName(wA.select($"n2".as("a"), $"n3".as("b")))
    val badHops = hops.join(edges,
      hops("a") === edges("src") && hops("b") === edges("dst"), "left_anti")
      .count()
    println(f"[stress] corpus rows=$rows%,d (expect ${startsExp * RandWalk.Walks}%,d = " +
      f"$startsExp%,d gated starts x ${RandWalk.Walks}); null hops=$nullHops; " +
      f"invalid transitions=$badHops (of ${rows * RandWalk.Steps}%,d)")
    println(f"[stress] layout-independence: checksum A=$cA B=$cB " +
      f"(${if (cA.compareTo(cB) == 0) "IDENTICAL" else "DRIFTED"}); " +
      f"wall A $tA%.1f s, B $tB%.1f s")
    val ok = rows == startsExp * RandWalk.Walks && nullHops == 0 &&
      badHops == 0 && cA.compareTo(cB) == 0
    ok
  }

  /** (src, dst): the directed edges of disjoint 4-cliques over nodes
    * [0, n) — each node to its 3 siblings, by a map-side explode.
    */
  private def cliqueEdges(spark: SparkSession, n: Long): DataFrame = {
    import spark.implicits._
    spark.range(n)
      .select($"id".as("src"), explode(expr("sequence(0, 3)")).as("j"))
      .select($"src", (($"src" - ($"src" % 4)) + $"j").as("dst"))
      .where($"src" =!= $"dst")
  }

  def runGraph(spark: SparkSession, n: Long): Boolean = {
    import spark.implicits._
    require(n % 4 == 0, "clique-node count must be a multiple of 4")
    val hubBase = n
    val leafBase = n + GraphHubs
    val clique = cliqueEdges(spark, n)
    // star edges: hub h ↔ its dedicated leaves, both directions
    val hubLeaf = spark.range(GraphHubs * GraphLeaves)
      .select((lit(hubBase) + ($"id" / GraphLeaves).cast("long")).as("hub"),
        (lit(leafBase) + $"id").as("leaf"))
    val e = timed("edge build + checkpoint") {
      clique
        .union(hubLeaf.select($"hub".as("src"), $"leaf".as("dst")))
        .union(hubLeaf.select($"leaf".as("src"), $"hub".as("dst")))
        .repartition(spark.sparkContext.defaultParallelism, $"src")
        .ckptDisk()
    }
    val nEdges = e.count()
    val nNodes = n + GraphHubs + GraphHubs * GraphLeaves
    println(s"[stress] $nNodes nodes, $nEdges directed edges " +
      s"(${n / 4} cliques + $GraphHubs stars of $GraphLeaves)")

    val r = timed(s"pagerank ${graft.analytics.PageRank.Iterations} iterations") {
      graft.analytics.PageRank.ranksOver(e).ckptDisk()
    }
    val cliqueRanks = r.filter($"part" < n)
      .agg(countDistinct($"rank").cast("long"), min($"rank").cast("long"))
      .as[(Long, Long)].head()
    val topHubs = r.orderBy($"rank".desc, $"part").limit(GraphHubs)
      .select($"part", $"rank").as[(Long, Long)].collect()
    val mass = r.agg(sum($"rank").cast("long")).as[Long].head()
    val M = graft.analytics.PageRank.TotalMass
    val iters = graft.analytics.PageRank.Iterations
    // per iteration: < 1 unit per edge (rank DIV deg), < 3 per node (two
    // floored terms + teleport share); plus the initial M DIV n floor
    val lossBound = iters.toLong * (nEdges + 3 * nNodes) + nNodes
    val symOk = cliqueRanks._1 == 1
    val hubsOk = topHubs.map(_._1).toSet ==
      (hubBase until hubBase + GraphHubs).toSet &&
      topHubs.map(_._2).min > cliqueRanks._2
    val massOk = mass <= M && mass > M - lossBound
    println(s"[stress] clique symmetry: ${cliqueRanks._1} distinct rank value(s); " +
      s"hub floor=${topHubs.map(_._2).min} vs clique=${cliqueRanks._2}; " +
      s"mass=$mass of $M (loss bound $lossBound)")

    // undirected unique pairs for components: src < dst halves the edges
    val comps = timed("connected components (distributed path)") {
      Cluster.componentsOver(
        e.where($"src" < $"dst")
          .select($"src".as("doc_a"), $"dst".as("doc_b")),
        driverSolveMaxPairs = 0L) // force the pointer-jumping path
        .ckptDisk()
    }
    val sizes = comps.groupBy($"cluster_id")
      .agg(count(lit(1)).as("sz"))
      .groupBy($"sz").agg(count(lit(1)).as("n_comp"))
      .as[(Long, Long)].collect().toMap
    val compOk = sizes.get(4L).contains(n / 4) &&
      sizes.get(GraphLeaves + 1).contains(GraphHubs.toLong) &&
      sizes.size == 2
    println(s"[stress] component size histogram: $sizes " +
      s"(expect {4 -> ${n / 4}, ${GraphLeaves + 1} -> $GraphHubs})")

    val ok = symOk && hubsOk && massOk && compOk
    ok
  }

  /** Broadcast-boundary stress: PageRank's per-iteration broadcast hints
    * switch off at [[graft.analytics.PageRank.BroadcastNodeLimit]] (1M src
    * nodes) — this scenario pins that the CROSSOVER itself is seamless,
    * not just the far sides (#37-38 tested 2.05M and 8.05M):
    *  1. on a graph just UNDER the limit, the default (hinted) path and a
    *     forced-partitioned run (`dstNodeBound = Some(Long.MaxValue)`)
    *     must produce BIT-IDENTICAL rank frames — the hint is a physical
    *     strategy choice with zero semantic surface;
    *  2. a graph just OVER the limit (auto-partitioned) must run in
    *     comparable time per edge — no cliff where the gate flips.
    * Disjoint 4-cliques only: every node degree-3 and symmetric, so
    * `countDistinct(rank) == 1` is an exact corpus-wide determinism check
    * on BOTH sides of the boundary.
    */
  def runGraphBoundary(spark: SparkSession, n: Long): Boolean = {
    import spark.implicits._
    val limit = graft.analytics.PageRank.BroadcastNodeLimit
    def cliqueGraph(m: Long): DataFrame =
      cliqueEdges(spark, m)
        .repartition(spark.sparkContext.defaultParallelism, $"src")
        .ckptDisk()
    // ±4% around the gate, multiples of 4 (whole cliques)
    val nBelow = (limit * 96 / 100) / 4 * 4
    val nAbove = (limit * 104 / 100) / 4 * 4

    val eBelow = cliqueGraph(nBelow)
    eBelow.count()
    val (hinted, tHint) = timedS(s"pagerank hinted ($nBelow nodes, under the gate)") {
      graft.analytics.PageRank.ranksOver(eBelow).ckptDisk()
    }
    val (parted, tPart) = timedS(s"pagerank forced-partitioned (same $nBelow-node graph)") {
      graft.analytics.PageRank
        .ranksOver(eBelow, dstNodeBound = Some(Long.MaxValue)).ckptDisk()
    }
    // bit-identity across the strategy flip: multiset equality both ways
    val diff = hinted.exceptAll(parted).count() + parted.exceptAll(hinted).count()
    val symBelow = hinted.agg(countDistinct($"rank").cast("long")).as[Long].head()

    val eAbove = cliqueGraph(nAbove)
    eAbove.count()
    val (above, tAbove) = timedS(s"pagerank auto ($nAbove nodes, over the gate)") {
      graft.analytics.PageRank.ranksOver(eAbove).ckptDisk()
    }
    val symAbove = above.agg(countDistinct($"rank").cast("long")).as[Long].head()
    val nAboveRows = above.count()

    // no cliff: the over-the-gate run must stay within 3x the hinted run's
    // per-node cost (the documented far-from-gate ratio is ~2x at 2.05M)
    val perNodeHint = tHint / nBelow
    val perNodeAbove = tAbove / nAbove
    println(f"[stress] per-Mnode cost: hinted ${perNodeHint * 1e6}%.1f s, " +
      f"partitioned-same-graph ${tPart / nBelow * 1e6}%.1f s, " +
      f"auto-above ${perNodeAbove * 1e6}%.1f s")
    println(s"[stress] strategy-flip diff rows=$diff; " +
      s"distinct clique ranks below/above=$symBelow/$symAbove")
    val ok = diff == 0 && symBelow == 1 && symAbove == 1 &&
      nAboveRows == nAbove && perNodeAbove < perNodeHint * 3
    ok
  }

  /** Checkpoint-layout repair, A/B'd on the big-graph PageRank path
    * (round-10 `ckptlayout` scenario; BENCH_NOTES #54): under AQE,
    * Spark's own localCheckpoint records UnknownPartitioning — the
    * AdaptiveSparkPlanExec wrapper hides the final plan's layout from
    * LogicalRDD.fromDataset — so an iterative operator re-shuffles its
    * checkpointed substrate every round.
    * [[org.apache.spark.sql.graft.Bridge.repairCheckpointLayout]] (wired
    * into ckptDisk) re-attaches the layout; this scenario proves, at
    * multi-million-node scale on the FORCED-PARTITIONED path (the 100 TB
    * regime, where nothing broadcasts):
    *
    *  1. rank frames are BIT-IDENTICAL across the two checkpoint forms —
    *     the repair is pure layout metadata, zero semantic surface;
    *  2. the repaired run's executed plan holds STRICTLY FEWER shuffle
    *     exchanges — per iteration, the raw form re-exchanges the
    *     edge-sized substrate that the repaired form consumes in place
    *     (wall clock printed, structure asserted: timing is recorded,
    *     the exchange count is the invariant);
    *  3. the disjoint-clique corpus keeps countDistinct(rank) == 1 on
    *     both arms — corpus-wide exactness, same as the boundary stress.
    */
  def runCkptLayout(spark: SparkSession, n: Long): Boolean = {
    import spark.implicits._
    def partitioned(): DataFrame =
      cliqueEdges(spark, n / 4 * 4)
        .repartition(spark.sparkContext.defaultParallelism, $"src")
    val eRepaired = timed("edge build + repaired ckptDisk") {
      partitioned().ckptDisk()
    }
    val eRaw = timed("edge build + raw localCheckpoint") {
      partitioned().localCheckpoint(true,
        org.apache.spark.storage.StorageLevel.DISK_ONLY)
    }
    val pRep = eRepaired.queryExecution.executedPlan.outputPartitioning
    val pRaw = eRaw.queryExecution.executedPlan.outputPartitioning
    println(s"[stress] checkpoint layout: repaired=$pRep raw=$pRaw")

    def exchanges(df: DataFrame): Long = {
      val plan = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      plan.linesIterator.count(_.contains("Exchange hashpartitioning"))
    }
    // force the partitioned path on both arms — the broadcast path hides
    // the substrate re-shuffle behind per-iteration broadcast builds
    val big = Some(Long.MaxValue)
    val (rRep, tRep) = timedS(s"pagerank partitioned, repaired layout ($n nodes)") {
      val r = graft.analytics.PageRank.ranksOver(eRepaired, dstNodeBound = big)
      (r, r.ckptDisk()) // ckptDisk executes r's own QE -> AQE-final plan readable
    }
    val (rRaw, tRaw) = timedS("pagerank partitioned, raw layout (same graph)") {
      val r = graft.analytics.PageRank.ranksOver(eRaw, dstNodeBound = big)
      (r, r.ckptDisk())
    }
    val exRep = exchanges(rRep._1)
    val exRaw = exchanges(rRaw._1)
    val diff = rRep._2.exceptAll(rRaw._2).count() +
      rRaw._2.exceptAll(rRep._2).count()
    val sym = rRep._2.agg(countDistinct($"rank").cast("long")).as[Long].head()
    println(f"[stress] shuffle exchanges in final plan: repaired=$exRep " +
      f"raw=$exRaw; wall ${tRep}%.1f vs ${tRaw}%.1f s; " +
      s"diff rows=$diff; distinct clique ranks=$sym")

    val layoutOk = pRep.toString.startsWith("hashpartitioning(src") &&
      pRaw.toString.startsWith("UnknownPartitioning")
    val ok = layoutOk && exRep < exRaw && diff == 0 && sym == 1
    ok
  }

  /** Incremental-fold stress (round-10 `incrfold` scenario): the
    * materialized-view refresh fold — rebuilt this round as a
    * co-partitioned full-outer state merge (zero merge exchanges,
    * IncrementalSpec pins the plan) — proven ≡ the one-shot aggregate at
    * 10-30x fixture scale over a 24-month replay, including the merge
    * laws a join-based fold can silently break where union+re-aggregate
    * could not: absent-side counts (a user missing from 22 of 24 deltas),
    * the sum that must stay NULL when EVERY delta's sum is NULL (an
    * all-NULL-value user — coalesce-to-0 here would manufacture a 0), and
    * cross-slice min/max (a user whose min_day lives in month 1 and
    * max_day in month 24, with a NULL-ts event that counts but
    * contributes no day). The comparison is exceptAll BOTH WAYS against
    * the direct aggregate computed in-session from the same frame — an
    * independent single-pass plan, exact BIGINT columns — plus explicit
    * closed-form checks on the three planted users.
    */
  def runIncrFold(spark: SparkSession, n: Long): Boolean = {
    import spark.implicits._
    val U = math.max(1000L, n / 32)
    // bulk rows: user = id mod U, month = (id div U) mod 24 spread over
    // 2023-2024, day-of-month from id, value an exact 2-decimal signed grid
    val bulk = spark.range(n).select(
      ($"id" % U).as("user_id"),
      (($"id" % 1000L).cast("double") / 100.0 - 3.0).as("value"),
      expr(s"""make_timestamp(
         |2023 + (((id div $U) % 24) div 12), ((id div $U) % 12) + 1,
         |CAST((id % 28) + 1 AS INT), 12, 0, 0)""".stripMargin).as("ts"))
    val planted = Seq(
      // user U: NULL ts (counts, no day) + min in month 1 + max in month 24
      (U, Option(1.00), Option.empty[String]),
      (U, Option(2.00), Option("2023-01-15 12:00:00")),
      (U, Option(3.00), Option("2024-12-20 12:00:00")),
      // user U+1: every value NULL -> sum_cents must stay NULL through
      // all 24 merges
      (U + 1, Option.empty[Double], Option("2023-06-10 12:00:00")),
      (U + 1, Option.empty[Double], Option("2024-03-05 12:00:00")))
      .toDF("user_id", "value", "ts_s")
      .select($"user_id", $"value", $"ts_s".cast("timestamp").as("ts"))
    val ev = bulk.unionByName(planted).ckptDisk()
    println(s"[stress] events=${n + 5} users=${U + 2} months=24 " +
      "(fold replays one delta per month)")

    val (folded, tFold) = timedS("24-round incremental fold") {
      graft.analytics.Incremental.incrAggOver(ev).ckptDisk()
    }
    val (direct, tDir) = timedS("one-shot direct aggregate") {
      ev.select($"user_id", graft.util.Det.cents($"value").as("cents"),
          datediff(to_date($"ts"), lit("1970-01-01").cast("date"))
            .cast("long").as("day"))
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n_events"), sum($"cents").as("sum_cents"),
          min($"day").as("min_day"), max($"day").as("max_day"))
        .ckptDisk()
    }
    val drift = folded.exceptAll(direct).count() +
      direct.exceptAll(folded).count()
    val rows = folded.count()
    println(s"[stress] fold vs direct drift rows=$drift (expect 0); " +
      s"summary rows=$rows (expect ${U + 2}); " +
      f"wall fold ${tFold}%.1f s vs direct ${tDir}%.1f s")

    def row(u: Long) = folded.filter($"user_id" === u)
      .select($"n_events", $"sum_cents", $"min_day", $"max_day")
      .as[(Long, Option[Long], Option[Long], Option[Long])].head()
    val epoch = java.time.LocalDate.ofEpochDay(0)
    def day(s: String): Long =
      java.time.temporal.ChronoUnit.DAYS.between(
        epoch, java.time.LocalDate.parse(s))
    val crossOk = row(U) ==
      ((3L, Some(600L), Some(day("2023-01-15")), Some(day("2024-12-20"))))
    val nullSumOk = row(U + 1) ==
      ((2L, None, Some(day("2023-06-10")), Some(day("2024-03-05"))))
    println(s"[stress] planted cross-slice user: ${row(U)}; " +
      s"all-NULL-value user: ${row(U + 1)}")

    val ok = drift == 0 && rows == U + 2 && crossOk && nullSumOk
    ok
  }

  /** Retention/VACUUM economics at scale: an `n`-row events table spread
    * over [[RetDays]] day partitions (~28x the fixture's day count), with
    * the erasure cohort PLANTED into exactly three retained days so the
    * vacuum's promised cost profile is checkable, not assumed:
    *
    *  - ~96% of the table's days (and bytes) are past retention — the
    *    vacuum must shed them as METADATA deletes, never reading them;
    *  - erasure detection may scan only the 14 retained partitions;
    *  - exactly the three dirty partitions get rewritten; the other
    *    eleven keep their original files byte for byte.
    *
    * The full-table `count` baseline is printed next to the vacuum time:
    * at 100 TB that ratio IS the operator — retention over a partitioned
    * table costs a listing plus a sliver-scan, not a table scan.
    */
  def runRetention(spark: SparkSession, n: Long): Boolean = {
    import spark.implicits._
    val RetDays = 400L
    val keepWindow = graft.analytics.Layout.RetentionDays // 14
    // three retained days that will hold every cohort row
    val dirtyDays = Seq(RetDays - 3, RetDays - 6, RetDays - 10)
    // THE predicate the vacuum executes — not a re-derivation that could
    // silently drift from it if ErasePrefix ever widens
    val cohort = graft.analytics.Layout.erased($"user_id")
    // uid over a 100k domain; cohort rows route to a dirty day, clean rows
    // spread uniformly over all days — so clean retained days provably
    // hold ZERO cohort rows and must survive untouched.
    val df = spark.range(n).select(
      $"id".as("event_id"),
      pmod(hash($"id", lit(5L)), lit(100000L)).as("user_id"))
      .withColumn("day_off",
        when(cohort,
          element_at(
            array(dirtyDays.map(lit(_)): _*),
            (pmod(hash($"event_id", lit(3L)), lit(3)) + 1).cast("int"))
            .cast("long"))
          .otherwise(pmod(hash($"event_id", lit(11L)), lit(RetDays))))
      .withColumn("ts",
        to_timestamp(date_add(lit("2024-01-01").cast("date"),
          $"day_off".cast("int"))))
      .select($"event_id", $"user_id", $"ts")

    val root = java.nio.file.Files.createTempDirectory("ret_stress")
    val tbl = root.resolve("t").toString
    try {
      val (_, tBuild) = timedS(s"build $n-row / $RetDays-day table") {
        graft.analytics.Layout.writeDayPartitioned(df, tbl)
      }
      val (nTotal, tScan) = timedS("full-table count (the scan the vacuum must NOT do)") {
        spark.read.parquet(tbl).count()
      }
      // keep-day inventory before (paths + sizes), for byte-untouched proof
      def inv(): Map[String, Long] =
        walkPaths(java.nio.file.Path.of(tbl))
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .map(f => f.toString -> java.nio.file.Files.size(f)).toMap
      val before = inv()
      val (stats, tVac) = timedS("retentionVacuum (drop 386 days + rewrite 3)") {
        graft.analytics.Layout.retentionVacuum(spark, tbl)
      }
      val after = inv()

      val maxDay = java.time.LocalDate.parse("2024-01-01").toEpochDay +
        RetDays - 1
      val cutoff = maxDay - keepWindow
      val wantDropped = (RetDays - keepWindow).toInt
      val wantRewrite = dirtyDays
        .map(d => java.time.LocalDate.parse("2024-01-01").toEpochDay + d)
        .map(x => Some(x)).toSet
      val keptFiles = before.keys.filter { f =>
        "day=(\\d+)".r.findFirstMatchIn(f)
          .exists(m => m.group(1).toLong > cutoff &&
            !wantRewrite.contains(Some(m.group(1).toLong)))
      }.toSet
      val keepUntouched = keptFiles.forall(f => after.get(f) == before.get(f))

      val back = spark.read.parquet(tbl)
      val survivors = back.count()
      val cohortLeft = back.filter(cohort).count()
      // expected survivors: clean rows whose day is retained
      val wantSurvivors = df.filter(!cohort)
        .filter(datediff(to_date($"ts"), lit("1970-01-01").cast("date"))
          .cast("long") > cutoff).count()

      val (again, tVac2) = timedS("second vacuum (must be a listing-only no-op)") {
        graft.analytics.Layout.retentionVacuum(spark, tbl)
      }

      println(f"[stress] build $tBuild%.1f s, full scan $tScan%.1f s, " +
        f"vacuum $tVac%.1f s, re-vacuum $tVac2%.1f s")
      println(s"[stress] dropped=${stats.droppedDays.size} (want $wantDropped), " +
        s"rewritten=${stats.rewrittenDays.toSet == wantRewrite}, " +
        s"keep files untouched=$keepUntouched, survivors=$survivors " +
        s"(want $wantSurvivors), cohort rows left=$cohortLeft, total was $nTotal")
      val ok = stats.droppedDays.size == wantDropped &&
        stats.rewrittenDays.toSet == wantRewrite &&
        keepUntouched && cohortLeft == 0L && survivors == wantSurvivors &&
        again.droppedDays.isEmpty && again.rewrittenDays.isEmpty
      ok
    } finally {
      walkPaths(root).sorted(Ordering[String].on[java.nio.file.Path](_.toString).reverse)
        .foreach(f => java.nio.file.Files.delete(f))
    }
  }

  /** Skew-mitigation stress — the 100 TB requirement ("skewed keys →
    * salting or AQE skew-join", SURVEY §7.4-5) measured instead of
    * asserted. An n-row fact table with ONE key holding ~25% of all rows
    * joins a dimension of min(n/160 + 5, 100,005) keys modeled as too big
    * to broadcast (both plain routes are hinted sort-merge, because at
    * fixture scale Spark would broadcast the dim and the skew would
    * vanish — at 100 TB neither side fits). Three routes must return the
    * SAME per-group aggregate:
    *
    *  a. plain shuffle join, AQE skew-split OFF — the straggler baseline:
    *     one reducer task reads every hot-key row;
    *  b. plain shuffle join, AQE skew-split ON, thresholds scaled down to
    *     fixture bytes (the DEFAULT 256 MB threshold trips on its own at
    *     real partition sizes; a 4M-row fixture's hot partition is ~30 MB)
    *     — Spark's runtime mitigation, observed via the same metric;
    *  c. [[Skew.saltedJoin]] — the deterministic mitigation that also
    *     covers shapes AQE skew-split doesn't (it only rewrites
    *     sort-merge/shuffled-hash joins; a salted key survives any
    *     downstream plan change).
    *
    * Claims pinned:
    *  1. routes a/b/c return identical group aggregates, one row per
    *     group (64, or one per dim key while the dim has fewer);
    *  2. the hot key's rows spread over EXACTLY saltBuckets salt slices,
    *     each within 4 binomial standard deviations of hot/saltBuckets,
    *     a band that holds at any n (the deterministic hash salt really
    *     spreads — no rand(), so the spread is replayable). The stress
    *     salts at saltBuckets = cores, the sizing guidance when one key dominates
    *     (the declared query's SaltBuckets=8 suits many-warm-keys skew;
    *     with few buckets, two hot slices hash-colliding into one reducer
    *     re-concentrates what the salt spread — measured: 8 buckets over
    *     32 partitions left a 1.35M-record max task at 16M rows, 32
    *     buckets cut it to ~0.7M);
    *  3. straggler metric, at a fixed [[SkewWidth]] reducers with
    *     coalescing off (so the check holds at any core count): route a's
    *     biggest task reads ≥ the whole hot key; route c's reads ≤ 1/3 of
    *     the hot key — a bound route a fails by construction; route b's is
    *     reported (AQE's split quantum is bytes-advisory, not exact);
    *  4. [[Skew.twoPhaseAgg]] per-key stats == plain groupBy per-key
    *     stats, exact, all ~100k keys (the aggregation-side mitigation
    *     answers the same numbers).
    *
    * The assertions are deliberately all STRUCTURAL: the per-task
    * shuffle-read concentration is bit-stable run over run (16M rows:
    * plain 4,730,407 / AQE-split 730,920 / salted ≤1M, every run), while
    * local[32] wall-clock for the same routes swings 2x across JVMs (a
    * 1/32-of-slots straggler is easily masked or amplified by JIT and GC
    * timing). Wall seconds are printed as context; the concentration
    * ratio IS the claim — at 1000 executors the stage ends when its
    * biggest task does, and that task just got 5-6x smaller.
    */
  def runSkew(spark: SparkSession, n: Long): Boolean = {
    import spark.implicits._
    // The dim scales with n up to its 100,005-key design size (reached at
    // 16M rows), so the salt's dim replication stays a fixed share of the
    // fact at any n instead of swamping it at small n.
    val nDim = math.min(100005L, n / 160 + 5)
    val sel = pmod(hash($"id", lit(3)), lit(1000))
    val fact = spark.range(n).select(
        when(sel < 250, 0L)
          .when(sel < 350, (sel % 4 + 1).cast("long"))
          .otherwise(pmod(hash($"id", lit(7)), lit(nDim - 5)) + 5L)
          .as("key"),
        $"id".as("distr"),
        pmod(hash($"id", lit(11)), lit(10000)).cast("long").as("cents"))
      .ckptDisk()
    val dim = spark.range(nDim).select(
        $"id".as("dkey"), pmod($"id", lit(64)).cast("long").as("grp"))
      .ckptDisk()
    val hotRows = fact.filter($"key" === 0L).count()
    println(s"[stress] fact=$n rows, hot key holds $hotRows " +
      f"(${hotRows * 100.0 / n}%.1f%%), dim=$nDim keys")

    def groupAgg(joined: DataFrame): Seq[(Long, Long, Long)] =
      joined.groupBy($"grp")
        .agg(count(lit(1)).as("n"), sum($"cents").as("c"))
        .select($"grp", $"n", $"c").as[(Long, Long, Long)]
        .collect().sortBy(_._1).toSeq

    val taskStats = TaskStats.attach(spark)
    try withConfs(spark, fixedWidth(SkewWidth): _*) {
      // a. straggler baseline: forced sort-merge, no AQE skew rescue
      val (resPlain, tPlain, maxPlain) = withConfs(spark,
          "spark.sql.adaptive.skewJoin.enabled" -> "false") {
        measured(taskStats, "plain SMJ join+agg (AQE skew OFF)") {
          groupAgg(fact.hint("merge").join(dim, $"key" === $"dkey"))
        }
      }

      // b. Spark's runtime rescue: AQE skew-split, thresholds scaled to
      // fixture bytes (defaults are sized for real 100 TB partitions)
      val (resAqe, tAqe, maxAqe) = withConfs(spark,
          "spark.sql.adaptive.skewJoin.enabled" -> "true",
          "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
          "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "4m",
          "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "4m") {
        measured(taskStats, "plain SMJ join+agg (AQE skew ON)") {
          groupAgg(fact.hint("merge").join(dim, $"key" === $"dkey"))
        }
      }

      // c. deterministic salting. Bucket count is the DEPLOYMENT dial and
      // both ends bite (measured at 16M rows): 8 buckets over 32 reducers
      // let two hot slices hash-collide into one task (1.35M-record max);
      // 32 buckets fixed that (0.87M) but 4x'd the dim replication and the
      // wall. reducers/2 keeps the worst collision at ~hot/8 while
      // replication stays cheap — the sizing rule: enough slices that a
      // collision doesn't re-concentrate, no more than the replication is
      // worth.
      val buckets = Skew.saltBucketsFor(spark)
      val (resSalt, tSalt, maxSalt) =
        measured(taskStats, s"salted join+agg (saltBuckets=$buckets)") {
          groupAgg(Skew.saltedJoin(fact.hint("merge"), dim,
            "key", "dkey", buckets, $"distr"))
        }

      val bound = hotRows / 3
      println(f"[stress] max task shuffle-read records ($SkewWidth reducers): " +
        f"plain=$maxPlain%,d aqe-split=$maxAqe%,d salted=$maxSalt%,d " +
        f"(bound $bound%,d = hot key/3; hot key=$hotRows%,d rows)")
      println(f"[stress] wall: plain ${tPlain}%.1f s, aqe ${tAqe}%.1f s, " +
        f"salted ${tSalt}%.1f s")

      // 2. salt-spread structure on the hot key: a slice holds each hot
      // row with probability 1/buckets, so its count is binomial around
      // `share` and must stay within 4 of its standard deviations
      val spread = fact.filter($"key" === 0L)
        .groupBy(pmod(hash($"distr"), lit(buckets)).as("salt"))
        .count().select($"count").as[Long].collect()
      val share = hotRows.toDouble / buckets
      val tol = 4 * math.sqrt(share * (1 - 1.0 / buckets))
      println(s"[stress] hot-key salt spread: ${spread.sorted.mkString(",")}" +
        f" (each within $tol%.1f of $share%.1f)")

      // 4. aggregation-side parity: twoPhaseAgg == plain groupBy, exact
      val tp = Skew.twoPhaseAgg(fact, $"key", $"distr", Skew.SaltBuckets,
        partial = Seq(count(lit(1)).as("pn"), sum($"cents").as("ps")),
        fin = Seq(sum($"pn").as("n"), sum($"ps").as("s")), keyName = "key")
      val plainAgg = fact.groupBy($"key")
        .agg(count(lit(1)).as("n"), sum($"cents").as("s"))
      val aggDiff = tp.exceptAll(plainAgg).count() +
        plainAgg.exceptAll(tp).count()
      println(s"[stress] twoPhaseAgg vs plain groupBy diff rows: $aggDiff")

      val ok = resPlain == resAqe && resPlain == resSalt &&
        resPlain.size == math.min(64L, nDim) &&
        spread.length == buckets &&
        spread.forall(c => math.abs(c - share) <= tol) &&
        maxPlain >= hotRows &&
        maxSalt <= bound &&
        aggDiff == 0
      ok
    } finally spark.sparkContext.removeSparkListener(taskStats)
  }

  /** As-of join stress — the custom physical operator
    * ([[graft.plans.AsOfJoinExec]], the §7.3 ladder's top rung) and the
    * composed union+window form ([[graft.analytics.AsOf.asofJoin]]) run at
    * ~10–40x the fixture's event count against a CLOSED-FORM oracle:
    * quotes for symbol s sit on the exact grid ts = s·7 + q·1000 µs, and a
    * trade at offset u into the grid must match the quote at
    * floor(u/1000)·1000 — computable per row with integer arithmetic, no
    * reference join needed, so correctness is checkable at any n. A
    * planted 1-in-101 cohort trades BEFORE its symbol's first quote and
    * must match NOTHING (the null path at scale, where a fixture query's
    * nulls are incidental).
    *
    * Claims: (1) zero closed-form mismatches on the native-exec route;
    * (2) the composed route produces the BIT-IDENTICAL frame (exceptAll
    * both ways — the three-way q_asof_native gate at 0.01 SF, re-proven
    * at stress scale); (3) row count preserved (as-of never amplifies);
    * (4) both routes' seconds reported — the merge-scan's constant probe
    * state vs the window's buffered carry, same exchange count.
    */
  def runAsOfStress(spark: SparkSession, n: Long): Boolean = {
    import spark.implicits._
    val syms = 1000L
    val quotesPerSym = math.max(4L, (n / 2) / syms)
    val spanMicros = quotesPerSym * 1000L
    val quotes = spark.range(syms * quotesPerSym).select(
        ($"id" % syms).as("sym"),
        timestamp_micros(($"id" % syms) * 7 + expr(s"id DIV $syms") * 1000).as("ts"))
      .ckptDisk()
    val uCol = when(pmod($"id", lit(101L)) === 0, lit(-1L))
      .otherwise(pmod(hash($"id", lit(9)), lit(spanMicros)).cast("long"))
    val trades = spark.range(n)
      .select($"id".as("trade_id"),
        pmod(hash($"id", lit(5)), lit(syms)).cast("long").as("sym"),
        uCol.as("u"))
      .select($"trade_id", $"sym",
        timestamp_micros($"sym" * 7 + $"u").as("ts"),
        when($"u" >= 0,
          timestamp_micros($"sym" * 7 + ($"u" - $"u" % 1000)))
          .as("expected_ts"))
      .ckptDisk()
    val nQuotes = quotes.count(); val nTrades = trades.count()
    println(s"[stress] trades=$nTrades quotes=$nQuotes syms=$syms " +
      s"(no-match cohort = every 101st trade)")

    def mismatches(res: DataFrame): Long =
      res.filter(!($"asof_ts" <=> $"expected_ts")).count()

    val (native, tNative) = timedS("native AsOfJoinExec (merge scan)") {
      graft.plans.AsOfJoinPlan
        .asofNative(trades, quotes, "sym", "ts", Seq("ts")).ckptDisk()
    }
    val badNative = mismatches(native)
    val (composed, tComposed) = timedS("composed union+window as-of") {
      graft.analytics.AsOf
        .asofJoin(trades, quotes, "sym", "ts", Seq("ts")).ckptDisk()
    }
    val badComposed = mismatches(composed)
    val diff = native.exceptAll(composed).count() +
      composed.exceptAll(native).count()
    val rows = native.count()

    println(s"[stress] closed-form mismatches: native=$badNative " +
      s"composed=$badComposed; route diff rows=$diff; out rows=$rows")
    println(f"[stress] per-Mrow cost: native ${tNative / n * 1e6}%.2f s, " +
      f"composed ${tComposed / n * 1e6}%.2f s")
    val ok = badNative == 0 && badComposed == 0 && diff == 0 && rows == n
    ok
  }

  /** Warehouse-tier stress — the SCD2 history build ([[Scd.historyOver]]),
    * the point-in-time dimensional lookup ([[Scd.pitJoinOver]]), and the
    * CDC version-keyed merge ([[Upsert.applyChanges]]) at 10–40x fixture
    * event counts against a fully CLOSED-FORM oracle. Every user's change
    * stream is planted: user u emits 16 events at ts = t0 + j·1000 µs in
    * runs of runLen(u) = 1 + (u mod 4) consecutive equal types cycling
    * (purchase, view, cart) — so every interval's type, bounds, row count,
    * and currency flag are integer arithmetic on (user_id, run), checkable
    * per ROW with a distributed mismatch count, no reference join.
    *
    * Claims pinned:
    *  1. history row count == users/4 · (16+8+6+4) (the ceil(16/runLen)
    *     sum over the four run-length classes), and EVERY field of every
    *     interval — type, valid_from, valid_to (NULL on last), n_events
    *     (incl. the partial last run), is_current — matches its closed
    *     form exactly (zero mismatching rows);
    *  2. the timeline tiles: per user, n_events sums to 16 and exactly
    *     one interval is current;
    *  3. the PIT rollup equals the driver model, exercising all three
    *     probe paths at scale: first-ever purchase → `(none)` (every
    *     user's j=0 is a purchase), repeat buy inside an open purchase
    *     run → `purchase`, and cross-state probes → the PREVIOUS run's
    *     type;
    *  4. the merge: base of n version-1 rows + changes for every 3rd key
    *     (version 2) + a REDELIVERED copy of every 9th key's change
    *     (same version, higher seq — the at-least-once delivery the
    *     tie-break column exists for) lands exactly n rows, every row's
    *     (version, value) matching its closed form, with exactly
    *     ceil(n/3) change-set winners — redelivery changes nothing;
    *  5. one bot user with n/16 events: [[Scd.historyCappedOver]] builds
    *     the identical history while its max task stays inside the
    *     [[cappedLeg]] bound the atomic plan's burst task exceeds.
    */
  def runScd(spark: SparkSession, n0: Long): Boolean = {
    import spark.implicits._
    val E = 16L
    val n = math.max(64L, (n0 / 64L) * 64L) // users divisible by 4
    val users = n / E
    val classUsers = users / 4
    val t0 = 1600000000000000L
    val types = Seq("purchase", "view", "cart")
    val typeArr = array(types.map(lit): _*)

    val ev = spark.range(n).select(
        $"id".as("event_id"),
        expr(s"id DIV $E").as("user_id"),
        ($"id" % E).as("j"))
      .withColumn("run_len", lit(1L) + pmod($"user_id", lit(4L)))
      .select($"event_id", $"user_id",
        element_at(typeArr,
          (pmod(expr("j DIV run_len"), lit(3L)) + 1L).cast("int"))
          .as("event_type"),
        timestamp_micros(lit(t0) + $"j" * 1000L).as("ts"))
      .ckptDisk()
    println(s"[stress] events=$n users=$users (run lengths 1-4, " +
      s"${E} events/user, types cycle ${types.mkString("/")})")

    val (hist, _) = timedS("SCD2 history build") {
      Scd.historyOver(ev).ckptDisk()
    }
    val histRows = hist.count()
    val expRows = classUsers * 34 // ceil(16/1)+ceil(16/2)+ceil(16/3)+ceil(16/4)

    // Field-exact check: every expected value is arithmetic on (user_id, run)
    val checked = hist
      .withColumn("run_len", lit(1L) + pmod($"user_id", lit(4L)))
      .withColumn("r0", $"run" - 1L)
      .withColumn("n_runs", expr(s"($E + run_len - 1) DIV run_len"))
    val badIntervals = checked.filter(
      $"event_type" =!= element_at(typeArr,
        (pmod($"r0", lit(3L)) + 1L).cast("int")) ||
      $"valid_from_us" =!= lit(t0) + $"r0" * $"run_len" * 1000L ||
      $"n_events" =!= least($"run_len", lit(E) - $"r0" * $"run_len") ||
      !($"valid_to_us" <=> when($"run" === $"n_runs",
        lit(null).cast("long"))
        .otherwise(lit(t0) + $"run" * $"run_len" * 1000L)) ||
      $"is_current" =!= ($"run" === $"n_runs")).count()
    val nCurrent = hist.filter($"is_current").count()
    val tileBad = hist.groupBy($"user_id").agg(sum($"n_events").as("s"))
      .filter($"s" =!= E).count()
    println(s"[stress] history rows=$histRows (expect $expRows), " +
      s"field mismatches=$badIntervals, current=$nCurrent (expect $users), " +
      s"tiling violations=$tileBad")

    val (pitRows, _) = timedS("point-in-time join rollup") {
      Scd.pitJoinOver(ev)
        .as[(String, Long, Long)].collect().toSeq.sortBy(_._1)
    }
    // Driver model: 4 run-length classes x 16 positions — 64 combos decide
    // the whole rollup because every user in a class is identical.
    val model = scala.collection.mutable.Map.empty[String, (Long, Long)]
    for (m <- 0 until 4) {
      val rl = 1 + m
      val priors = scala.collection.mutable.Map.empty[String, Long]
      for (j <- 0 until E.toInt if (j / rl) % 3 == 0) { // purchase blocks
        val prior = if (j == 0) "(none)" else types(((j - 1) / rl) % 3)
        priors(prior) = priors.getOrElse(prior, 0L) + 1L
      }
      priors.foreach { case (p, c) =>
        val (np, nu) = model.getOrElse(p, (0L, 0L))
        model(p) = (np + c * classUsers, nu + classUsers)
      }
    }
    val expPit = model.toSeq.map { case (p, (np, nu)) => (p, np, nu) }
      .sortBy(_._1)
    val pitOk = pitRows == expPit
    println(s"[stress] PIT rollup: got ${pitRows.mkString(", ")}")
    println(s"[stress]   expected ${expPit.mkString(", ")}")

    // CDC merge with redelivery
    val base = spark.range(n).select($"id".as("k"),
      ($"id" * 2 + 1).as("v"), lit(1L).as("version"), lit(0L).as("seq"))
    val eligible = spark.range(n).filter($"id" % 3 === 0)
    val changes = eligible.select($"id".as("k"),
      ($"id" * 2 + 100).as("v"), lit(2L).as("version"), lit(1L).as("seq"))
    val redelivered = eligible.filter($"id" % 9 === 0).select($"id".as("k"),
      ($"id" * 2 + 100).as("v"), lit(2L).as("version"), lit(2L).as("seq"))
    val (merged, _) = timedS("CDC version-keyed merge (with redelivery)") {
      Upsert.applyChanges(base, changes.unionByName(redelivered),
        key = "k", version = "version", tieBreak = "seq").ckptDisk()
    }
    val mergedRows = merged.count()
    val mergeBad = merged.filter(
      when($"k" % 3 === 0,
        $"v" =!= $"k" * 2 + 100 || $"version" =!= 2L)
        .otherwise($"v" =!= $"k" * 2 + 1 || $"version" =!= 1L)).count()
    val updWinners = merged.filter($"version" === 2L).count()
    val expUpd = (n + 2) / 3 // keys 0,3,6,... below n
    println(s"[stress] merged rows=$mergedRows (expect $n), " +
      s"bad rows=$mergeBad, change winners=$updWinners (expect $expUpd)")

    // Bot leg + mitigation: one user with n/16 events 10 µs apart, type
    // flipping every 50 events (so the run structure is non-trivial: B/50
    // runs), through the shared capped leg on the (user_id, run) history.
    val B = n / 16
    val bot = spark.range(B).select(
        (lit(n) + $"id").as("event_id"),
        lit(0L).as("user_id"),
        when(expr("id DIV 50") % 2 === 0, "view").otherwise("cart")
          .as("event_type"),
        timestamp_micros(lit(t0) + 864000000000L + $"id" * 10L).as("ts"))
    val ev2 = ev.select($"event_id", $"user_id", $"event_type", $"ts")
      .unionByName(bot).ckptDisk()
    val capOk = cappedLeg(spark, "SCD2 history", n + B, B, Seq("user_id", "run"))(
      Scd.historyOver(ev2), Scd.historyCappedOver(ev2, CappedWidth))

    val ok = histRows == expRows && badIntervals == 0 &&
      nCurrent == users && tileBad == 0 && pitOk &&
      mergedRows == n && mergeBad == 0 && updWinners == expUpd && capOk
    ok
  }

  /** Sessionization stress — gap-based session assignment
    * ([[Sessions.sessionizedOver]]) and the per-session rollup
    * ([[Sessions.sessionStatsOver]]) at 7-27x fixture event counts against
    * a closed-form oracle, plus a measured look at the tier's documented
    * hazard: the single-partition BOT USER a per-user window cannot split.
    *
    * Planted structure: user u emits 4 sessions of 8 events — session
    * starts 4 h apart (≫ the 30-min gap), events 60 s apart (≪ it) — so
    * every event's session id is integer arithmetic on its event_id, and
    * every session's size (8), span (7 min), distinct types (3, the cycle
    * view/click/purchase), and exact value sum (5.00: two 1+2+3+4 quarter
    * cycles) are constants checkable by a distributed mismatch count.
    *
    * The bot leg appends one user with n/16 events 10 µs apart (a crawler
    * burst) and pins: (a) correctness is unaffected — the burst lands as
    * exactly ONE extra session with exact size and span while every other
    * user's assignment is unchanged; (b) through [[cappedLeg]], the
    * straggler is REAL and structural — the atomic plan's max per-task
    * shuffle read is the whole burst, because a window partition is
    * atomic (AQE's skew machinery splits JOIN partitions, not window
    * partitions) — and the mitigation is REAL:
    * [[Sessions.sessionizedCappedOver]] assigns bit-identical session ids
    * on the same bot corpus while its max task drops back to range-slice
    * scale.
    */
  def runSessions(spark: SparkSession, n0: Long): Boolean = {
    import spark.implicits._
    val S = 4L; val L = 8L; val EPU = S * L
    val n = math.max(1024L, (n0 / 1024L) * 1024L)
    val users = n / EPU
    val t0 = 1600000000000000L
    val sessGap = 4L * 3600L * 1000000L
    val types = Seq("view", "click", "purchase")
    val typeArr = array(types.map(lit): _*)
    val ev = spark.range(n).select(
        $"id".as("event_id"),
        expr(s"id DIV $EPU").as("user_id"),
        expr(s"(id % $EPU) DIV $L").as("s"),
        ($"id" % L).as("j"))
      .select($"event_id", $"user_id",
        element_at(typeArr, (pmod($"j", lit(3L)) + 1L).cast("int"))
          .as("event_type"),
        timestamp_micros(lit(t0) + $"s" * sessGap + $"j" * 60000000L)
          .as("ts"),
        ((pmod($"j", lit(4L)) + 1L).cast("double") * 0.25).as("value"))
      .ckptDisk()
    println(s"[stress] events=$n users=$users " +
      s"(4 sessions x 8 events each, 60s within / 4h between)")

    val (sess, _) = timedS("gap sessionization (window)") {
      Sessions.sessionizedOver(ev)
        .select($"event_id", $"user_id", $"session_id").ckptDisk()
    }
    val badSess = sess.filter(
      $"session_id" =!= expr(s"(event_id % $EPU) DIV $L") + 1L).count()

    val (stats, _) = timedS("per-session rollup") {
      Sessions.sessionStatsOver(ev).ckptDisk()
    }
    val statRows = stats.count()
    val badStats = stats.filter(
      $"n_events" =!= L ||
      $"span_us" =!= (L - 1) * 60000000L ||
      $"n_event_types" =!= 3L ||
      $"session_value" =!= 5.0).count()
    println(s"[stress] session assignment mismatches=$badSess; " +
      s"stats rows=$statRows (expect ${users * S}), field mismatches=$badStats")

    // Bot leg: one user, n/16 events 10µs apart, well after its regular span
    val B = n / 16
    val bot = spark.range(B).select(
        (lit(n) + $"id").as("event_id"),
        lit(0L).as("user_id"),
        lit("view").as("event_type"),
        timestamp_micros(lit(t0) + 864000000000L + $"id" * 10L).as("ts"),
        lit(0.25).as("value"))
    val ev2 = ev.unionByName(bot).ckptDisk()
    val botStats = Sessions.sessionStatsOver(ev2)
      .filter($"user_id" === 0L)
      .select($"session_id", $"n_events", $"span_us")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    val botOk = botStats.length == S.toInt + 1 &&
      botStats.take(S.toInt).forall { case (_, ne, sp) =>
        ne == L && sp == (L - 1) * 60000000L } &&
      botStats.last == ((S + 1, B, (B - 1) * 10L))
    val othersBad = Sessions.sessionizedOver(ev2)
      .filter($"user_id" =!= 0L)
      .filter($"session_id" =!= expr(s"(event_id % $EPU) DIV $L") + 1L)
      .count()
    println(s"[stress] bot user sessions: ${botStats.mkString(", ")} " +
      s"(expect 4 regular + one ($B, ${(B - 1) * 10L})-session); " +
      s"other-user drift=$othersBad")
    def assignment(df: DataFrame): DataFrame = df.select($"event_id", $"session_id")
    val capOk = cappedLeg(spark, "sessionize", n + B, B, Seq("event_id"))(
      assignment(Sessions.sessionizedOver(ev2)),
      assignment(Sessions.sessionizedCappedOver(ev2, CappedWidth)))

    val ok = badSess == 0 && statRows == users * S && badStats == 0 &&
      botOk && othersBad == 0 && capOk
    ok
  }

  /** Streaming LSH near-dup suppression stress — the streaming tier's
    * past-fixture-scale evidence (the batch tiers have theirs: dedup,
    * graph, retention, sketches). The SAME planted-group [[corpus]] the
    * batch dedup scenario recovers is streamed through
    * [[graft.streaming.LshDedup.lshDedupStream]] in UNEVEN micro-batches,
    * and three claims are checked at ~100x the parity spec's corpus:
    *
    *  1. candidate recall: ≥90% of non-first group members are attributed
    *     to an earlier member of their OWN group (per-pair band-match odds
    *     ≈ 1−(1−J²)⁴ ≈ 0.95 at intra-group J ≈ 0.73) — the suppressor
    *     finds the planted near-dups without ever comparing documents;
    *  2. the downstream verify leg the operator's contract names (stream
    *     emits CANDIDATES; `Dedup.jaccardOver` confirms): cross-group
    *     noise attributions — which GROW with corpus size because the
    *     15-bit slice space makes band collisions a birthday effect
    *     (measured: 0.4% of docs at 20k, 2.9% at 100k) — must ALL be
    *     rejected by exact Jaccard, and ≥90% of non-first members must
    *     survive it, so verified suppression kills no keeper at any scale;
    *  3. state boundedness: the state store holds EXACTLY one row per
    *     claimed (band, bucket) — `numRowsTotal == countDistinct(band,bh)`
    *     over the decision log — i.e. state scales with distinct content
    *     fingerprints, not with documents seen (the O(1)-per-bucket claim
    *     made in LshDedup's scaladoc, here observed, not asserted);
    *  4. ingest + verify cost: docs/s over the drained run and the verify
    *     leg's seconds, reported.
    *
    * Event time advances at 64 docs/s so the whole run spans <1h and no
    * bucket hits the TTL — expiry semantics are spec-pinned separately
    * (LshDedupSpec); this scenario isolates the scale claims.
    */
  def runLshStream(spark: SparkSession, n: Long): Boolean = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

    val docs = timed(s"materialize $n-doc corpus to the driver (feed data)") {
      corpus(spark, n).select($"doc_id", $"text").as[(Long, String)].collect()
    }
    val input = MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("doc_id", "text")
      // MemoryStream plans as a SINGLE-partition LocalTableScan, which
      // would run the whole fingerprint projection on one core (measured:
      // 18 s vs 2.8 s for a 6k-doc batch) — a harness artifact, not an
      // operator property; a real source (Kafka) arrives partitioned.
      // Spread the feed the way a partitioned source would.
      .repartition(spark.sparkContext.defaultParallelism)
      // 64 docs/s of event time, monotone with doc_id → no late data; the
      // full span is n/64 s (<1h below ~230k docs, under the default TTL)
      .select($"doc_id", $"text",
        timestamp_seconds(lit(1700000000L) + ($"doc_id" / 64L)).as("ts"))
    val q = graft.streaming.LshDedup.lshDedupStream(stream)
      .writeStream.format("memory").queryName("lsh_stress")
      .outputMode("append").start()

    val ok = try {
      // uneven batches: the claimant path must not depend on batching
      val cuts = Seq(0.05, 0.35, 0.45, 0.70, 0.83, 1.0)
        .map(f => (f * docs.length).toInt)
      val (_, tDrain) = timedS(s"stream $n docs through ${cuts.size} uneven micro-batches") {
        cuts.foldLeft(0) { (from, to) =>
          input.addData(docs.slice(from, to))
          q.processAllAvailable()
          to
        }
      }
      println(f"[stress] ingest throughput: ${n / tDrain}%.0f docs/s (drain incl. state I/O)")

      val dec = spark.table("lsh_stress").ckptDisk()
      val rolled = graft.streaming.LshDedup.rollup(dec)
        .select($"doc_id", $"dup_of").as[(Long, Option[Long])].collect()
      val byDoc = rolled.toMap
      assert(byDoc.size == n.toInt, s"decisions cover ${byDoc.size} of $n docs")

      val firsts = (0L until n by GroupSize.toLong)
      val firstKept = firsts.count(byDoc(_).isEmpty)
      val laters = (0L until n).filterNot(_ % GroupSize == 0)
      val inGroup = laters.count(d =>
        byDoc(d).exists(c => c / GroupSize == d / GroupSize))
      val crossGroup = rolled.count { case (d, c) =>
        c.exists(cl => cl / GroupSize != d / GroupSize)
      }

      // state rows vs distinct claimed buckets (one claim per bucket)
      val buckets = dec.select($"band", $"bh").distinct().count()
      val stateRows = q.lastProgress.stateOperators.headOption
        .map(_.numRowsTotal).getOrElse(-1L)

      println(s"[stress] groups: first-member keepers $firstKept/${firsts.size}, " +
        s"in-group candidates $inGroup/${laters.size}, cross-group candidates $crossGroup")
      println(s"[stress] state rows $stateRows vs distinct buckets $buckets " +
        f"(${stateRows.toDouble / n}%.2f state rows per doc seen)")

      // Downstream verify: exact Jaccard over ONLY the flagged pairs —
      // the contract's second half. Cross-group candidates are slice-space
      // birthday noise (J ≈ 0); planted pairs sit at J ≈ 0.73; 0.5 splits
      // them with a wide margin on both sides.
      val pairsSeq = rolled.collect { case (d, Some(c)) => (c, d) }.toSeq
      val candPairs = pairsSeq.toDF("doc_a", "doc_b")
      val (verified, tVerify) = timedS(s"Jaccard-verify ${pairsSeq.size} candidate pairs") {
        Dedup.jaccardOver(corpus(spark, n), candPairs)
          .filter($"jaccard" >= 0.5)
          .select($"doc_a", $"doc_b").as[(Long, Long)].collect()
      }
      val verInGroup = verified.count { case (c, d) =>
        c / GroupSize == d / GroupSize
      }
      val verCross = verified.length - verInGroup
      println(f"[stress] verified: $verInGroup in-group kept, $verCross " +
        f"cross-group survived the verify, ${tVerify}%.1f s")

      val pass = inGroup >= laters.size * 9 / 10 &&
        verCross == 0 &&
        verInGroup >= laters.size * 9 / 10 &&
        stateRows == buckets
      pass
    } finally q.stop()
    ok
  }

  /** ML-eval-tier stress — exact AUC, KS, and calibration deciles
    * ([[graft.llm.Eval]]) over a planted scored frame whose statistics
    * have CLOSED FORMS, at ~28x the fixture vector count. Scores are a
    * bijective shuffle of 0..n-1 (score = id·1000003 mod n, n a power of
    * two, the multiplier odd — so the rank of score s is exactly s+1 and
    * the range exchange actually redistributes rows). Two label patterns:
    *
    *  A. interleaved — positives at every 4th score. Closed forms:
    *     Σranks(pos) = 2P(P−1)+P, KS max gap = 3P (the CDF sawtooth's
    *     amplitude: gap(k) = P·|4⌈k/4⌉−k|), auc_ppm ≈ 500000 exactly.
    *  B. block — positives the third score quartile [2P, 3P). U = 2P²
    *     exactly (each positive outranks exactly the 2P low negatives),
    *     auc_ppm = 666666; KS max gap = 2P² at the rank just BELOW the
    *     block (all 2P low negatives counted, zero positives:
    *     |0·3P − 2P·P|), ks_ppm = 666666; and every calibration decile's
    *     (count, pos, permille) is an integer interval intersection.
    *
    * All five statistic rows must equal the BigInt driver model exactly.
    * This is also the scale-proof of the round-9 ppm DECIMAL upgrade: at
    * n = 2^24, U·10⁶ ≈ 3.5e19 overflows a long (max 9.2e18) — the old
    * pure-long formula could not have produced these rows under ANSI.
    */
  def runEval(spark: SparkSession, n0: Long): Boolean = {
    import spark.implicits._
    val n = java.lang.Long.highestOneBit(math.max(1024L, n0))
    val P = n / 4
    val scoredBase = spark.range(n).select(
      $"id".as("vec_id"),
      pmod($"id" * 1000003L, lit(n)).as("score"))
    def withLabel(c: org.apache.spark.sql.Column) =
      scoredBase.withColumn("label", c)
    println(s"[stress] scored frame: n=$n (bijective score shuffle), " +
      s"P=$P positives per pattern")

    val bP = BigInt(P); val bN = 3 * bP
    val rPosA = 2 * bP * (bP - 1) + bP
    val aucA = (rPosA - bP * (bP + 1) / 2) * 1000000 / (bP * bN)
    val gapA = 3 * bP
    val ksA = gapA * 1000000 / (bP * bN)
    val rPosB = (3 * bP * (3 * bP + 1) - 2 * bP * (2 * bP + 1)) / 2
    val aucB = (rPosB - bP * (bP + 1) / 2) * 1000000 / (bP * bN)
    val gapB = 2 * bP * bP
    val ksB = gapB * 1000000 / (bP * bN)

    val scA = withLabel(
      when(pmod($"score", lit(4L)) === 0, lit(0L)).otherwise(lit(1L)))
      .ckptDisk()
    val (aucRowA, _) = timedS("AUC (interleaved pattern)") {
      Eval.aucOver(scA).as[(Long, Long, Long, Long)].collect().head
    }
    val (ksRowA, _) = timedS("KS (interleaved pattern)") {
      Eval.ksStatOver(scA).as[(Long, Long, Long, Long)].collect().head
    }
    val expAucA = (P, 3 * P, rPosA.toLong, aucA.toLong)
    val expKsA = (P, 3 * P, gapA.toLong, ksA.toLong)
    println(s"[stress] A: auc=$aucRowA (expect $expAucA), " +
      s"ks=$ksRowA (expect $expKsA)")

    val scB = withLabel(
      when($"score" >= 2 * P && $"score" < 3 * P, lit(0L)).otherwise(lit(1L)))
      .ckptDisk()
    val (aucRowB, _) = timedS("AUC (block pattern)") {
      Eval.aucOver(scB).as[(Long, Long, Long, Long)].collect().head
    }
    val (ksRowB, _) = timedS("KS (block pattern)") {
      Eval.ksStatOver(scB).as[(Long, Long, Long, Long)].collect().head
    }
    val (calRows, _) = timedS("calibration deciles (block pattern)") {
      Eval.calibrationBinsOver(scB)
        .as[(Long, Long, Long, Long)].collect().toSeq
    }
    val expAucB = (P, 3 * P, rPosB.toLong, aucB.toLong)
    val expKsB = (P, 3 * P, gapB.toLong, ksB.toLong)
    def ceilDiv(a: Long, b: Long): Long = (a + b - 1) / b
    val expCal = (1 to 10).map { d =>
      val lo = ceilDiv((d - 1).toLong * n, 10L) + 1
      val hi = ceilDiv(d.toLong * n, 10L)
      val nv = hi - lo + 1
      val np = math.max(0L, math.min(hi, 3 * P) - math.max(lo, 2 * P + 1) + 1)
      (d.toLong, nv, np, np * 1000 / nv)
    }
    println(s"[stress] B: auc=$aucRowB (expect $expAucB), " +
      s"ks=$ksRowB (expect $expKsB)")
    println(s"[stress] B deciles: ${calRows.mkString(", ")}")
    println(s"[stress]  expected: ${expCal.mkString(", ")}")

    val ok = aucRowA == expAucA && ksRowA == expKsA &&
      aucRowB == expAucB && ksRowB == expKsB && calRows == expCal
    ok
  }

  /** Quota-sampling stress — [[Pack.quotaSampleOver]]'s exact-count
    * guarantee and repartition-invariance at ~28x fixture doc counts,
    * against a driver-model apportionment. Planted corpus: 100 sources,
    * docs of source s carry n_chars = s+1, so w_s = ⌊√(m·(s+1))⌋ with m
    * docs per source — mirrored exactly in the driver (the same IEEE
    * sqrt both engines floor). Claims: (1) the output holds EXACTLY
    * K = n/2 rows; (2) every source's pick count equals the
    * largest-remainder model's quota exactly (base ⌊K·w/W⌋ plus one
    * leftover slot by (remainder desc, source asc)); (3) the picked SET is invariant
    * under input repartitioning (7 vs 13 input partitions → exceptAll
    * both ways empty) — the md5-keyed pick order is data-determined, so
    * the same corpus yields the same sample on any cluster layout, the
    * reproducibility contract a curation pipeline ships.
    */
  def runQuota(spark: SparkSession, n0: Long): Boolean = {
    import spark.implicits._
    val S = 100L
    val n = math.max(S * S, (n0 / S) * S)
    val m = n / S
    // K = n/2 keeps the heaviest source's quota at ~0.75 of its m docs
    // (its weight share is √S / Σ√(s+1) ≈ 1.49/S) at any n ≥ S², so no
    // quota outgrows its source
    val K = n / 2
    def docsWith(parts: Int) = spark.range(n).repartition(parts).select(
      $"id".as("doc_id"),
      concat(lit("src"), lpad(($"id" % S).cast("string"), 3, "0"))
        .as("source"),
      ($"id" % S + 1L).as("n_chars"))
    println(s"[stress] corpus: $n docs, $S sources x $m docs, K=$K")

    // Driver model (same IEEE sqrt + integer arithmetic the engine runs)
    val ws = (0 until S.toInt).map(s =>
      math.floor(math.sqrt((m * (s + 1)).toDouble)).toLong)
    val bigW = ws.sum
    val base = ws.map(w => K * w / bigW)
    val rem = ws.map(w => (K * w) % bigW)
    val leftover = K - base.sum
    val order = (0 until S.toInt).sortBy(s => (-rem(s), f"src$s%03d"))
    val bonus = order.take(leftover.toInt).toSet
    val expQuota = (0 until S.toInt)
      .map(s => f"src$s%03d" -> (base(s) + (if (bonus(s)) 1L else 0L)))
      .toMap

    val (picksA, _) = timedS("quota sample (7-partition input)") {
      Pack.quotaSampleOver(docsWith(7), K).ckptDisk()
    }
    val total = picksA.count()
    val gotQuota = picksA.groupBy($"source").count()
      .as[(String, Long)].collect().toMap
    val quotaBad = expQuota.count { case (s, q) =>
      gotQuota.getOrElse(s, 0L) != q }
    println(s"[stress] picked rows=$total (expect $K), " +
      s"sources with wrong count=$quotaBad, leftover slots=$leftover")

    val (picksB, _) = timedS("quota sample (13-partition input)") {
      Pack.quotaSampleOver(docsWith(13), K).ckptDisk()
    }
    val drift = picksA.exceptAll(picksB).count() +
      picksB.exceptAll(picksA).count()
    println(s"[stress] repartition drift rows=$drift (expect 0)")

    val ok = total == K && quotaBad == 0 && drift == 0
    ok
  }

  /** Postgres sink/source stress (round-12 `pg` scenario): n rows through
    * the wire-protocol COPY sink and the bound-partitioned read — the
    * PgSpec contract at ~200× its row count, with throughput printed and
    * content verified by an ORDER-INDEPENDENT engine-side checksum
    * (bit_xor of xxhash64 over every column, computed on the pre-write
    * frame and the post-read frame — a single dropped, duplicated, or
    * corrupted row flips it). Also replays one idempotent micro-batch at
    * scale: the delete-then-COPY contract must stay a row-level no-op
    * when the batch is 100k rows, not just PgSpec's three.
    */
  private def runPg(spark: SparkSession, n: Long): Boolean = {
    if (!PgLocalServer.available) {
      println("[stress] pg: postgres toolchain not on this image - SKIP")
      return true
    }
    val t = PgLocalServer.target()
    // The throwaway server + its /tmp data dir must not outlive the
    // scenario on ANY exit path — a mid-scenario failure would otherwise
    // leave them running until the JVM shutdown hook (round-12 ADVICE).
    try runPgBody(spark, n, t)
    finally PgLocalServer.stop()
  }

  private def runPgBody(
      spark: SparkSession, n: Long, t: graft.io.Pg.Target): Boolean = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val cores = spark.sparkContext.defaultParallelism
    val df = spark.range(0, n, 1, cores).select(
        $"id",
        md5(concat(lit("u"), ($"id" % 9973).cast("string"))).as("who"),
        (($"id" % 100000) / 100.0).as("v"),
        timestamp_micros(lit(1700000000000000L) + $"id" * 1000000L).as("ts"))
      .ckptDisk() // generation excluded from the timed write
    def checksum(frame: org.apache.spark.sql.DataFrame): Long =
      frame.select(expr("bit_xor(xxhash64(id, who, v, ts))").as("c"))
        .as[Long].head()
    val want = checksum(df)
    val (_, wSecs) = timedS(s"COPY write $n rows x ${cores} partitions") {
      graft.io.Pg.writePartitioned(df, t, "stress_rows", overwrite = true)
    }
    println(f"[stress] pg write throughput: ${n / wSecs}%.0f rows/s")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("who", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType)))
    val (back, rSecs) = timedS(s"bound-partitioned read x $cores") {
      graft.io.Pg.readPartitioned(spark, t, "stress_rows", schema,
        "id", 0L, n - 1, cores).ckptDisk()
    }
    println(f"[stress] pg read throughput: ${n / rSecs}%.0f rows/s")
    val nBack = back.count()
    val got = checksum(back)
    val batch = df.limit(100000).select($"id".as("k"), $"v")
    graft.io.Pg.writeBatchIdempotent(batch, 7L, t, "stress_mb")
    graft.io.Pg.writeBatchIdempotent(batch, 7L, t, "stress_mb") // replay
    val mbRows = {
      val c = t.connect()
      try c.query("SELECT count(*) FROM stress_mb").head.head.get.toLong
      finally c.close()
    }
    val okCount = nBack == n
    val okSum = got == want
    val okMb = mbRows == math.min(100000L, n)
    println(s"[stress] pg: rows $nBack/$n ${if (okCount) "OK" else "MISMATCH"}; " +
      s"checksum ${if (okSum) "OK" else s"MISMATCH ($got != $want)"}; " +
      s"replayed micro-batch rows $mbRows ${if (okMb) "OK (no-op)" else "DUPLICATED"}")
    okCount && okSum && okMb
  }

  /** The dedup scenario this harness is named for (see the object doc):
    * signatures → LSH pairs → exact-Jaccard verify → connected components
    * over the planted-group [[corpus]], timed end to end.
    */
  def runDedup(spark: SparkSession, n: Long): Boolean = {
    import spark.implicits._
    val docs = corpus(spark, n).ckptDisk() // generation cost excluded
    println(s"[stress] corpus: $n docs in groups of $GroupSize, $DocTokens tokens each")

    val pairs = timed("signatures -> LSH bands -> capped pairs") {
      Dedup.dedupMinhashOver(Dedup.bandsOver(docs)).ckptDisk()
    }
    val nPairs = pairs.count()
    def intraOf(p: org.apache.spark.sql.DataFrame): Long =
      p.filter(($"doc_a" / GroupSize).cast("long") ===
        ($"doc_b" / GroupSize).cast("long")).count()
    val intraRaw = intraOf(pairs)
    println(s"[stress] raw pairs=$nPairs (intra-group=$intraRaw, " +
      s"cross-group=${nPairs - intraRaw} — LSH false-positive floor, grows with N)")

    // The verify stage is LOAD-BEARING at scale: raw-LSH pairs include
    // band-collision noise that grows ~N²/buckets and transitively merges
    // unrelated groups (at 500k docs raw clustering under-counts groups by
    // ~25%). Exact Jaccard filters them before connectivity.
    val verified = timed("jaccard verify stage") {
      Dedup.jaccardOver(docs, pairs)
        .filter($"jaccard" >= Cluster.VerifyThreshold)
        .select($"doc_a", $"doc_b").ckptDisk()
    }
    val nVerified = verified.count()

    // time BOTH solve paths: the hybrid gate (driver union-find at this pair
    // count) and the forced-distributed pointer-jumped propagation
    timed("connected components (forced distributed)") {
      Cluster.componentsOver(verified, driverSolveMaxPairs = 0L)
        .write.format("noop").mode("overwrite").save()
    }
    val clusters = timed("connected components (hybrid gate)") {
      Cluster.componentsOver(verified).ckptDisk()
    }
    val nClustered = clusters.count()
    val nClusters = clusters.filter($"is_keeper").count()

    val intra = intraOf(verified)
    val expectedGroups = n / GroupSize
    println(s"[stress] verified pairs=$nVerified (intra-group=$intra, " +
      s"cross-group=${nVerified - intra})")
    println(s"[stress] clustered_docs=$nClustered clusters=$nClusters " +
      s"(planted groups=$expectedGroups)")
    // Recovery needs LOWER bounds too — an upstream regression that zeroes
    // pair generation must fail loudly, not pass vacuously: nearly all docs
    // clustered, cluster count within ±10% of planted groups, and ≥99% of
    // verified pairs intra-group.
    val ok = nClustered * 100 >= n * 95 &&
      nClusters * 10 >= expectedGroups * 9 && nClusters * 10 <= expectedGroups * 11 &&
      nVerified > 0 && intra * 100 >= nVerified * 99
    ok
  }

  /** Every scenario by its command-line name. */
  val Scenarios: Map[String, (SparkSession, Long) => Boolean] = Map(
    "dedup" -> runDedup, "graph" -> runGraph, "randwalk" -> runRandWalk,
    "graphboundary" -> runGraphBoundary, "ckptlayout" -> runCkptLayout,
    "incrfold" -> runIncrFold, "retention" -> runRetention,
    "hh" -> runHeavyHitters, "sem" -> runSemantic, "ivfpq" -> runIvfPq,
    "multiprobe" -> runMultiprobe, "ppjoin" -> runPpjoin,
    "sketches" -> runSketches, "lshstream" -> runLshStream,
    "skew" -> runSkew, "asof" -> runAsOfStress, "scd" -> runScd,
    "sessions" -> runSessions, "evalstress" -> runEval, "quota" -> runQuota,
    "pg" -> runPg)

  /** The named scenario, or the usage line listing every name. */
  def scenario(name: String): Either[String, (SparkSession, Long) => Boolean] =
    Scenarios.get(name).toRight(
      "usage: runMain graft.tools.Stress [n] [scenario]\n" +
        s"  scenario: one of ${Scenarios.keys.toSeq.sorted.mkString(", ")} " +
        "(default dedup)")

  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toLong else 200000L
    val run = scenario(if (args.length > 1) args(1) else "dedup") match {
      case Right(run) => run
      case Left(usage) => System.err.println(usage); sys.exit(2)
    }
    val spark = Harness.session()
    val ok = try run(spark, n) finally spark.stop()
    println(s"[stress] structure recovered: ${if (ok) "YES" else "NO"}")
    if (!ok) sys.exit(1)
  }
}
