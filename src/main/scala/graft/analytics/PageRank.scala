package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Declared
import graft.io.Tables
import graft.util.Ckpt._

/** Iterative graph analytics over the [[CoPurchase]] graph. PageRank runs
  * a fixed 4 iterations in INTEGER RANK UNITS (total mass 10^12, integer
  * division throughout), so every iteration is exact and order-independent
  * — float PageRank drifts across partition orders and can never
  * hash-match an oracle. Flooring leaks a little mass per step
  * (standard for integer PR); identical leakage on both engines.
  *
  * Scale notes: the edge blow-up is bounded by per-order basket size (≤7
  * TPC-H items, so ≤42 directed pairs per order), not by table size. Each
  * iteration is one equi-join (ranks ⋈ edges on src) + one aggregate on
  * dst: 2 shuffles per step, both on graph keys — the canonical
  * distributed-PR shape (Spark's own GraphX Pregel does the same
  * dataflow). Degree rides along in the rank frame so no per-iteration
  * re-join against a degree table (the measured per-round-join trap in
  * docs/BENCH_NOTES.md).
  */
object PageRank {

  val TotalMass = 1000000000000L
  val Iterations = 4

  /** Full (part, deg, rank) frame after [[Iterations]] synchronous steps —
    * the complete result a caller would persist; x_pagerank declares its
    * top-20 cut.
    */
  def ranks(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // The edge set is the co-purchase pairs deduped: repartition(n, dst)
    // THEN dedup on (src, dst) — HashPartitioning(dst) satisfies
    // ClusteredDistribution(src, dst), since equal pairs share a dst, so
    // the dedup aggregate runs partition-local with no second exchange and
    // lands already dst-partitioned for the checkpoint. DST, not src: on
    // the broadcast-rank path every iteration's rank ⋈ edges join streams
    // the edge side (its partitioning is free to choose), and a
    // dst-partitioned edge frame makes the inflow groupBy(dst)
    // PARTITION-LOCAL — zero per-iteration exchanges, where
    // src-partitioning paid one edge-bounded exchange per iteration (the
    // dominant steady-state cost: x_pagerank 4.2 → 3.1 s isolated at
    // sf0.1). The one-time deg aggregate moves to the other side of the
    // trade: it exchanges once, node-bounded after partial aggregation. A
    // graph PAST the broadcast gate wants the opposite layout — the
    // caller's choice at the [[ranksOver]] seam, documented there; THIS
    // layout serves the declared fixture queries, whose ~200k-part graph
    // sits on the broadcast path up to SF≈5 (part count is 200k·SF
    // against the 1M-node gate).
    val edges = CoPurchase.pairs(CoPurchase.baskets(Tables.lineitem(spark, dir)))
      .repartition(spark.sparkContext.defaultParallelism, $"dst")
      .dropDuplicates(Seq("src", "dst"))
    // The edge set appears once per iteration in the final plan; without
    // materialization Spark re-runs the pair build + distinct each time
    // (measured 9.4 s -> ~2 s at sf0.1). localCheckpoint truncates lineage
    // and pins the (small, bounded by basket-size²·orders) edge list in
    // executor storage; on a resilient cluster swap for persist(DISK_ONLY)
    // or a reliable checkpoint, as in the Jaccard pipeline.
    // ckptDisk KEEPS the dst layout across the lineage cut (under AQE,
    // Spark's own localCheckpoint would report UnknownPartitioning —
    // Bridge.repairCheckpointLayout re-attaches the final plan's
    // partitioning; DiffPageRankSpec pins the effect): every iteration's
    // broadcast-rank join streams the edge side in place and its inflow
    // groupBy(dst) aggregates partition-local — the steady state is ZERO
    // exchanges per iteration.
    // DISK_ONLY: the default (deserialized MEMORY_AND_DISK) pinned ~|E| rows
    // of java objects in the storage region, and under suite-level heap
    // pressure eviction + GC inflated this query 4-6x run-to-run (round-5
    // driver bench: 20.4/14.6/12.4 s vs 3.6 s isolated). Serialized disk
    // blocks cost one stable re-read per iteration and CANNOT be evicted
    // mid-query, making the cost insensitive to suite position.
    ranksOver(edges.ckptDisk())
  }

  /** Above this node count the per-iteration broadcast hints switch off:
    * a 10M-row rank frame broadcast 4 times is slower than letting both
    * sides use their existing src-partitioning, and a 100M-row one is an
    * OOM. Measured crossover on the stress graph (2.05M nodes, 6.1M
    * edges): hinted 26.3 s vs partitioned 12.7 s; the fixture graphs
    * (~200k nodes) stay hinted and keep their measured 3.7 s.
    */
  val BroadcastNodeLimit = 1000000L

  /** Same [[Iterations]]-step integer PageRank over any directed edge
    * frame (src, dst) — distinct edges, lineage-truncated, and partitioned
    * for the path the caller's scale selects: DST-partitioned when the
    * node set is broadcast-sized (the per-iteration inflow groupBy(dst)
    * then runs partition-local — zero exchanges per iteration; what
    * [[ranks]] delivers), SRC-partitioned past [[BroadcastNodeLimit]]
    * (the shuffle join then moves only the node-sized rank frame each
    * iteration and the inflow exchange is the price; what the stress
    * harness's multi-million-node graphs use). A mismatched layout is
    * never wrong, only slower: the joins/aggregates insert the exchanges
    * the layout didn't pre-pay. The seam the scale-stress harness drives
    * with synthetic multi-million-edge graphs.
    *
    * Strategy–layout interaction, measured after the round-10 checkpoint
    * layout repair (graphboundary stress, 960k nodes, src-laid-out
    * substrate): the forced-partitioned path now runs 8.5 s where the
    * hinted path runs 12.1 s — the repair made co-partitioned iteration
    * joins cheap enough that per-iteration broadcast BUILDS of a ~1M-row
    * rank frame are the bigger cost. The gate stays node-count-keyed
    * (it is ultimately a broadcast MEMORY bound, and small graphs still
    * broadcast cheaply), so a caller near the gate with a src-laid-out
    * frame should force the partitioned path via
    * `dstNodeBound = Some(Long.MaxValue)`; a dst-laid-out frame under
    * the gate gets the zero-exchange broadcast iteration (the declared
    * x_pagerank shape) and has no reason to flip early.
    *
    * `dstNodeBound`: an upper bound on the DISTINCT dst cardinality, used
    * with the (exactly counted, ~free) src cardinality to size the
    * per-iteration broadcast hints. The default `None` asserts the graph
    * is endpoint-symmetric (dst set ⊆ src set) — TRUE for the declared
    * co-purchase graph, whose every edge is emitted in both directions —
    * so src alone bounds both broadcast frames. A sink-heavy caller (few
    * crawlers fanning out to many dst-only pages: the inflow frame is
    * dst-keyed and src gives NO bound on it) must pass its dst bound, or
    * `Some(Long.MaxValue)` to force the partitioned path. A bound
    * parameter instead of a runtime probe because the probe was measured
    * at 0.4-1.0 s per call (exact countDistinct expands the edge frame;
    * even an approx pass re-reads the DISK_ONLY blocks) — a real tax on
    * every fixture query to defend against a caller who already knows
    * their graph's shape.
    */
  private[graft] def ranksOver(
      e: DataFrame,
      dstNodeBound: Option[Long] = None): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    val deg = e.groupBy($"src").agg(count(lit(1)).as("deg"))
    val nNodes = deg.agg(count(lit(1)).as("n"))
    // The static (node, deg, n) frame is materialized once; each iteration
    // derives the NEW ranks from it plus the inflow aggregate, so the
    // previous rank frame is referenced exactly ONCE per level. Referencing
    // it twice (as join input and as carry-through) doubles the executed
    // subtree per iteration — 2^k re-executions of the base by iteration k,
    // the classic iterative-lineage explosion (measured: 8.9 s vs 1.5 s at
    // sf0.1 for 4 iterations).
    // Same trick for the static frame: src-partitioned, so the per-iteration
    // degN ⋈ inflow join (src = dst) consumes degN in place, and the NEW rank
    // frame inherits src-partitioning through the aliasing projection —
    // which is exactly what the next iteration's rank ⋈ edges join needs.
    // Steady state: ONE exchange per iteration (the inflow aggregate).
    val degN = deg.crossJoin(broadcast(nNodes)).repartition($"src")
      .ckptDisk()
    // Both endpoint cardinalities gate the hints: the rank frame r is
    // src-keyed (counted exactly — degN is already materialized, so the
    // count is metadata-cheap), and the dst-keyed inflow frame is bounded
    // by srcCount under the default symmetric-graph contract or by the
    // caller-supplied dstNodeBound otherwise (see the scaladoc).
    val srcCount = degN.count()
    val hint = srcCount <= BroadcastNodeLimit &&
      dstNodeBound.getOrElse(srcCount) <= BroadcastNodeLimit
    def maybeBroadcast(df: DataFrame): DataFrame =
      if (hint) broadcast(df) else df
    var r = degN.select($"src".as("part"), $"deg",
      expr(s"$TotalMass DIV n").as("rank"))
    for (_ <- 1 to Iterations) {
      // Explicit broadcast on both node-sized frames WHILE the node set is
      // broadcast-sized: after iteration 1 the rank frame sits behind a
      // join+aggregate the planner cannot size, so it falls back to
      // SortMergeJoin — sorting per iteration (PLANS.md showed the SMJ;
      // measured 5.3 s → 4.1 s mid-suite with the hints). Past
      // [[BroadcastNodeLimit]] the hints switch OFF and the same dataflow
      // runs as partitioned joins on the already-src-distributed keys
      // (the Bfs rule): on the 2.05M-node stress graph that is 26.3 →
      // 12.9 s, and on a 100M-node graph it is the difference between
      // running and OOMing the driver.
      val inflow = maybeBroadcast(r).join(e, $"part" === $"src")
        .select($"dst", expr("rank DIV deg").as("c"))
        .groupBy($"dst").agg(sum($"c").as("inflow"))
      r = degN.join(maybeBroadcast(inflow), $"src" === $"dst", "left")
        .select($"src".as("part"), $"deg",
          expr(s"(15 * ($TotalMass DIV n)) DIV 100 + (85 * COALESCE(inflow, 0L)) DIV 100")
            .as("rank"))
    }
    r
  }

  /** x_pagerank — top-20 parts by integer-unit PageRank (damping 0.85,
    * 4 synchronous iterations) with their degree. Rank values are exact
    * BIGINTs, so the result hash-matches the oracle's unrolled iteration.
    */
  def pagerank(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    ranks(spark, dir)
      .orderBy($"rank".desc, $"part")
      .limit(20)
  }

  /** One unrolled oracle iteration (DuckDB `//` = floor division; operands
    * are non-negative so it matches Spark's truncating `DIV`).
    */
  private def iterSql(prev: String, cur: String): String =
    s"""$cur AS (
       | SELECT d.src AS part, d.deg, d.n,
       |  CAST((15 * (${TotalMass} // d.n)) // 100
       |       + (85 * COALESCE(i.inflow, 0)) // 100 AS BIGINT) AS rank
       | FROM deg_n d LEFT JOIN (
       |   SELECT e.dst, CAST(sum(r.rank // r.deg) AS BIGINT) AS inflow
       |   FROM $prev r JOIN e ON e.src = r.part GROUP BY e.dst) i
       | ON i.dst = d.src)""".stripMargin

  val pagerankSql: String = {
    val iters = (1 to Iterations)
      .map(i => iterSql(s"r${i - 1}", s"r$i")).mkString(",\n")
    s"""WITH ${CoPurchase.pairsSql()},
       |e AS (SELECT DISTINCT src, dst FROM pairs),
       |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
       |nn AS (SELECT count(*) AS n FROM deg),
       |deg_n AS (SELECT deg.src, deg.deg, nn.n FROM deg, nn),
       |r0 AS (
       | SELECT src AS part, deg, n,
       |  CAST(${TotalMass} // n AS BIGINT) AS rank
       | FROM deg_n),
       |$iters
       |SELECT part, deg, rank FROM r$Iterations
       |ORDER BY rank DESC, part
       |LIMIT 20""".stripMargin
  }

  val declared: Seq[Declared] = Seq(
    Declared("x_pagerank", pagerank, Some(pagerankSql)))
}
