package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Declared
import graft.io.Tables
import graft.util.Ckpt._

/** Deterministic random walks over the [[CoPurchase]] graph — the
  * walk-corpus generator a node2vec/DeepWalk-style graph-embedding
  * pipeline starts from (walks are the "sentences" the skip-gram stage
  * consumes). Each start node launches [[Walks]] walks of [[Steps]] steps;
  * the next hop is the out-neighbor minimizing `md5(start:walk:step:dst)`
  * with a `(hash, dst)` tie-break — hash-driven selection instead of an
  * RNG, so the walk corpus is REPRODUCIBLE under replay, repartitioning,
  * and engine (the property that lets an incremental pipeline re-run a
  * partition without invalidating every downstream embedding, and lets
  * the DuckDB oracle re-derive the identical corpus).
  *
  * Scale shape: one frontier of (sampled starts × walks) rows advances
  * through [[Steps]] rounds against [[CoPurchase.adjacency]], which streams
  * map-side in whatever layout it was built in (see [[randWalk]]).
  *
  * Walk-corpus derivations (visit counts, skip-gram pairs) are projections
  * of this output; the paths themselves are the declared contract.
  */
object RandWalk {

  val Steps = 3
  val Walks = 2

  /** 10¹⁹ — strictly greater than any BIGINT, so `h·PackBase + dst` orders
    * exactly like the pair (h, dst) with zero collision ambiguity.
    */
  val PackBase = "10000000000000000000"

  /** x_rand_walk — (start, walk) → the 3 hash-chosen hops.
    *
    * The edge frame is pre-aggregated ONCE into per-src adjacency arrays
    * (`src → array<dst>`), so each step is a broadcast equi-join of the
    * (tiny, never-growing) frontier against the adjacency frame plus a
    * PER-ROW argmin over the neighbor array — the native codegen'd
    * [[graft.functions.WalkPick]] — with NO aggregate and NO shuffle
    * anywhere in the loop (round 10 ran the argmin as a hash aggregate
    * over the full candidate fan-out: one exchange per step plus
    * per-candidate group-key hashing of the path array — pure machinery
    * around the md5s, which are the only essential work; and the HOF form
    * `array_min(transform(nbrs, d -> h(d)·10¹⁹ + d))` tried first runs
    * the per-element md5 interpreted — a measured 30+ s JIT storm on the
    * suite's first execution, BENCH_NOTES #60/#64). The pick minimizes
    * the exact (h, dst) pair; h is the md5's first 15 hex chars as a
    * 60-bit long ([[graft.llm.Dedup]]'s parse — order-isomorphic to the
    * hex prefix), identical to the oracle's HUGEINT h·10¹⁹ + dst packing.
    * A walk at a sink node (no out-edges) drops out of the inner join —
    * the same death the fan-out join gave it.
    *
    * Every step executes the IDENTICAL plan shape on the IDENTICAL schema
    * `(start, walk, path: array<bigint>, cur)`: the step ordinal is derived
    * in-plan as `size(path) + 1` (not a per-step literal) and hops
    * accumulate in ONE array column, so the generated code is the same
    * source text every round and the Janino class cache compiles each
    * stage ONCE — the rewrite that killed the round-9 JVM-regime lottery
    * (docs/BENCH_NOTES.md #43/#52) and stays load-bearing here.
    *
    * Scale shape: frontier size is constant across rounds (walks never
    * fork), so cost is Steps × (broadcast join + array fold). At 100 TB
    * the adjacency frame is the big side — it streams map-side through
    * every step in whatever layout the one up-front aggregate left it in;
    * a frontier too big to broadcast would instead co-partition on the
    * current node, and a hub node whose neighbor array outgrows a task
    * would split its array across salted sub-rows and min the partials
    * (the argmin is associative) — neither regime changes the result.
    */
  def randWalk(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // The adjacency frame, not the 12× larger pair-level edge frame: the
    // checkpoint pins ~|V| rows. Array order is irrelevant downstream (the
    // packed pick is unique per dst), and a part only ever ordered alone
    // has no row, so it neither starts nor continues a walk — the sink
    // rule the oracle's edge join gives.
    val adj = CoPurchase.adjacency(CoPurchase.baskets(Tables.lineitem(spark, dir)))
      .ckptDisk()
    walksOver(adj).orderBy($"start", $"walk")
  }

  /** The deterministic ¼ start-sample (md5 hex gate) — a walk corpus is
    * built in sampled epochs, not from every node every time; the gate is
    * the same replay-stable selection the quota/stratified samplers use.
    * Exposed as ONE predicate so the stress harness derives its expected
    * start count from the SAME definition the operator runs (a drifted
    * parallel derivation would fail the scenario with a misleading
    * verdict — round-11 review).
    */
  private[graft] def startGate(node: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    substring(md5(concat(lit("ws:"), node.cast("string"))), 1, 1)
      .isin("0", "1", "2", "3")

  /** The walk loop over ANY adjacency frame `(src: long, nbrs:
    * array<long>)` with non-empty neighbor arrays — the seam the
    * scale-stress scenario drives with synthetic multi-million-node
    * graphs (layout-independence of the corpus is ITS claim to check,
    * so the caller controls the substrate's partitioning/checkpointing).
    * Unordered output (start, walk, n1..n3); the declared query adds its
    * canonical ORDER BY.
    */
  private[graft] def walksOver(adj: DataFrame): DataFrame = {
    val spark = adj.sparkSession
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val starts = adj.select($"src".as("start")).filter(startGate($"start"))
    var f = starts
      .select($"start",
        explode(array((0 until Walks).map(lit): _*)).as("walk"))
      .withColumn("path", array().cast("array<bigint>"))
      .withColumn("cur", $"start")
    (1 to Steps).foreach { _ =>
      // broadcast(f) is load-bearing: the frontier has no size stats after
      // step 1 and Spark otherwise broadcasts the ADJACENCY side — the
      // frontier is walks-per-start bounded and never grows, so it is
      // ALWAYS the broadcast side. Each step's join streams adj in place;
      // the whole loop runs as one shuffle-free plan per action.
      // walk_pick is the native codegen'd argmin ([[graft.functions
      // .WalkPick]]); the declarative array_min(transform(md5 ...)) form
      // it replaces is bit-identical but runs the per-element md5 as an
      // interpreted HOF — measured as a 30+ s JIT warm-up storm on the
      // suite's first execution (BENCH_NOTES #64).
      f = broadcast(f).join(adj, f("cur") === adj("src")).drop("src")
        .withColumn("nxt", expr("walk_pick(start, walk, size(path) + 1, nbrs)"))
        .select($"start", $"walk",
          concat($"path", array($"nxt")).as("path"), $"nxt".as("cur"))
    }
    f.select($"start", $"walk",
      $"path"(0).as("n1"), $"path"(1).as("n2"), $"path"(2).as("n3"))
  }

  val randWalkSql: String = {
    def stepSql(k: Int, from: String): String = {
      val carried = (1 until k).map(i => s"$from.n$i, ").mkString
      val cur = if (k == 1) s"$from.start" else s"$from.n${k - 1}"
      // the same h·10¹⁹+dst packing as the Spark side (HUGEINT arithmetic),
      // so both engines resolve even a 60-bit hash collision identically
      s"""s$k AS (
         | SELECT $from.start, $from.walk, $carried
         |  CAST(min(
         |    CAST(CAST('0x' || substr(md5(concat_ws(':',
         |      CAST($from.start AS VARCHAR), CAST($from.walk AS VARCHAR),
         |      '$k', CAST(e.dst AS VARCHAR))), 1, 15) AS BIGINT) AS HUGEINT)
         |    * $PackBase + e.dst) % $PackBase AS BIGINT) AS n$k
         | FROM $from JOIN e ON $cur = e.src
         | GROUP BY ALL)"""
    }
    val steps = (1 to Steps)
      .map(k => stepSql(k, if (k == 1) "f0" else s"s${k - 1}"))
      .mkString(",\n")
    s"""WITH ${CoPurchase.pairsSql()},
       |e AS (SELECT DISTINCT src, dst FROM pairs),
       |starts AS (
       | SELECT DISTINCT src AS start FROM e
       | WHERE substr(md5('ws:' || CAST(src AS VARCHAR)), 1, 1)
       |   IN ('0', '1', '2', '3')),
       |f0 AS (
       | SELECT start, walk, start AS cur
       | FROM starts CROSS JOIN (SELECT unnest([0, 1]) AS walk)),
       |$steps
       |SELECT start, walk, n1, n2, n3 FROM s$Steps
       |ORDER BY start, walk""".stripMargin
  }

  val declared: Seq[Declared] = Seq(
    Declared("x_rand_walk", randWalk, Some(randWalkSql)))
}
