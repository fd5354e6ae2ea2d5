package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The co-purchase graph, derived from the order feed in one place: parts
  * are nodes, and two parts are adjacent when some order contains both
  * (the association structure a recommender or basket analysis starts
  * from). [[PageRank]], [[ShortestPath]], [[Triangles]], [[RandWalk]],
  * [[Neighbors]] and [[Basket]] build on [[baskets]] and keep only their
  * own step on top; [[Bfs]] walks the bipartite part–order incidence
  * instead, but its oracle, like the other six, composes [[pairsSql]].
  *
  * Basket shape, not a self-join (the measured trap): ONE shuffle of the
  * narrow (orderkey, partkey) projection into per-order baskets, then the
  * ≤42 directed pairs per basket are exploded map-side AFTER the exchange
  * — the self-join form shuffles lineitem twice (both join inputs) and only
  * then expands. `collect_set` is safe exactly because the basket, not the
  * table, bounds it (≤7 items per order at any SF); for a graph whose
  * adjacency is NOT group-bounded, keep the self-join form instead. It
  * also dedups (order, part) inside the aggregate, so a pre-aggregate
  * `distinct()` would shuffle lineitem a second time for nothing (round-7
  * finding: x_basket_pairs 7.2 s driver-side, half of it that exchange).
  *
  * Every repartition of the graph passes an EXPLICIT partition count: it
  * opts out of AQE coalescing, which targets ~64 MB scan-shaped partitions
  * (measured 16, idling half the cores), while the graph steps downstream
  * are CPU-bound, so one partition per core wins (measured 1.9 s → 0.8 s
  * per PageRank inflow aggregate at sf0.1).
  */
object CoPurchase {

  /** `(l_orderkey, ps)`: each order's set of distinct parts — the one
    * basket aggregate. `li` is lineitem or any filter of it (an induced
    * subgraph filters parts before the aggregate).
    */
  def baskets(li: DataFrame): DataFrame =
    li.select(col("l_orderkey"), col("l_partkey"))
      .groupBy(col("l_orderkey")).agg(collect_set(col("l_partkey")).as("ps"))

  /** `(src, dst)`: both directions of every co-purchased pair, ONE row per
    * shared order — the basket is a set, so a count per (src, dst) is the
    * distinct shared-order count and a dedup is the directed edge set. A
    * caller that wants each undirected pair once keeps `src < dst`.
    */
  def pairs(baskets: DataFrame): DataFrame =
    baskets.select(explode(col("ps")).as("src"), col("ps"))
      .select(col("src"), explode(col("ps")).as("dst"))
      .where(col("src") =!= col("dst"))

  /** `(src, nbrs)`: each node's distinct neighbors, one row per node with
    * at least one — the edge set built array-shaped without the pair-level
    * frame. One src-keyed exchange of (src, basket) rows, then the per-src
    * dedup runs INSIDE the row (`array_distinct` over the concatenated
    * baskets), so a checkpoint of it pins ~|V| rows, not |E|, and lands
    * HashPartitioning(src). Array order is unspecified. A part only ever
    * ordered alone has no row, as it has no pair in [[pairs]].
    */
  def adjacency(baskets: DataFrame): DataFrame =
    baskets.select(explode(col("ps")).as("src"), col("ps"))
      .repartition(baskets.sparkSession.sparkContext.defaultParallelism, col("src"))
      .groupBy(col("src"))
      .agg(array_distinct(flatten(collect_list(col("ps")))).as("nbrs0"))
      .select(col("src"), array_remove(col("nbrs0"), col("src")).as("nbrs"))
      .filter(size(col("nbrs")) > 0)

  /** The DuckDB twin, as two CTEs: `li`, the distinct (order, part) rows of
    * lineitem (kept to `where` when given — the twin of a filtered `li`),
    * and `pairs`, their self-join on the order: the rows of [[pairs]] over
    * [[baskets]] of the same `li`, one per shared order.
    */
  def pairsSql(where: String = ""): String = {
    val filter = if (where.isEmpty) "" else s" WHERE $where"
    s"""li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem$filter),
       |pairs AS (
       | SELECT a.l_partkey AS src, b.l_partkey AS dst
       | FROM li a JOIN li b
       |   ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey)""".stripMargin
  }
}
