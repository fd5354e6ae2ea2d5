package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Declared
import graft.io.Tables
import graft.util.Ckpt._

/** Structural graph analytics over the co-purchase graph: common-neighbor
  * (Jaccard) link prediction and k-core decomposition — the two
  * neighborhood-structure operators [[PageRank]] (influence) and
  * [[Triangles]] (closure) don't cover.
  *
  * Both run on the SAME declared substrate: the co-purchase graph induced
  * on parts with `p_partkey % InducedMod = 0` — an induced subgraph dense
  * enough (mean degree ~12–16 at every fixture SF) that cores and shared
  * neighborhoods are non-vacuous, declared in the oracle by the identical
  * predicate, applied to lineitem before the [[CoPurchase]] baskets.
  *
  * Scale: the wedge join (common neighbors) is bounded by Σ deg(w)² over
  * the induced graph — the induced-subgraph predicate is exactly the
  * degree-capping knob a 100 TB run turns (sample the universe, or
  * pre-filter to edges with weight ≥ w to sparsify hubs). The k-core peel
  * is [[KcoreRounds]] synchronous rounds, each one aggregate + one
  * broadcast semi-join against the (node-bounded) survivor set — no
  * driver-side graph state.
  */
object Neighbors {

  val InducedMod = 8
  val CoreK = 8L
  /** Fixed synchronous peel rounds — the declared semantics is "the
    * survivor set after exactly this many peels" (= the true k-core once
    * the fixpoint lands inside the bound; the spec proves it does at every
    * fixture SF, with one spare round).
    */
  val KcoreRounds = 6

  /** Undirected induced co-purchase edges, canonical (a < b), distinct. */
  private def inducedEdges(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, dir)
      .filter(pmod($"l_partkey", lit(InducedMod)) === 0)
    CoPurchase.pairs(CoPurchase.baskets(li)).where($"src" < $"dst")
      .select($"src".as("a"), $"dst".as("b")).distinct()
  }

  /** The twin of [[inducedEdges]]: CTE `und`; `materialized = true` pins
    * it so a consumer that references it many times (the k-core round
    * chain) never re-inlines the lineitem self-join.
    */
  private def inducedEdgesCte(materialized: Boolean = false): String = {
    val m = if (materialized) "MATERIALIZED " else ""
    s"""${CoPurchase.pairsSql(s"l_partkey % $InducedMod = 0")},
       |und AS ${m}(SELECT DISTINCT src AS a, dst AS b FROM pairs WHERE src < dst)""".stripMargin
  }

  /** x_graph_jaccard — top-50 node pairs by neighborhood Jaccard
    * similarity (shared co-purchase context, the link-prediction score):
    * wedge-count common neighbors, degrees from one aggregate,
    * `jac_ppm = common·10⁶ div (deg_u + deg_v − common)` exact.
    */
  def graphJaccard(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val und = inducedEdges(spark, dir)
    val de = und.select($"a".as("s"), $"b".as("d"))
      .unionAll(und.select($"b".as("s"), $"a".as("d")))
    val deg = de.groupBy($"s").agg(count(lit(1)).as("deg"))
    val e2 = de.select($"s", $"d".as("d2"))
    val common = de.join(e2, Seq("s"))
      .filter($"d" < $"d2")
      .groupBy($"d".as("u"), $"d2".as("v"))
      .agg(count(lit(1)).as("common"))
    common
      .join(broadcast(deg.select($"s".as("u"), $"deg".as("deg_u"))), "u")
      .join(broadcast(deg.select($"s".as("v"), $"deg".as("deg_v"))), "v")
      .select($"u", $"v", $"common", $"deg_u", $"deg_v",
        expr("common * 1000000 div (deg_u + deg_v - common)").as("jac_ppm"))
      .orderBy($"jac_ppm".desc, $"u", $"v")
      .limit(50)
  }

  val graphJaccardSql: String =
    s"""WITH ${inducedEdgesCte()},
       |de AS (SELECT a AS s, b AS d FROM und
       |       UNION ALL SELECT b AS s, a AS d FROM und),
       |deg AS (SELECT s, count(*) AS deg FROM de GROUP BY 1),
       |cm AS (
       | SELECT e1.d AS u, e2.d AS v, count(*) AS common
       | FROM de e1 JOIN de e2 ON e1.s = e2.s AND e1.d < e2.d
       | GROUP BY 1, 2)
       |SELECT cm.u, cm.v, cm.common, du.deg AS deg_u, dv.deg AS deg_v,
       | cm.common * 1000000 // (du.deg + dv.deg - cm.common) AS jac_ppm
       |FROM cm JOIN deg du ON cm.u = du.s JOIN deg dv ON cm.v = dv.s
       |ORDER BY jac_ppm DESC, u, v
       |LIMIT 50""".stripMargin

  /** x_kcore — the [[CoreK]]-core of the induced graph after
    * [[KcoreRounds]] synchronous peels: per round, degrees over edges with
    * both ends alive, survivors = degree ≥ k. Output: core members with
    * their in-core degree.
    */
  def kcore(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val und = inducedEdges(spark, dir).ckptDisk()
    def degrees(edges: DataFrame): DataFrame =
      edges.select($"a".as("node")).unionAll(edges.select($"b".as("node")))
        .groupBy($"node").agg(count(lit(1)).as("deg"))
    // the survivor set shrinks monotonically, so each round only needs the
    // LATEST alive frame against the checkpointed edge substrate — one
    // broadcast join pair per round, not a growing filter stack
    var alive: DataFrame = degrees(und).select($"node")
    for (_ <- 1 to KcoreRounds) {
      val cur = und
        .join(broadcast(alive.select($"node".as("a"))), "a")
        .join(broadcast(alive.select($"node".as("b"))), "b")
      // survivor set is node-bounded; materialize so the next round's
      // broadcast doesn't re-run the whole peel chain
      alive = degrees(cur).filter($"deg" >= CoreK).select($"node").ckptDisk()
    }
    val finalEdges = und
      .join(broadcast(alive.select($"node".as("a"))), "a")
      .join(broadcast(alive.select($"node".as("b"))), "b")
    degrees(finalEdges).orderBy($"node")
  }

  val kcoreSql: String = {
    // every CTE is MATERIALIZED: the default inlining would expand the
    // round-chain exponentially (each round references its predecessor
    // twice), re-instantiating the lineitem scan 2^rounds times
    val rounds = (1 to KcoreRounds).map { r =>
      s"""e$r AS MATERIALIZED (SELECT a, b FROM und
         |  WHERE a IN (SELECT node FROM a${r - 1})
         |    AND b IN (SELECT node FROM a${r - 1})),
         |a$r AS MATERIALIZED (
         | SELECT node FROM (
         |  SELECT node, count(*) AS deg FROM (
         |   SELECT a AS node FROM e$r UNION ALL SELECT b AS node FROM e$r)
         |  GROUP BY node) WHERE deg >= ${CoreK})""".stripMargin
    }.mkString(",\n")
    s"""WITH ${inducedEdgesCte(materialized = true)},
       |a0 AS MATERIALIZED (
       | SELECT DISTINCT a AS node FROM und
       | UNION SELECT DISTINCT b AS node FROM und),
       |$rounds,
       |ef AS MATERIALIZED (SELECT a, b FROM und
       |  WHERE a IN (SELECT node FROM a${KcoreRounds})
       |    AND b IN (SELECT node FROM a${KcoreRounds}))
       |SELECT node, count(*) AS deg
       |FROM (SELECT a AS node FROM ef UNION ALL SELECT b AS node FROM ef)
       |GROUP BY node
       |ORDER BY node""".stripMargin
  }

  val declared: Seq[Declared] = Seq(
    Declared("x_graph_jaccard", graphJaccard, Some(graphJaccardSql)),
    Declared("x_kcore", kcore, Some(kcoreSql)))
}
