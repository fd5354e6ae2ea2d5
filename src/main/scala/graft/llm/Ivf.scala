package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Declared
import graft.io.Tables
import graft.llm.Similarity.{asDouble, cosineFast, cosineSql, roundedCosine}

/** IVF (inverted-file) coarse quantizer — the one place an ANN index is
  * built and probed. Every ANN query (x_ivf_topk, x_ivfpq_topk,
  * x_semantic_dedup, the [[AnnMulti]] family) and the PQ codebook seeds of
  * x_pq_assign go through its four stages:
  *
  *  1. [[seeds]]: stride seeds — the rows whose id is a multiple of
  *     max(1, n/k), the k smallest of them by id;
  *  2. [[train]]: the seeds refined by `lloyd` fixed-point Lloyd passes
  *     into (cid, centroid);
  *  3. [[assign]]: every vector → the cell of highest 6 dp-rounded cosine,
  *     ties to the lowest cid (the inverted lists are just a `cid` column,
  *     so they partition and bucket naturally);
  *  4. [[route]]: every probe → its `nProbe` nearest cells by the same
  *     rounded cosine and tie-break, so search is an equi-join on `cid`
  *     instead of a full cross join (candidates cut by ~nlist/nProbe).
  *
  * Every stage is arithmetic DuckDB reproduces bit for bit (id-picked
  * seeds, a fixed-point mean, rounded cosines, integer tie-breaks), which
  * is what lets the oracle gate pin the approximate routes (nProbe < nlist)
  * end to end, not just the exhaustive probe. A NULL cosine (a zero-norm
  * vector or centroid) loses to every non-NULL cell in both argmaxes.
  * Each stage's DuckDB twin ([[seedsSql]], [[trainSql]], [[assignSql]],
  * [[routeSql]]) sits beside it, and every ANN oracle composes those.
  */
object Ivf {

  /** Stage 1 — the seed vectors, in id order: rows whose `vec_id` is a
    * multiple of max(1, n/k), the k smallest ids among them. Fewer than k
    * when ids are sparse; none on an empty frame. A distributed top-k
    * (TakeOrderedAndProject), never a global sort: the round-1
    * `Window.orderBy(vec_id)` seeding forced every vector through one task.
    * Two actions: the row count and the seed collect; one when the caller
    * passes `rows`, the row count of `e` it already has.
    */
  def seeds(spark: SparkSession, e: DataFrame, k: Int, rows: Option[Long] = None): Seq[Seq[Double]] = {
    import spark.implicits._
    require(k > 0, s"seed count must be positive, got $k")
    val stride = math.max(1L, rows.getOrElse(e.count()) / k)
    e.filter(pmod($"vec_id", lit(stride)) === 0)
      .orderBy($"vec_id").limit(k)
      .select($"vec_id", $"v")
      .as[(Long, Seq[Double])].collect().sortBy(_._1).map(_._2).toSeq
  }

  /** [[seeds]]'s twin: CTE `name` (cid BIGINT, v) — the stride seeds of the
    * vector CTE `e` (vec_id, v), numbered in id order — after its stride
    * CTE `<name>st`.
    */
  private[llm] def seedsSql(name: String, k: Int): String =
    s"""${name}st AS (SELECT greatest(CAST(count(*) // $k AS BIGINT), 1) AS stride FROM e),
       |$name AS (
       | SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid, v
       | FROM (SELECT vec_id, v FROM e, ${name}st WHERE vec_id % stride = 0
       |       ORDER BY vec_id LIMIT $k))""".stripMargin

  /** Stage 2 — (cid int, centroid): the [[seeds]] numbered in id order,
    * then `lloyd` Lloyd passes. Centroids stay driver-local between passes
    * (nlist rows — the k-means shape: data distributed, every use a
    * broadcast); each pass is one [[assign]] plus one exact aggregate.
    *
    * The pass is FIXED-POINT so the oracle reproduces it bit-exactly: per
    * (cell, dim) the mean accumulates `round(x·10⁶)` BIGINTs (exact and
    * order-independent — a float mean's partial sums are neither) and the
    * component is the single division `Σ/(10⁶·n)` of two exactly
    * representable doubles. A cell that loses all members keeps its
    * previous centroid. `rows` is [[seeds]]'s: the row count of `e`, when
    * the caller already has it.
    */
  def train(spark: SparkSession, e: DataFrame, nlist: Int, lloyd: Int,
      rows: Option[Long] = None): DataFrame = {
    import spark.implicits._
    var cent = seeds(spark, e, nlist, rows).zipWithIndex.map { case (v, i) => (i, v) }
    (1 to lloyd).foreach { _ =>
      val refined = assign(spark, e, cent.toDF("cid", "centroid"))
        .join(e, "vec_id")
        .select($"cid", posexplode($"v").as(Seq("pos", "x")))
        .groupBy($"cid", $"pos")
        .agg(sum(round($"x" * 1000000L).cast("long")).as("sx"),
          count(lit(1)).as("cnt"))
        .groupBy($"cid")
        .agg(array_sort(collect_list(struct($"pos",
          ($"sx".cast("double") / ($"cnt" * 1000000L).cast("double")).as("m"))))
          .as("pm"))
        .select($"cid", transform($"pm", p => p.getField("m")).as("centroid"))
        .as[(Int, Seq[Double])].collect().toMap
      cent = cent.map { case (cid, v) => (cid, refined.getOrElse(cid, v)) }
    }
    cent.toDF("cid", "centroid")
  }

  /** [[train]]'s twin: CTE `name` (cid, v) — [[seedsSql]] unrolled through
    * `lloyd` fixed-point passes over the vector CTE `e`, each an
    * [[assignSql]] plus the exact per-(cell, dim) micro-unit mean; a cell
    * that loses all members keeps its previous centroid.
    */
  private[llm] def trainSql(name: String, nlist: Int, lloyd: Int): String =
    seedsSql(s"${name}0", nlist) + (1 to lloyd).map { k =>
      s""",
         |${assignSql(s"${name}a$k", s"$name${k - 1}")},
         |${name}m$k AS (
         | SELECT cid, pos,
         |  CAST(sum(CAST(round(x * 1000000) AS BIGINT)) AS DOUBLE)
         |   / CAST(count(*) * 1000000 AS DOUBLE) AS m
         | FROM (SELECT a.cid, generate_subscripts(e.v, 1) AS pos, unnest(e.v) AS x
         |       FROM ${name}a$k a JOIN e ON e.vec_id = a.vec_id)
         | GROUP BY cid, pos),
         |${name}r$k AS (SELECT cid, list(m ORDER BY pos) AS v FROM ${name}m$k GROUP BY cid),
         |$name$k AS (
         | SELECT s.cid, COALESCE(r.v, s.v) AS v
         | FROM $name${k - 1} s LEFT JOIN ${name}r$k r ON r.cid = s.cid)""".stripMargin
    }.mkString + s""",
       |$name AS (SELECT cid, v FROM $name$lloyd)""".stripMargin

  /** Stage 3 — (vec_id, cid): each vector of `e` (vec_id, v) to the
    * centroid of highest rounded cosine, ties to the lowest cid
    * (`max_by` over (sim, -cid)).
    *
    * Argmax via hash aggregate, NOT a row_number window: a window over the
    * crossJoin output would shuffle all N×nlist scored rows by vec_id —
    * an nlist-fold amplification of the hottest exchange in the index. The
    * aggregate reduces map-side (each partition keeps one running best per
    * vec_id), so the exchange carries one row per vector, and none at all
    * when `e` is already hash-partitioned by vec_id.
    */
  def assign(spark: SparkSession, e: DataFrame, centroids: DataFrame): DataFrame = {
    import spark.implicits._
    e.crossJoin(broadcast(centroids))
      .withColumn("sim", roundedCosine(spark, $"v", $"centroid"))
      .groupBy($"vec_id")
      .agg(max_by($"cid", struct($"sim", -$"cid")).as("cid"))
  }

  /** [[assign]]'s twin: CTE `name` (vec_id, cid) — each vector of `e` to
    * the centroid of CTE `centroids` (cid, v) of highest rounded cosine,
    * ties to the lowest cid.
    */
  private[llm] def assignSql(name: String, centroids: String): String =
    s"""$name AS (
       | SELECT vec_id, cid FROM (
       |  SELECT e.vec_id, c.cid,
       |   row_number() OVER (PARTITION BY e.vec_id ORDER BY ${cosineSql("e.v", "c.v")} DESC, c.cid) AS rk
       |  FROM e, $centroids c) WHERE rk = 1)""".stripMargin

  /** Stage 4 — the `nProbe` nearest cells of every probe (query_id, qv, …)
    * by the rounded cosine, ties to the lowest cid: the probe's columns
    * plus `cid` and its routing rank `prn` (1 = nearest). A window over
    * probes × nlist rows, never over the corpus.
    */
  def route(spark: SparkSession, probes: DataFrame, centroids: DataFrame,
      nProbe: Int): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"query_id").orderBy($"csim".desc, $"cid".asc)
    probes.crossJoin(broadcast(centroids))
      .withColumn("csim", roundedCosine(spark, $"qv", $"centroid"))
      .withColumn("prn", row_number().over(w))
      .filter($"prn" <= nProbe)
      .drop("centroid", "csim")
  }

  /** [[route]]'s twin: CTE `name` (query_id, cid, prn) — the `nProbe`
    * cells of CTE `centroids` (cid, v) nearest each probe of CTE `probes`
    * (query_id, qv), ties to the lowest cid.
    */
  private[llm] def routeSql(name: String, probes: String, centroids: String, nProbe: Int): String =
    s"""$name AS (
       | SELECT query_id, cid, prn FROM (
       |  SELECT p.query_id, c.cid,
       |   row_number() OVER (PARTITION BY p.query_id ORDER BY ${cosineSql("p.qv", "c.v")} DESC, c.cid) AS prn
       |  FROM $probes p, $centroids c) WHERE prn <= $nProbe)""".stripMargin

  /** Top-k cosine neighbors per query, searching only the nProbe inverted
    * lists [[route]] picks. queries: (query_id, qv) with ids in the vector
    * id space — a neighbor with vec_id == query_id is the query itself and
    * is dropped. Returns (query_id, neighbor_id, rnk, sim). roundSim ≥ 0
    * rounds the cosine to that many decimals BEFORE ranking (with -0.0
    * canonicalized) so an oracle's float fold ranks identically.
    */
  def search(
      spark: SparkSession,
      vectors: DataFrame,
      centroids: DataFrame,
      queries: DataFrame,
      k: Int,
      nProbe: Int,
      roundSim: Int = -1): DataFrame = {
    import spark.implicits._
    val lists = assign(spark, vectors, centroids)
      .join(vectors, "vec_id")
      .select($"cid", $"vec_id".as("neighbor_id"), $"v".as("nv"))
    val rawSim = cosineFast(spark, $"qv", $"nv")
    val simCol = if (roundSim >= 0) round(rawSim, roundSim) + lit(0.0) else rawSim
    val wTop = Window.partitionBy($"query_id").orderBy($"sim".desc, $"neighbor_id".asc)
    route(spark, queries, centroids, nProbe)
      .join(lists, "cid") // equi-join on the inverted-list id: the ANN win
      .filter($"query_id" =!= $"neighbor_id")
      .withColumn("sim", simCol)
      .withColumn("rnk", row_number().over(wTop))
      .filter($"rnk" <= k)
      .select($"query_id", $"neighbor_id", $"rnk", $"sim")
  }

  val TopKList = 8   // declared-query nlist
  val TopKK = 8      // declared-query k

  /** x_ivf_topk — the declared, oracle-gated face of the exhaustive probe:
    * 8 stride-seeded lists over `embeddings`, then 5 probe vectors (ids
    * 5..9) searched with nProbe = nlist. Exhaustive probe makes the result
    * EXACTLY the brute-force top-k whatever the centroids are (so no Lloyd
    * pass is run), and the DuckDB oracle gates the whole assign → route →
    * inverted-list-join machinery end to end; the nProbe < nlist routes
    * are gated through [[AnnMulti]] and [[IvfPq]].
    */
  def ivfTopK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddings(spark, dir)
      .select($"vec_id", asDouble($"embedding").as("v"))
    val centroids = train(spark, e, TopKList, lloyd = 0)
    val probes = e.filter($"vec_id" >= 5 && $"vec_id" < 10)
      .select($"vec_id".as("query_id"), $"v".as("qv"))
    search(spark, e, centroids, probes, k = TopKK, nProbe = TopKList, roundSim = 6)
      .orderBy($"query_id", $"rnk")
  }

  /** Oracle: brute-force cosine top-k — by construction identical to the
    * exhaustive-probe IVF search above.
    */
  val ivfTopKSql: String =
    Similarity.bruteTopKSql("q.vec_id >= 5 AND q.vec_id < 10", TopKK)

  val declared: Seq[Declared] = Seq(
    Declared("x_ivf_topk", ivfTopK, Some(ivfTopKSql)))
}
