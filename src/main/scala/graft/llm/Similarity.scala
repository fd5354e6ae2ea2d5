package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.io.Tables
import graft.util.Ckpt._

/** Similarity search over the `embeddings` table (embedding: array<float>,
  * dim 64). Brute-force cosine top-k as the exact baseline, and an
  * LSH-bucketed (random-hyperplane signbit) variant as the scale path.
  *
  * Vector math runs through the native `cosine_sim` Catalyst expression
  * (graft.functions.CosineSimilarity — one fused codegen loop); the
  * higher-order-function forms (`dot`/`norm2`/`cosine`) are kept as the
  * reference implementation and fold in the same left-to-right order, so
  * both are bit-identical. Cosine values are rounded to 6 decimals before
  * ranking so the oracle's float fold agrees; ties break on neighbor id.
  *
  * Scale notes: brute-force is O(Q·N) — fine when Q is small (the declared
  * query uses 5 probe vectors) because the N-side streams through a map-only
  * plan with the Q-side broadcast. For large Q·N, `bucketedTopK` blocks by
  * hyperplane-sign buckets so candidate generation is an equi-join on the
  * bucket key, the standard LSH argument (same shape as Dedup's band join).
  */
object Similarity {

  /** Sum of element products of two double arrays (deterministic fold). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  def norm2(a: Column): Column =
    aggregate(transform(a, x => x * x), lit(0.0), (acc, v) => acc + v)

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / sqrt(norm2(a) * norm2(b))

  /** Native-Expression cosine (graft.functions.CosineSimilarity): one fused
    * codegen loop instead of interpreted higher-order folds. Bit-identical to
    * [[cosine]] (same left-to-right accumulation), so oracle-safe. Requires
    * [[GraftFunctions.register]] (idempotent) on the session.
    */
  def cosineFast(spark: SparkSession, a: Column, b: Column): Column = {
    GraftFunctions.register(spark)
    call_function("cosine_sim", a, b)
  }

  private def asDouble(emb: Column): Column = transform(emb, x => x.cast("double"))

  /** x_sim_topk — exact brute-force cosine top-10 for probe vectors vec_id<5. */
  def simTopK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddings(spark, dir)
      .select($"vec_id", asDouble($"embedding").as("v"))
    val probes = e.filter($"vec_id" < 5)
      .select($"vec_id".as("query_id"), $"v".as("qv"))
    val sims = broadcast(probes).crossJoin(
        e.select($"vec_id".as("neighbor_id"), $"v".as("nv")))
      .filter($"query_id" =!= $"neighbor_id")
      // + 0.0 canonicalizes -0.0 so both engines hash identically
      .withColumn("sim", round(cosineFast(spark, $"qv", $"nv"), 6) + lit(0.0))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"query_id").orderBy($"sim".desc, $"neighbor_id".asc)
    sims.withColumn("rnk", row_number().over(w))
      .filter($"rnk" <= 10)
      .select($"query_id", $"neighbor_id", $"rnk", $"sim")
      .orderBy($"query_id", $"rnk")
  }

  val simTopKSql: String =
    """WITH e AS (
      | SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      | FROM embeddings),
      |pairs AS (
      | SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |  round(
      |   list_sum(list_transform(list_zip(q.v, c.v), p -> p[1] * p[2])) /
      |   sqrt(list_sum(list_transform(q.v, x -> x * x)) * list_sum(list_transform(c.v, x -> x * x))),
      |   6) + 0.0 AS sim
      | FROM e q, e c
      | WHERE q.vec_id < 5 AND q.vec_id != c.vec_id),
      |ranked AS (
      | SELECT query_id, neighbor_id, sim,
      |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS INTEGER) AS rnk
      | FROM pairs)
      |SELECT query_id, neighbor_id, rnk, sim
      |FROM ranked WHERE rnk <= 10
      |ORDER BY query_id, rnk""".stripMargin

  /** Random-hyperplane signbit bucket key: `bits` dims' sign pattern
    * starting at `offset` — ONE definition of the oracle-sensitive bucket
    * derivation, shared by simBucketed (offset 0) and dedupEmbed's
    * multi-table variant. A vector shorter than `offset + bits` reads its
    * missing dims as NULL → '0', like DuckDB's out-of-range `v[i]`. (With
    * driver-fixed "hyperplanes" = coordinate axes, which is deterministic
    * and oracle-expressible; a production deployment would use seeded
    * Gaussian hyperplanes via the same expression shape.)
    */
  def signBucket(v: Column, bits: Int, offset: Int = 0): Column =
    concat((0 until bits).map(i =>
      when(try_element_at(v, lit(offset + i + 1)) >= 0.0, lit("1")).otherwise(lit("0"))): _*)

  /** x_sim_bucketed — LSH-bucketed approximate neighbor candidates: pairs in
    * the same signbit bucket with cosine ≥ 0.2. Equi-join on the bucket key.
    */
  def simBucketed(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddings(spark, dir)
      .select($"vec_id", asDouble($"embedding").as("v"))
      .withColumn("bucket", signBucket($"v", 8))
    val l = e.select($"bucket", $"vec_id".as("vec_a"), $"v".as("va"))
    val r = e.select($"bucket", $"vec_id".as("vec_b"), $"v".as("vb"))
    l.join(r, Seq("bucket"))
      .filter($"vec_a" < $"vec_b")
      .withColumn("sim", round(cosineFast(spark, $"va", $"vb"), 6) + lit(0.0))
      .filter($"sim" >= 0.2)
      .select($"vec_a", $"vec_b", $"sim")
      .orderBy($"vec_a", $"vec_b")
  }

  val simBucketedSql: String =
    """WITH e AS (
      | SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      | FROM embeddings),
      |b AS (
      | SELECT vec_id, v,
      |  list_aggregate(list_transform(v[1:8], x -> CASE WHEN x >= 0.0 THEN '1' ELSE '0' END), 'string_agg', '') AS bucket
      | FROM e),
      |pairs AS (
      | SELECT l.vec_id AS vec_a, r.vec_id AS vec_b,
      |  round(
      |   list_sum(list_transform(list_zip(l.v, r.v), p -> p[1] * p[2])) /
      |   sqrt(list_sum(list_transform(l.v, x -> x * x)) * list_sum(list_transform(r.v, x -> x * x))),
      |   6) + 0.0 AS sim
      | FROM b l JOIN b r ON l.bucket = r.bucket AND l.vec_id < r.vec_id)
      |SELECT vec_a, vec_b, sim
      |FROM pairs WHERE sim >= 0.2
      |ORDER BY vec_a, vec_b""".stripMargin

  /** Fixture-calibrated: the synthetic embeddings are near-random, so
    * bucketed-candidate cosines top out at ~0.47/0.51/0.53 at
    * sf0.001/0.01/0.1 — a production near-dup threshold (0.9) gates on a
    * provably empty set at every SF and the query proves nothing. 0.44
    * keeps every stage of the route (4-table banding, bucket equi-join,
    * cross-table DISTINCT, exact-cosine filter) exercised with non-empty
    * output at all three SFs; a real corpus with actual duplicates would
    * set 0.9 here.
    */
  val EmbedDupThreshold = 0.44
  val EmbedTables = 4  // sign-LSH tables
  val EmbedBits = 6    // bits per table: recall for cos≥0.9 ≈ 1-(1-0.39)^4 ≈ 0.86

  /** x_dedup_embed — embedding-cosine near-duplicate pairs. Candidates come
    * from FOUR independent sign-LSH tables (6 bits each over different dim
    * spans): a single wide signbit bucket (as in simBucketed) has ~0.29
    * recall at cos 0.9; four 6-bit tables lift it to ~0.86 while candidate
    * generation stays a groupBy+equi-join on (table, bucket). Exact cosine
    * then filters candidates at the threshold.
    */
  def dedupEmbed(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddings(spark, dir)
      .select($"vec_id", asDouble($"embedding").as("v"))
    val tables = (0 until EmbedTables).map { t =>
      struct(lit(t).as("tbl"),
        signBucket($"v", EmbedBits, offset = t * EmbedBits).as("bucket"))
    }
    val bands = e.select($"vec_id", $"v", explode(array(tables: _*)).as("x"))
      .select($"vec_id", $"v", $"x.tbl".as("tbl"), $"x.bucket".as("bucket"))
    val l = bands.select($"tbl", $"bucket", $"vec_id".as("vec_a"), $"v".as("va"))
    val r = bands.select($"tbl", $"bucket", $"vec_id".as("vec_b"), $"v".as("vb"))
    l.join(r, Seq("tbl", "bucket"))
      .filter($"vec_a" < $"vec_b")
      .withColumn("sim", round(cosineFast(spark, $"va", $"vb"), 6) + lit(0.0))
      .filter($"sim" >= EmbedDupThreshold)
      .select($"vec_a", $"vec_b", $"sim")
      .distinct()
      .orderBy($"vec_a", $"vec_b")
  }

  val dedupEmbedSql: String = {
    val tableRows = (0 until EmbedTables).map { t =>
      val u = if (t == 0) "" else "UNION ALL "
      val bits = (0 until EmbedBits)
        .map(i => s"CASE WHEN v[${t * EmbedBits + i + 1}] >= 0.0 THEN '1' ELSE '0' END")
        .mkString(" || ")
      s"${u}SELECT vec_id, v, $t AS tbl, $bits AS bucket FROM e"
    }.mkString("\n ")
    s"""WITH e AS (
       | SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       | FROM embeddings),
       |bands AS (
       | $tableRows)
       |SELECT DISTINCT l.vec_id AS vec_a, r.vec_id AS vec_b,
       | round(
       |  list_sum(list_transform(list_zip(l.v, r.v), p -> p[1] * p[2])) /
       |  sqrt(list_sum(list_transform(l.v, x -> x * x)) * list_sum(list_transform(r.v, x -> x * x))),
       |  6) + 0.0 AS sim
       |FROM bands l JOIN bands r ON l.tbl = r.tbl AND l.bucket = r.bucket AND l.vec_id < r.vec_id
       |WHERE round(
       |  list_sum(list_transform(list_zip(l.v, r.v), p -> p[1] * p[2])) /
       |  sqrt(list_sum(list_transform(l.v, x -> x * x)) * list_sum(list_transform(r.v, x -> x * x))),
       |  6) + 0.0 >= $EmbedDupThreshold
       |ORDER BY vec_a, vec_b""".stripMargin
  }

  /** x_embed_centroid — per-label centroid of the embedding space (the
    * class-prototype / IVF-seed computation). Each component is summed as a
    * micro-quantized integer (`round(x * 1e6)` on the exactly-widened float)
    * so the aggregate is order-independent — a raw float/double sum would
    * drift in the last bits under different partition orders and break both
    * the oracle hash and run-to-run reproducibility at scale. One explode +
    * one hash aggregate on (label, dim); the shuffle carries (label, dim,
    * partial_sum) — 64 longs per label per partition, independent of N.
    * (The oracle's generate_series bound of 4096 is a ceiling, not the dim:
    * the `i <= len(embedding)` guard makes it length-exact for any vector
    * up to that bound, matching posexplode's any-length behavior.)
    */
  def embedCentroid(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.embeddings(spark, dir)
      .select($"label".cast("long").as("label"),
        posexplode(transform($"embedding",
          x => round(x.cast("double") * 1e6).cast("long"))).as(Seq("dim", "q")))
      .groupBy($"label", $"dim")
      .agg(count(lit(1)).as("n_vectors"), sum($"q").as("qsum"))
      .select($"label", $"dim".cast("long").as("dim"), $"n_vectors",
        ($"qsum".cast("double") / 1e6 / $"n_vectors").as("centroid"))
      .orderBy($"label", $"dim")
  }

  val embedCentroidSql: String =
    """SELECT CAST(label AS BIGINT) AS label, CAST(i - 1 AS BIGINT) AS dim,
      | count(*) AS n_vectors,
      | CAST(sum(CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT)) AS DOUBLE)
      |   / 1000000.0 / count(*) AS centroid
      |FROM embeddings, generate_series(1, 4096) AS t(i)
      |WHERE i <= len(embedding)
      |GROUP BY label, i
      |ORDER BY label, dim""".stripMargin

  /** Output dimensionality of the random projection. */
  val ProjDims = 16

  /** x_rand_proj — random projection (Johnson–Lindenstrauss with a ±1
    * Achlioptas matrix) from 64 to [[ProjDims]] dims: the standard cheap
    * dimensionality reduction in front of ANN / clustering at scale (4×
    * fewer bytes per vector before IVF or LSH). The "random" matrix is
    * DETERMINISTIC — sign(i,j) = parity of the first hex digit of
    * md5("rp:i_j") — and inputs are micro-quantized, so every projected
    * coordinate is an exact integer both engines compute identically.
    *
    * Shape: posexplode + broadcast-join the (generated, d_in × d_out) sign
    * table + one hash aggregate — all codegen'd, one shuffle on
    * (vec_id, j), linear in vectors × dims. No per-row HOF folds.
    */
  def randProj(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val signs = spark.range(64).select($"id".cast("int").as("i"))
      .crossJoin(spark.range(ProjDims).select($"id".cast("int").as("j")))
      .select($"i", $"j",
        when(conv(substring(md5(concat(lit("rp:"), $"i".cast("string"),
            lit("_"), $"j".cast("string"))), 1, 1), 16, 10).cast("long") % 2 === 0,
          1L).otherwise(-1L).as("s"))
    Tables.embeddings(spark, dir)
      .select($"vec_id", posexplode($"embedding").as(Seq("i", "x")))
      .select($"vec_id", $"i".cast("int").as("i"),
        round($"x".cast("double") * 1e6).cast("long").as("qx"))
      .join(broadcast(signs), "i")
      .groupBy($"vec_id", $"j")
      .agg(sum($"qx" * $"s").as("value"))
      .select($"vec_id", $"j".cast("long").as("dim"), $"value")
      .orderBy($"vec_id", $"dim")
  }

  val randProjSql: String =
    s"""WITH signs AS (
       | SELECT i.i, j.j,
       |  CASE WHEN CAST('0x' || substr(md5('rp:' || CAST(i.i AS VARCHAR) || '_' || CAST(j.j AS VARCHAR)), 1, 1) AS BIGINT) % 2 = 0
       |   THEN 1 ELSE -1 END AS s
       | FROM (SELECT unnest(range(0, 64)) AS i) i,
       |      (SELECT unnest(range(0, $ProjDims)) AS j) j),
       |q AS (
       | SELECT vec_id, i - 1 AS i,
       |  CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS qx
       | FROM embeddings, generate_series(1, 4096) AS t(i)
       | WHERE i <= len(embedding))
       |SELECT q.vec_id, CAST(signs.j AS BIGINT) AS dim,
       | CAST(sum(q.qx * signs.s) AS BIGINT) AS value
       |FROM q JOIN signs ON signs.i = q.i
       |GROUP BY q.vec_id, signs.j
       |ORDER BY q.vec_id, dim""".stripMargin

  /** int8 scalar quantization: q_i = clamp(⌊x_i·127 + 0.5⌋, −127, 127),
    * materialized as a REAL array<tinyint> — the stored form is 1 byte/dim,
    * so the 4× memory/shuffle claim is the column's actual width, not an
    * aspiration. `floor(x+0.5)` instead of `round` sidesteps any engine
    * disagreement on half-way ties for arbitrary floats (round(x*100) on
    * 2-decimal money is exact; x·127 on arbitrary floats is not).
    */
  def quantize8(emb: Column): Column =
    transform(emb, x =>
      greatest(lit(-127L), least(lit(127L), floor(x.cast("double") * 127.0 + 0.5)))
        .cast("byte"))

  /** x_sim_int8 — brute-force cosine top-10 over int8-QUANTIZED vectors: the
    * memory-bound scale path (4 bytes/dim → 1 byte/dim, so 4× more vectors
    * per executor and 4× less shuffle). Integer dot products and squared
    * norms are EXACT (no fold-order drift, unlike float dots), and the final
    * sqrt/divide are single IEEE-exact ops — so unlike the float pipeline,
    * no defensive rounding is needed for the oracle to agree bit-for-bit.
    * Same probe/top-k shape as x_sim_topk for direct recall comparison.
    */
  def simInt8(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // tinyint elements widen to long BEFORE multiplying: under ANSI mode a
    // byte*byte product (up to 16129) overflows TINYINT loudly.
    def sq(v: Column): Column =
      aggregate(transform(v, x => x.cast("long") * x.cast("long")),
        lit(0L), (acc, x) => acc + x)
    val e = Tables.embeddings(spark, dir)
      .select($"vec_id", quantize8($"embedding").as("q"))
      .withColumn("nsq", sq($"q"))
      .filter($"nsq" > 0L)
    val probes = e.select($"vec_id".as("query_id"), $"q".as("qa"), $"nsq".as("na"))
      .filter($"query_id" < 5)
    val sims = broadcast(probes)
      .crossJoin(e.select($"vec_id".as("neighbor_id"), $"q".as("qb"), $"nsq".as("nb")))
      .filter($"query_id" =!= $"neighbor_id")
      .withColumn("sim",
        aggregate(zip_with($"qa", $"qb", (x, y) => x.cast("long") * y.cast("long")),
          lit(0L), (acc, v) => acc + v)
          .cast("double") / (sqrt($"na".cast("double")) * sqrt($"nb".cast("double"))))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"query_id").orderBy($"sim".desc, $"neighbor_id".asc)
    sims.withColumn("rnk", row_number().over(w))
      .filter($"rnk" <= 10)
      .select($"query_id", $"neighbor_id", $"rnk", $"sim")
      .orderBy($"query_id", $"rnk")
  }

  val simInt8Sql: String =
    """WITH e AS (
      | SELECT vec_id,
      |  list_transform(embedding, x ->
      |   CAST(greatest(-127, least(127, floor(CAST(x AS DOUBLE) * 127.0 + 0.5))) AS BIGINT)) AS q
      | FROM embeddings),
      |n AS (
      | SELECT vec_id, q,
      |  CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS nsq
      | FROM e),
      |nz AS (SELECT * FROM n WHERE nsq > 0),
      |pairs AS (
      | SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
      |  CAST(CAST(list_sum(list_transform(list_zip(a.q, b.q), p -> p[1] * p[2])) AS BIGINT) AS DOUBLE)
      |    / (sqrt(CAST(a.nsq AS DOUBLE)) * sqrt(CAST(b.nsq AS DOUBLE))) AS sim
      | FROM nz a, nz b
      | WHERE a.vec_id < 5 AND a.vec_id != b.vec_id),
      |ranked AS (
      | SELECT query_id, neighbor_id, sim,
      |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS INTEGER) AS rnk
      | FROM pairs)
      |SELECT query_id, neighbor_id, rnk, sim
      |FROM ranked WHERE rnk <= 10
      |ORDER BY query_id, rnk""".stripMargin

  /** x_sql_cosine — the SQL face of the native expression: the registered
    * `cosine_sim` called from `spark.sql` text over the temp-view catalog
    * (what a SQL-only user of the library writes). Rounded to 6 decimals
    * with -0.0 canonicalized, top-20 by similarity to probe vector 0.
    * Same map-only scan + TakeOrderedAndProject as the DataFrame form —
    * the SQL path plans identically.
    */
  def sqlCosine(spark: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(spark)
    graft.io.Tables.registerViews(spark, dir)
    spark.sql(
      """SELECT e.vec_id,
        |  round(cosine_sim(transform(e.embedding, x -> CAST(x AS DOUBLE)),
        |                   transform(p.embedding, x -> CAST(x AS DOUBLE))), 6)
        |    + 0.0d AS sim
        |FROM embeddings e CROSS JOIN
        |  (SELECT embedding FROM embeddings WHERE vec_id = 0) p
        |WHERE e.vec_id != 0
        |ORDER BY sim DESC, e.vec_id
        |LIMIT 20""".stripMargin)
  }

  val sqlCosineSql: String =
    """SELECT e.vec_id,
      | round(
      |  list_sum(list_transform(list_zip(e.v, p.v), t -> t[1] * t[2])) /
      |  sqrt(list_sum(list_transform(e.v, x -> x * x)) *
      |       list_sum(list_transform(p.v, x -> x * x))), 6) + 0.0 AS sim
      |FROM (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |      FROM embeddings) e
      |CROSS JOIN (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |            FROM embeddings WHERE vec_id = 0) p
      |WHERE e.vec_id != 0
      |ORDER BY sim DESC, e.vec_id
      |LIMIT 20""".stripMargin

  /** Neighbors per vector in [[knnGraph]]. */
  val KnnK = 3

  /** x_knn_graph — the k-NN graph over the whole embedding table: every
    * vector's top-[[KnnK]] cosine neighbors among its LSH candidates (the
    * same four 6-bit sign tables as [[dedupEmbed]]). This is the
    * all-vectors analogue of x_sim_topk's few-probe brute force — the
    * graph that feeds semantic dedup clustering, diversity sampling, and
    * label propagation over a corpus.
    *
    * Scale: candidate EDGES (not vectors) are deduplicated across tables
    * with one (a,b) shuffle BEFORE any cosine is computed — at four
    * tables, ~4× fewer exact-distance evaluations than scoring per-table
    * hits. Vectors then join back by id (co-partitioned equi joins), and
    * the per-vector top-k is a window partitioned by the source id —
    * parallel per vector, never global. A missed true neighbor is the
    * documented LSH recall trade (~0.86 at cos 0.9); the oracle replays
    * the same bucketing, so the gate pins the ALGORITHM, not brute force.
    */
  def knnGraph(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddings(spark, dir)
      .select($"vec_id", asDouble($"embedding").as("v"))
    val tables = (0 until EmbedTables).map { t =>
      struct(lit(t).as("tbl"),
        signBucket($"v", EmbedBits, offset = t * EmbedBits).as("bucket"))
    }
    val bands = e.select($"vec_id", explode(array(tables: _*)).as("x"))
      .select($"vec_id", $"x.tbl".as("tbl"), $"x.bucket".as("bucket"))
    val cand = bands.select($"tbl", $"bucket", $"vec_id")
      .join(bands.select($"tbl", $"bucket", $"vec_id".as("nbr_id")), Seq("tbl", "bucket"))
      .filter($"vec_id" =!= $"nbr_id")
      .select($"vec_id", $"nbr_id").distinct()
    val scored = cand
      .join(e, Seq("vec_id"))
      .join(e.select($"vec_id".as("nbr_id"), $"v".as("nv")), Seq("nbr_id"))
      .withColumn("sim", round(cosineFast(spark, $"v", $"nv"), 6) + lit(0.0))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"vec_id").orderBy($"sim".desc, $"nbr_id".asc)
    scored.withColumn("rnk", row_number().over(w))
      .filter($"rnk" <= KnnK)
      .select($"vec_id", $"nbr_id", $"rnk", $"sim")
      .orderBy($"vec_id", $"rnk")
  }

  val knnGraphSql: String = {
    val tableRows = (0 until EmbedTables).map { t =>
      val u = if (t == 0) "" else "UNION ALL "
      val bits = (0 until EmbedBits)
        .map(i => s"CASE WHEN v[${t * EmbedBits + i + 1}] >= 0.0 THEN '1' ELSE '0' END")
        .mkString(" || ")
      s"${u}SELECT vec_id, $t AS tbl, $bits AS bucket FROM e"
    }.mkString("\n ")
    s"""WITH e AS (
       | SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       | FROM embeddings),
       |bands AS (
       | $tableRows),
       |cand AS (
       | SELECT DISTINCT l.vec_id AS vec_id, r.vec_id AS nbr_id
       | FROM bands l JOIN bands r
       |   ON l.tbl = r.tbl AND l.bucket = r.bucket AND l.vec_id != r.vec_id),
       |scored AS (
       | SELECT c.vec_id, c.nbr_id,
       |  round(
       |   list_sum(list_transform(list_zip(a.v, b.v), p -> p[1] * p[2])) /
       |   sqrt(list_sum(list_transform(a.v, x -> x * x)) * list_sum(list_transform(b.v, x -> x * x))),
       |   6) + 0.0 AS sim
       | FROM cand c JOIN e a ON a.vec_id = c.vec_id JOIN e b ON b.vec_id = c.nbr_id),
       |ranked AS (
       | SELECT vec_id, nbr_id, sim,
       |  CAST(row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, nbr_id) AS INTEGER) AS rnk
       | FROM scored)
       |SELECT vec_id, nbr_id, rnk, sim
       |FROM ranked WHERE rnk <= $KnnK
       |ORDER BY vec_id, rnk""".stripMargin
  }

  /** x_label_purity — per-LSH-bucket label histogram quality: for each
    * 8-bit sign bucket, member count, distinct labels, and the majority
    * label's count. The purity ratio maj/n is the standard "is this
    * partitioning aligned with semantics" diagnostic for an ANN index —
    * run over the same buckets [[simBucketed]] queries, so index quality
    * is measured on the index actually used. Two hash-aggregates, both
    * partial-aggregating map-side; no windows, no collects.
    */
  def labelPurity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddings(spark, dir)
      .select($"label".cast("long").as("label"),
        signBucket(asDouble($"embedding"), 8).as("bucket"))
    e.groupBy($"bucket", $"label").agg(count(lit(1)).as("c"))
      .groupBy($"bucket")
      .agg(sum($"c").as("n"), count(lit(1)).as("n_labels"), max($"c").as("maj"))
      .orderBy($"bucket")
  }

  val labelPuritySql: String =
    """WITH e AS (
      | SELECT CAST(label AS BIGINT) AS label,
      |  list_aggregate(list_transform(list_transform(embedding, x -> CAST(x AS DOUBLE))[1:8],
      |    x -> CASE WHEN x >= 0.0 THEN '1' ELSE '0' END), 'string_agg', '') AS bucket
      | FROM embeddings),
      |bl AS (SELECT bucket, label, count(*) AS c FROM e GROUP BY bucket, label)
      |SELECT bucket, CAST(sum(c) AS BIGINT) AS n, count(*) AS n_labels, max(c) AS maj
      |FROM bl GROUP BY bucket
      |ORDER BY bucket""".stripMargin

  /** Anchor label for [[hardNegatives]] (one label's vectors per pass —
    * the per-label mining loop a contrastive pipeline runs).
    */
  val HnLabel = 0
  val HnK = 3

  /** x_hard_negatives — contrastive-training negative mining: for each
    * anchor vector of label [[HnLabel]], the [[HnK]] most-similar vectors
    * with a DIFFERENT label. High-cosine cross-label pairs are the "hard"
    * negatives that actually move a contrastive loss (easy negatives are
    * far away and teach nothing); random negative sampling never finds
    * them at scale.
    *
    * Scale: one label's anchors broadcast (the per-label pass bounds the
    * probe set the same way x_sim_topk's small-Q contract does), the
    * candidate side streams map-only, and the per-anchor top-k is a
    * partitioned window over anchor groups — never a global sort. Mining
    * all labels = one pass per label, each this same plan (or swap the
    * candidate scan for the LSH-bucketed variant when labels are huge).
    */
  def hardNegatives(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddings(spark, dir)
      .select($"vec_id", $"label", asDouble($"embedding").as("v"))
    val anchors = e.filter($"label" === HnLabel)
      .select($"vec_id".as("anchor_id"), $"v".as("av"))
    val sims = broadcast(anchors).crossJoin(
        e.filter($"label" =!= HnLabel)
          .select($"vec_id".as("neg_id"), $"label".as("neg_label"), $"v".as("nv")))
      .withColumn("sim", round(cosineFast(spark, $"av", $"nv"), 6) + lit(0.0))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"anchor_id").orderBy($"sim".desc, $"neg_id".asc)
    sims.withColumn("rnk", row_number().over(w))
      .filter($"rnk" <= HnK)
      .select($"anchor_id", $"rnk".cast("long").as("rnk"), $"neg_id",
        $"neg_label".cast("long").as("neg_label"), $"sim")
      .orderBy($"anchor_id", $"rnk")
  }

  val hardNegativesSql: String =
    s"""WITH e AS (
       | SELECT vec_id, label,
       |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       | FROM embeddings),
       |pairs AS (
       | SELECT a.vec_id AS anchor_id, c.vec_id AS neg_id,
       |  c.label AS neg_label,
       |  round(
       |   list_sum(list_transform(list_zip(a.v, c.v), p -> p[1] * p[2])) /
       |   sqrt(list_sum(list_transform(a.v, x -> x * x)) * list_sum(list_transform(c.v, x -> x * x))),
       |   6) + 0.0 AS sim
       | FROM e a, e c
       | WHERE a.label = $HnLabel AND c.label != $HnLabel),
       |ranked AS (
       | SELECT anchor_id, neg_id, neg_label, sim,
       |  row_number() OVER (PARTITION BY anchor_id ORDER BY sim DESC, neg_id) AS rnk
       | FROM pairs)
       |SELECT anchor_id, CAST(rnk AS BIGINT) AS rnk, neg_id,
       | CAST(neg_label AS BIGINT) AS neg_label, sim
       |FROM ranked WHERE rnk <= $HnK
       |ORDER BY anchor_id, rnk""".stripMargin

  /** Probe set and cut for [[annRecall]]. */
  val RecallProbes = 20L
  val RecallK = 10

  /** x_ann_recall — the eval harness as a query: recall@[[RecallK]] of the
    * signbit-bucketed ANN route ([[simBucketed]]'s buckets) against exact
    * brute force, per probe. THE number an ANN index is judged by — run it
    * on every index config change; a recall crater means the bucket bits
    * no longer match the data distribution (cf. x_label_purity). And the
    * fixture MEASURES exactly that crater: recall@10 ≈ 0.035 at sf0.1 —
    * the true top-10 of these near-random 64-dim embeddings sit at cosine
    * ~0.2-0.4, where a single 8-bit sign table almost never collides
    * (collision prob (1-θ/π)^8). That is the quantified case for the
    * multi-table route ([[dedupEmbed]]'s 4×6-bit tables) and [[Ivf]]'s
    * learned partitions; an eval query that always read 1.0 would never
    * have caught it.
    *
    * Both routes rank by INTEGER micro-cosine (round(cos·10⁶) — monotone
    * in the 6 dp rounding every similarity query here pins) through the
    * native bounded `top_k_rows` aggregate, so the shuffle carries
    * O(probes·k) rows — never a window over all scored pairs. The oracle
    * is the window-rank SQL of the same pipeline, re-proving the bounded
    * aggregate ≡ window-rank equivalence on a second query family.
    */
  def annRecall(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    GraftFunctions.register(spark)
    val e = Tables.embeddings(spark, dir)
      .select($"vec_id", asDouble($"embedding").as("v"))
      .withColumn("bucket", signBucket($"v", 8))
    val probes = broadcast(e.filter($"vec_id" < RecallProbes)
      .select($"vec_id".as("query_id"), $"v".as("qv"), $"bucket".as("qbucket")))
    def microSim(a: Column, b: Column): Column =
      round(cosineFast(spark, a, b) * 1000000L).cast("long")
    def topIds(scored: DataFrame): DataFrame = scored
      .groupBy($"query_id")
      .agg(call_function("top_k_rows", $"s", $"neighbor_id", lit(RecallK)).as("top"))
      .select($"query_id", explode($"top").as("x"))
      .select($"query_id", $"x.tag".as("neighbor_id"))
    val truth = topIds(probes.crossJoin(
        e.select($"vec_id".as("neighbor_id"), $"v".as("nv")))
      .filter($"query_id" =!= $"neighbor_id")
      .select($"query_id", $"neighbor_id", microSim($"qv", $"nv").as("s")))
    val approx = topIds(e.select($"vec_id".as("neighbor_id"), $"v".as("nv"), $"bucket")
      .join(probes, $"bucket" === $"qbucket" && $"neighbor_id" =!= $"query_id")
      .select($"query_id", $"neighbor_id", microSim($"qv", $"nv").as("s")))
    val tc = truth.groupBy($"query_id").agg(count(lit(1)).as("n_true"))
    val ac = approx.groupBy($"query_id").agg(count(lit(1)).as("n_approx"))
    // every frame below is ≤ probes·k rows, but they sit behind aggregates
    // the planner can't size — broadcast explicitly or the overlap join
    // plans as a sort-merge
    val ov = truth.join(broadcast(approx), Seq("query_id", "neighbor_id"))
      .groupBy($"query_id").agg(count(lit(1)).as("n_overlap"))
    tc.join(broadcast(ac), Seq("query_id"), "left")
      .join(broadcast(ov), Seq("query_id"), "left")
      .select($"query_id", $"n_true",
        coalesce($"n_approx", lit(0L)).as("n_approx"),
        coalesce($"n_overlap", lit(0L)).as("n_overlap"))
      .withColumn("recall", $"n_overlap".cast("double") / $"n_true".cast("double"))
      .orderBy($"query_id")
  }

  val annRecallSql: String =
    s"""WITH e AS (
       | SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       | FROM embeddings),
       |b AS (
       | SELECT vec_id, v,
       |  list_aggregate(list_transform(v[1:8], x -> CASE WHEN x >= 0.0 THEN '1' ELSE '0' END), 'string_agg', '') AS bucket
       | FROM e),
       |p AS (SELECT vec_id AS query_id, v AS qv, bucket AS qbucket
       |      FROM b WHERE vec_id < $RecallProbes),
       |ts AS (
       | SELECT p.query_id, c.vec_id AS neighbor_id,
       |  CAST(round(1000000 *
       |   list_sum(list_transform(list_zip(p.qv, c.v), q -> q[1] * q[2])) /
       |   sqrt(list_sum(list_transform(p.qv, x -> x * x)) * list_sum(list_transform(c.v, x -> x * x)))) AS BIGINT) AS s
       | FROM p, e c WHERE c.vec_id != p.query_id),
       |truth AS (
       | SELECT query_id, neighbor_id FROM (
       |  SELECT query_id, neighbor_id,
       |   row_number() OVER (PARTITION BY query_id ORDER BY s DESC, neighbor_id) AS rk
       |  FROM ts) WHERE rk <= $RecallK),
       |cs AS (
       | SELECT p.query_id, c.vec_id AS neighbor_id,
       |  CAST(round(1000000 *
       |   list_sum(list_transform(list_zip(p.qv, c.v), q -> q[1] * q[2])) /
       |   sqrt(list_sum(list_transform(p.qv, x -> x * x)) * list_sum(list_transform(c.v, x -> x * x)))) AS BIGINT) AS s
       | FROM p JOIN b c ON c.bucket = p.qbucket AND c.vec_id != p.query_id),
       |approx AS (
       | SELECT query_id, neighbor_id FROM (
       |  SELECT query_id, neighbor_id,
       |   row_number() OVER (PARTITION BY query_id ORDER BY s DESC, neighbor_id) AS rk
       |  FROM cs) WHERE rk <= $RecallK),
       |tc AS (SELECT query_id, count(*) AS n_true FROM truth GROUP BY 1),
       |ac AS (SELECT query_id, count(*) AS n_approx FROM approx GROUP BY 1),
       |ov AS (
       | SELECT t.query_id, count(*) AS n_overlap
       | FROM truth t JOIN approx a
       |  ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
       | GROUP BY 1)
       |SELECT tc.query_id, tc.n_true,
       | COALESCE(ac.n_approx, 0) AS n_approx,
       | COALESCE(ov.n_overlap, 0) AS n_overlap,
       | CAST(COALESCE(ov.n_overlap, 0) AS DOUBLE) / CAST(tc.n_true AS DOUBLE) AS recall
       |FROM tc
       |LEFT JOIN ac ON ac.query_id = tc.query_id
       |LEFT JOIN ov ON ov.query_id = tc.query_id
       |ORDER BY tc.query_id""".stripMargin

  /** The cosine operating points x_dedup_rate_curve sweeps — the top one is
    * [[EmbedDupThreshold]] (the declared dedup's own setting), the rest
    * descend toward the fixture's bulk similarity mass so every SF shows a
    * real curve (sf0.1: 64 → 229 → 868 → 2,809 pairs).
    */
  val RateCurveThresholds: Seq[Double] = Seq(0.30, 0.35, 0.40, 0.44)

  /** x_dedup_rate_curve — the "how aggressive should dedup be" tuning
    * table: for each cosine threshold, the near-dup pair count, the number
    * of documents touched by at least one pair (the candidate drop set —
    * keep-one-per-pair removes about half of them), and that set as a
    * permille of the corpus. The semantic-dedup twin of
    * `x_ann_nprobe_curve`: a curator reads this BEFORE committing to a
    * threshold, because corpus shrink is wildly nonlinear in it (44× from
    * the top of this fixture's dial to the bottom).
    *
    * One candidate scan serves every operating point: candidates come from
    * the same four sign-LSH tables as `x_dedup_embed`, are scored once,
    * filtered at the LOWEST threshold, and localCheckpointed; each point is
    * then a filter+aggregate over that bounded pair frame — no re-bucket,
    * no re-score. At 100 TB the pair frame after the lowest cut is the
    * only thing that grows, and it is already the op's output scale.
    */
  def dedupRateCurve(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddings(spark, dir)
      .select($"vec_id", asDouble($"embedding").as("v"))
    val tables = (0 until EmbedTables).map { t =>
      struct(lit(t).as("tbl"),
        signBucket($"v", EmbedBits, offset = t * EmbedBits).as("bucket"))
    }
    val bands = e.select($"vec_id", $"v", explode(array(tables: _*)).as("x"))
      .select($"vec_id", $"v", $"x.tbl".as("tbl"), $"x.bucket".as("bucket"))
    val l = bands.select($"tbl", $"bucket", $"vec_id".as("vec_a"), $"v".as("va"))
    val r = bands.select($"tbl", $"bucket", $"vec_id".as("vec_b"), $"v".as("vb"))
    val pairs = l.join(r, Seq("tbl", "bucket"))
      .filter($"vec_a" < $"vec_b")
      .withColumn("sim", round(cosineFast(spark, $"va", $"vb"), 6) + lit(0.0))
      .filter($"sim" >= RateCurveThresholds.min)
      .select($"vec_a", $"vec_b", $"sim")
      .distinct()
      .ckptDisk() // one scored candidate set serves all four points
    val nTotal = e.agg(count(lit(1)).as("n_total"))
    val points = RateCurveThresholds.toDF("threshold")
    val perT = broadcast(points).join(pairs, $"sim" >= $"threshold")
    val pairCounts = perT.groupBy($"threshold")
      .agg(count(lit(1)).as("n_pairs"))
    val docCounts = perT
      .select($"threshold", explode(array($"vec_a", $"vec_b")).as("vid"))
      .groupBy($"threshold")
      .agg(countDistinct($"vid").as("n_docs_flagged"))
    // LEFT-join from the points frame with zero-coalesce: an operating
    // point whose threshold gates an empty pair set must still emit its
    // row (n_pairs = 0) — the declared shape is one row PER POINT, and an
    // inner join here would silently drop dry thresholds on a cleaner
    // corpus (engine-consistent, so only the row-count contract notices).
    points.join(broadcast(pairCounts), Seq("threshold"), "left")
      .join(broadcast(docCounts), Seq("threshold"), "left")
      .crossJoin(broadcast(nTotal))
      .select($"threshold",
        coalesce($"n_pairs", lit(0L)).as("n_pairs"),
        coalesce($"n_docs_flagged", lit(0L)).as("n_docs_flagged"),
        expr("(coalesce(n_docs_flagged, 0) * 1000) div n_total")
          .as("flagged_permille"))
      .orderBy($"threshold")
  }

  val dedupRateCurveSql: String = {
    val tableRows = (0 until EmbedTables).map { t =>
      val u = if (t == 0) "" else "UNION ALL "
      val bits = (0 until EmbedBits)
        .map(i => s"CASE WHEN v[${t * EmbedBits + i + 1}] >= 0.0 THEN '1' ELSE '0' END")
        .mkString(" || ")
      s"${u}SELECT vec_id, v, $t AS tbl, $bits AS bucket FROM e"
    }.mkString("\n ")
    s"""WITH e AS (
       | SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       | FROM embeddings),
       |bands AS (
       | $tableRows),
       |pairs AS (
       | SELECT DISTINCT l.vec_id AS vec_a, r.vec_id AS vec_b,
       |  round(
       |   list_sum(list_transform(list_zip(l.v, r.v), p -> p[1] * p[2])) /
       |   sqrt(list_sum(list_transform(l.v, x -> x * x)) * list_sum(list_transform(r.v, x -> x * x))),
       |   6) + 0.0 AS sim
       | FROM bands l JOIN bands r
       |  ON l.tbl = r.tbl AND l.bucket = r.bucket AND l.vec_id < r.vec_id
       | WHERE round(
       |   list_sum(list_transform(list_zip(l.v, r.v), p -> p[1] * p[2])) /
       |   sqrt(list_sum(list_transform(l.v, x -> x * x)) * list_sum(list_transform(r.v, x -> x * x))),
       |   6) + 0.0 >= ${RateCurveThresholds.min}),
       |pts AS (SELECT CAST(unnest([${RateCurveThresholds.mkString(", ")}]) AS DOUBLE) AS threshold),
       |perT AS (
       | SELECT pts.threshold, p.vec_a, p.vec_b
       | FROM pts JOIN pairs p ON p.sim >= pts.threshold),
       |pc AS (SELECT threshold, count(*) AS n_pairs FROM perT GROUP BY 1),
       |dc AS (
       | SELECT threshold, count(DISTINCT vid) AS n_docs_flagged
       | FROM (SELECT threshold, unnest([vec_a, vec_b]) AS vid FROM perT)
       | GROUP BY 1),
       |tot AS (SELECT count(*) AS n_total FROM e)
       |SELECT pts.threshold, CAST(COALESCE(pc.n_pairs, 0) AS BIGINT) AS n_pairs,
       | CAST(COALESCE(dc.n_docs_flagged, 0) AS BIGINT) AS n_docs_flagged,
       | CAST(COALESCE(dc.n_docs_flagged, 0) * 1000 // tot.n_total AS BIGINT) AS flagged_permille
       |FROM pts LEFT JOIN pc ON pc.threshold = pts.threshold
       | LEFT JOIN dc ON dc.threshold = pts.threshold, tot
       |ORDER BY pts.threshold""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x_dedup_rate_curve" -> (dedupRateCurve _),
    "x_ann_recall" -> (annRecall _),
    "x_hard_negatives" -> (hardNegatives _),
    "x_knn_graph" -> (knnGraph _),
    "x_label_purity" -> (labelPurity _),
    "x_sql_cosine" -> (sqlCosine _),
    "x_sim_topk" -> (simTopK _),
    "x_sim_bucketed" -> (simBucketed _),
    "x_sim_int8" -> (simInt8 _),
    "x_dedup_embed" -> (dedupEmbed _),
    "x_embed_centroid" -> (embedCentroid _),
    "x_rand_proj" -> (randProj _))

  val oracles: Map[String, String] = Map(
    "x_dedup_rate_curve" -> dedupRateCurveSql,
    "x_ann_recall" -> annRecallSql,
    "x_hard_negatives" -> hardNegativesSql,
    "x_knn_graph" -> knnGraphSql,
    "x_label_purity" -> labelPuritySql,
    "x_sql_cosine" -> sqlCosineSql,
    "x_sim_topk" -> simTopKSql,
    "x_sim_bucketed" -> simBucketedSql,
    "x_sim_int8" -> simInt8Sql,
    "x_dedup_embed" -> dedupEmbedSql,
    "x_embed_centroid" -> embedCentroidSql,
    "x_rand_proj" -> randProjSql)
}
