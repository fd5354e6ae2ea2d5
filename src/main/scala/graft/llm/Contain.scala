package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Declared
import graft.io.Tables
import graft.util.Ckpt._

/** EXACT asymmetric containment join — the sub-document twin of
  * [[SimJoin]]'s symmetric Jaccard join. Containment
  * `C(a→b) = |S(a) ∩ S(b)| / |S(a)|` finds a SHORT document (near-)swallowed
  * by a longer one — quoted snippets, boilerplate blocks, templated intros —
  * pairs symmetric Jaccard can never surface, because a 20-shingle snippet
  * inside a 500-shingle page has J ≈ 0.04 at C = 1.0. (Same family as the
  * PPJoin containment variants in Xiao et al., WWW'08 §6; reference scope:
  * the curation tier around `etl_pipeline.py`'s quality checks.)
  *
  * Scoped to "snippet-in-anything": the contained side is restricted to
  * [[SnipMin]]..[[SnipMax]] distinct shingles. That is the practically
  * useful direction (a 5k-shingle doc "contained" in another 5k-shingle doc
  * is ordinary near-dup territory — [[SimJoin]]'s job), and it keeps the
  * brute-force oracle to |snippets|·|docs| intersections instead of all
  * pairs.
  *
  * Lossless candidate filters, containment edition:
  *  - PREFIX on the CONTAINED side only: order S(a) rarest-global-df-first;
  *    if `|A∩B| ≥ τ·|A|` then B must hit one of A's first
  *    `|A| − ⌈τ·|A|⌉ + 1` rarest shingles. The container side cannot be
  *    prefix-pruned (any of its shingles may be the witness), so it
  *    contributes FULL postings — the equi-join key (shingle, lang) still
  *    bounds candidates to Σ over A-prefix shingles of df(shingle), small
  *    by rarest-first construction.
  *  - SIZE lower bound: `|A∩B| ≤ |B|` forces `|B|·Den ≥ |A|·Num`, checked
  *    as integer cross-multiplication in the join condition. (No upper
  *    bound — the container may be arbitrarily large; that asymmetry is the
  *    point.)
  * Verification joins both shingle sets back by doc id and filters on
  * exact integer `|A∩B|·Den ≥ |A|·Num`.
  *
  * Scale: two shuffles that matter — the global-df aggregate and the
  * (shingle, lang) candidate equi-join; the verify legs are doc-id
  * equi-joins. Nothing is all-pairs. The shingle frame is referenced on
  * both sides, hence the one localCheckpoint (same resilience caveat as
  * [[SimJoin.jaccardJoinOver]]: persist(DISK_ONLY)/reliable checkpoint on a
  * real cluster).
  */
object Contain {

  /** τ = 80/100 as an exact integer ratio. */
  val TauNum = 80
  val TauDen = 100

  /** Contained-side ("snippet") size band, in distinct shingles. */
  val SnipMin = 5
  val SnipMax = 64

  /** x_containment_join — (doc_a, doc_b, n_common, n_a, containment) for
    * every same-language ordered pair with `C(a→b) ≥ τ`, a ≠ b, |S(a)| in
    * the snippet band. doc_a is the CONTAINED side; the relation is
    * directional, so (a,b) and (b,a) can both appear only if the docs are
    * mutual near-copies inside the band.
    */
  def containmentJoin(spark: SparkSession, dir: String): DataFrame =
    // Widened at the scan (see [[graft.util.Widen]]): the shingle-set
    // derivation otherwise runs in the fixture's single scan task.
    containmentJoinOver(graft.util.Widen(
      Tables.documents(spark, dir)
        .select(org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.col("lang"),
          org.apache.spark.sql.functions.col("text")),
      org.apache.spark.sql.functions.col("doc_id")))

  /** Same pipeline over any (doc_id, lang, text) frame — the seam the
    * planted-snippet spec drives through.
    */
  def containmentJoinOver(documents: DataFrame): DataFrame = {
    import documents.sparkSession.implicits._
    val docs = Dedup.shingleSets(documents)
      .withColumn("sz", size($"s"))
      .ckptDisk()
    val postings = docs.select($"doc_id", $"lang", $"sz", explode($"s").as("tok"))
    // Vocabulary ≪ token stream (Heaps' law) — broadcast the df side so the
    // rarest-first ordering is a map-side lookup (same trade as SimJoin;
    // past a broadcastable vocab the fallback is the shuffle join on tok).
    val freq = broadcast(postings.groupBy($"tok").agg(count(lit(1)).as("df")))
    val snips = docs.filter($"sz".between(SnipMin, SnipMax))
    // Rarest-first prefix of each snippet: sort (df, tok) structs — the tok
    // tiebreak makes the order engine-independent — and keep the first
    // |A| − ⌈τ·|A|⌉ + 1 entries as the probe tokens.
    val probes = snips.select($"doc_id", $"lang", $"sz", explode($"s").as("tok"))
      .join(freq, "tok")
      .groupBy($"doc_id")
      .agg(first($"lang").as("lang"), first($"sz").as("sz"),
        array_sort(collect_list(struct($"df", $"tok"))).as("ft"))
      .select($"doc_id", $"lang", $"sz",
        explode(transform(
          slice($"ft", lit(1),
            $"sz" - expr(s"(sz * $TauNum + $TauDen - 1) DIV $TauDen") + 1),
          x => x("tok"))).as("tok"))
    val cand = probes.as("a").join(postings.as("b"),
        $"a.tok" === $"b.tok" && $"a.lang" === $"b.lang" &&
          $"a.doc_id" =!= $"b.doc_id" &&
          $"b.sz" * TauDen >= $"a.sz" * TauNum)
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
      .distinct()
    cand
      .join(docs.select($"doc_id".as("doc_a"), $"s".as("sa"), $"sz".as("na")), "doc_a")
      .join(docs.select($"doc_id".as("doc_b"), $"s".as("sb")), "doc_b")
      .withColumn("n_common", size(array_intersect($"sa", $"sb")).cast("long"))
      .filter($"n_common" * TauDen >= $"na" * TauNum)
      .select($"doc_a", $"doc_b", $"n_common", $"na".cast("long").as("n_a"),
        ($"n_common".cast("double") / $"na").as("containment"))
      .orderBy($"doc_a", $"doc_b")
  }

  /** Brute-force all-(snippet × doc) oracle — algorithm-independent, so the
    * gate proves the prefix/size filter cascade is LOSSLESS at fixture
    * scale, exactly like the [[SimJoin]] oracle does for Jaccard.
    */
  val containmentJoinSql: String =
    s"""WITH toks AS (${Dedup.shingleSetsSql}),
       |sn AS (SELECT * FROM toks WHERE len(s) BETWEEN $SnipMin AND $SnipMax)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       | CAST(len(list_intersect(a.s, b.s)) AS BIGINT) AS n_common,
       | CAST(len(a.s) AS BIGINT) AS n_a,
       | CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(a.s) AS containment
       |FROM sn a JOIN toks b
       | ON a.lang = b.lang AND a.doc_id != b.doc_id
       |WHERE $TauDen * len(list_intersect(a.s, b.s)) >= $TauNum * len(a.s)
       |ORDER BY doc_a, doc_b""".stripMargin

  val declared: Seq[Declared] = Seq(
    Declared("x_containment_join", containmentJoin, Some(containmentJoinSql)))
}
