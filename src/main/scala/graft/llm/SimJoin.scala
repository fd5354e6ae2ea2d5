package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Declared
import graft.io.Tables
import graft.util.Ckpt._

/** EXACT set-similarity join via prefix filtering (the PPJoin family:
  * Xiao et al., "Efficient Similarity Joins for Near Duplicate Detection",
  * WWW'08) — the complement of the MinHash/SimHash path: no recall loss, no
  * verification of noise pairs AFTER clustering; every emitted pair truly
  * clears the Jaccard bar, because the filters are candidate-complete and an
  * exact verify runs last.
  *
  * Three lossless filters bound the candidate space:
  *  - PREFIX: order each doc's distinct tokens by ascending global document
  *    frequency (rarest first; ties on the token string). Two sets with
  *    J ≥ τ MUST share a token in their first `|s| - ⌈τ·|s|⌉ + 1` tokens —
  *    so candidates come from an equi-join on RARE tokens only, whose
  *    postings lists are short by construction.
  *  - LENGTH: J ≥ τ forces τ·|a| ≤ |b| ≤ |a|/τ; checked as integer
  *    cross-multiplication in the join condition.
  *  - PARTITION: same-language only (the realistic curation scope), which
  *    also rides the equi-join key, so the shuffle co-partitions by
  *    (token, lang).
  *
  * Scale notes: the candidate join is a shuffle equi-join on (tok, lang) —
  * never an all-pairs product; candidate volume is Σ postings², kept small
  * by the rare-token prefix. The verify stage joins token SETS in by doc id
  * (two equi-joins), computes |A∩B| once, and filters with integer
  * arithmetic. The prefix frame is localCheckpointed: it is referenced on
  * both sides of the self-join, and materializing it once stops the
  * order-by-frequency aggregation from running twice (same pattern and the
  * same resilience caveat as Dedup.dedupJaccard).
  *
  * The oracle is the BRUTE-FORCE all-pairs form — algorithm-independent, so
  * the gate proves the filter cascade is lossless at fixture scale, not
  * merely self-consistent; SimJoinSpec additionally pins prefix-route ==
  * brute-force on a planted near-dup corpus.
  */
object SimJoin {

  /** τ = 60/100, kept as an integer ratio: every threshold comparison is
    * exact cross-multiplied integer arithmetic on both engines.
    */
  val TauNum = 60
  val TauDen = 100

  /** x_jaccard_join — all same-language doc pairs with SHINGLE-set Jaccard
    * ≥ τ: (doc_a, doc_b, n_common, n_union, jaccard), doc_a < doc_b. The
    * set elements are [[Tokens.grams]] word 3-grams — the same unit the
    * MinHash family blocks on, so this query is its exact counterpart (and
    * the shingle vocabulary is combinatorially larger than the word
    * vocabulary, which is what gives the rarest-first prefix its pruning
    * power).
    */
  def jaccardJoin(spark: SparkSession, dir: String): DataFrame =
    // Deliberately NOT widened (graft.util.Widen): unlike the rest of the
    // shingling tier, the widened form here measured sporadic 2-6x run
    // spikes (6-17 s vs a rock-stable 2.6-3.0 s baseline, maxtask 0.5 ->
    // up to 14.8 s) with no median win — this pipeline's wall is dominated
    // by its post-checkpoint prefix/verify joins, not the one-task shingle
    // stage, and the extra exchange ahead of two eager DISK_ONLY
    // checkpoints only destabilized it. Measured both ways, twice, in
    // fresh JVMs (round 11).
    jaccardJoinOver(Tables.documents(spark, dir))

  /** Same pipeline over any (doc_id, lang, text) frame — the seam the
    * losslessness spec drives a planted corpus through.
    */
  def jaccardJoinOver(documents: DataFrame): DataFrame = {
    import documents.sparkSession.implicits._
    // Shingle construction (regex split + per-shingle string concat) is the
    // single most expensive map stage here and the frame is referenced FIVE
    // times downstream (df aggregate, prefix probe, and three verify-side
    // reads) — materialize it once. Same resilience caveat as
    // Dedup.dedupJaccard's checkpoint: swap for persist(DISK_ONLY) or a
    // reliable checkpoint on a real cluster. (Measured at sf0.1: 17 s ->
    // 4.8 s for the whole query.)
    val docs = Dedup.shingleSets(documents).ckptDisk()
    val tok = docs.select($"doc_id", $"lang", explode($"s").as("tok"))
    // The vocabulary is tiny next to the token stream (Heaps' law) —
    // broadcast it so the df lookup is map-side and the whole prefix
    // pipeline pays exactly TWO shuffles: the df aggregate and the per-doc
    // collect. (At a 100 TB corpus the vocab may outgrow a broadcast; the
    // fallback is the plain shuffle join on tok.)
    val freq = broadcast(tok.groupBy($"tok").agg(count(lit(1)).as("df")))
    // Global-frequency order per doc: array_sort on (df, tok) structs —
    // field-lexicographic, ties broken by the token's UTF-8 byte order,
    // identical in any engine. The order only has to be CONSISTENT across
    // docs for the prefix theorem to hold; the verified output is
    // order-independent. `s` is distinct, so the per-doc set size is just
    // the collected array's size — no join back against the docs frame.
    val prefixes = tok.join(freq, "tok")
      .groupBy($"doc_id")
      .agg(first($"lang").as("lang"),
        array_sort(collect_list(struct($"df", $"tok"))).as("ft"))
      .withColumn("sz", size($"ft"))
      .select($"doc_id", $"lang", $"sz",
        explode(transform(
          slice($"ft", lit(1),
            $"sz" - expr(s"(sz * $TauNum + $TauDen - 1) DIV $TauDen") + 1),
          x => x("tok"))).as("tok"))
      .ckptDisk()
    val cand = prefixes.as("a").join(prefixes.as("b"),
        $"a.tok" === $"b.tok" && $"a.lang" === $"b.lang" &&
          $"a.doc_id" < $"b.doc_id" &&
          $"a.sz" * TauDen >= $"b.sz" * TauNum &&
          $"b.sz" * TauDen >= $"a.sz" * TauNum)
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
      .distinct()
    val sets = docs.select($"doc_id", $"s", size($"s").as("sz"))
    cand
      .join(sets.select($"doc_id".as("doc_a"), $"s".as("sa"), $"sz".as("na")), "doc_a")
      .join(sets.select($"doc_id".as("doc_b"), $"s".as("sb"), $"sz".as("nb")), "doc_b")
      .withColumn("n_common", size(array_intersect($"sa", $"sb")).cast("long"))
      .withColumn("n_union", ($"na" + $"nb").cast("long") - $"n_common")
      .filter($"n_common" * TauDen >= $"n_union" * TauNum)
      .select($"doc_a", $"doc_b", $"n_common", $"n_union",
        ($"n_common".cast("double") / $"n_union").as("jaccard"))
      .orderBy($"doc_a", $"doc_b")
  }

  val jaccardJoinSql: String =
    s"""WITH toks AS (${Dedup.shingleSetsSql})
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       | CAST(len(list_intersect(a.s, b.s)) AS BIGINT) AS n_common,
       | CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS BIGINT) AS n_union,
       | CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
       |   / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jaccard
       |FROM toks a JOIN toks b
       | ON a.lang = b.lang AND a.doc_id < b.doc_id
       |WHERE $TauDen * len(list_intersect(a.s, b.s))
       |  >= $TauNum * (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))
       |ORDER BY doc_a, doc_b""".stripMargin

  val declared: Seq[Declared] = Seq(
    Declared("x_jaccard_join", jaccardJoin, Some(jaccardJoinSql)))
}
