package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Declared
import graft.io.Tables
import graft.util.Ckpt._

/** TRUE iterative BPE training (Sennrich et al., ACL 2016) — the
  * multi-round tokenizer-training loop [[Terms.bpeMerge]]'s single-round
  * candidate count feeds: each round counts adjacent symbol pairs over the
  * CURRENT segmentation (weighted by word frequency), merges the most
  * frequent pair everywhere, and re-segments — so round 2 counts pairs the
  * round-1 merge created, which no one-shot count can see.
  *
  * Exact-semantics representation: a word's segmentation is its symbols
  * each WRAPPED in single spaces and concatenated (`"tab"` →
  * `" t  a  b "`), so adjacent symbol blocks share no characters. One
  * plain `replace(s, ' a  b ', ' ab ')` per round then implements
  * textbook merge-all semantics exactly — leftmost-first, non-overlapping,
  * and consecutive occurrences both merge because no boundary character is
  * shared (the single-space form ` a b ` consumes the shared space and
  * silently skips every second occurrence of a self-adjacent run; the
  * reference implementation's `(?<!\S)a\sb(?!\S)` zero-width lookarounds
  * fix that in Python but RE2 — DuckDB's engine — has no lookarounds, so
  * the gate needs a pure-replace formulation). A false cross-symbol match
  * is impossible: the pattern demands a space on each side of each symbol,
  * and interior spaces only occur between blocks.
  *
  * Scale shape: ONE corpus-sized shuffle (the word-frequency aggregate);
  * every round after that runs over the VOCABULARY (Heaps-sublinear in
  * corpus size) — pair explode, tiny argmax, map-side replace — with the
  * per-round frames localCheckpointed (the 2^k iterative-lineage trap:
  * round r's vocab references round r-1's twice — once for counting, once
  * for rewriting). The merge pick itself stays a 1-row broadcast, never a
  * driver collect.
  */
object Bpe {

  val Rounds = 6

  /** Frame-parametric core (the repo's `…Over` convention): train
    * [[Rounds]] BPE merges over a (w, wc) vocabulary frame. Output: one
    * row per round — (round, pair "a b", merged "ab", n).
    */
  def trainOver(vocab: DataFrame, rounds: Int = Rounds): DataFrame = {
    val spark = vocab.sparkSession
    import spark.implicits._
    var v = vocab
      .select(concat(lit(" "),
        array_join(expr("transform(sequence(1, length(w)), i -> substr(w, i, 1))"),
          "  "), lit(" ")).as("s"), $"wc")
      .ckptDisk()
    val bests = (1 to rounds).map { r =>
      val best = v
        .select(split(trim($"s"), "  ").as("syms"), $"wc")
        .filter(size($"syms") >= 2)
        .select(explode(Tokens.grams($"syms", 2)).as("pair"), $"wc")
        .groupBy($"pair").agg(sum($"wc").as("n"))
        .orderBy($"n".desc, $"pair")
        .limit(1)
        .ckptDisk()
      v = v.crossJoin(broadcast(best))
        .select(expr(
          "replace(s, ' ' || replace(pair, ' ', '  ') || ' ', " +
            "' ' || replace(pair, ' ', '') || ' ')").as("s"), $"wc")
        .ckptDisk()
      best.select(lit(r.toLong).as("round"), $"pair",
        expr("replace(pair, ' ', '')").as("merged"), $"n")
    }
    bests.reduce(_ unionByName _).orderBy($"round")
  }

  def bpeTrain(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val vocab = Tables.documents(spark, dir)
      .select(explode(Tokens.tokens($"text", lower = true)).as("w"))
      .filter(length($"w") >= 2)
      .groupBy($"w").agg(count(lit(1)).as("wc"))
    trainOver(vocab)
  }

  /** One oracle round: pairs over the current segmentation, argmax, merge.
    * Every v/b CTE is MATERIALIZED: each round references its predecessor
    * twice (pair count + rewrite), so DuckDB's default inlining would
    * re-expand the chain 2^[[Rounds]] times — the same trap the k-core
    * oracle pins ([[graft.analytics.Neighbors]]).
    */
  private def roundSql(prev: String, r: Int): String =
    s"""p$r AS (
       | SELECT unnest(${Tokens.gramsSql("syms", 2)}) AS pair, wc
       | FROM (SELECT string_split(trim(s), '  ') AS syms, wc FROM $prev)
       | WHERE len(syms) >= 2),
       |b$r AS MATERIALIZED (
       | SELECT pair, CAST(sum(wc) AS BIGINT) AS n FROM p$r
       | GROUP BY pair ORDER BY n DESC, pair LIMIT 1),
       |v$r AS MATERIALIZED (
       | SELECT replace(v.s, ' ' || replace(b.pair, ' ', '  ') || ' ',
       |                ' ' || replace(b.pair, ' ', '') || ' ') AS s, v.wc
       | FROM $prev v, b$r b)""".stripMargin

  val bpeTrainSql: String = {
    val rounds = (1 to Rounds).map(r => roundSql(s"v${r - 1}", r))
      .mkString(",\n")
    val out = (1 to Rounds).map(r =>
      s"SELECT CAST($r AS BIGINT) AS round, pair, replace(pair, ' ', '') AS merged, n FROM b$r")
      .mkString("\nUNION ALL\n")
    s"""WITH vocab AS (
       | SELECT w, count(*) AS wc
       | FROM (SELECT unnest(${Tokens.tokensSql("text", lower = true)}) AS w FROM documents)
       | WHERE len(w) >= 2 GROUP BY w),
       |v0 AS (
       | SELECT ' ' || array_to_string(list_transform(range(1, length(w) + 1),
       |   i -> substr(w, CAST(i AS INT), 1)), '  ') || ' ' AS s, wc
       | FROM vocab),
       |$rounds
       |$out
       |ORDER BY round""".stripMargin
  }

  val declared: Seq[Declared] = Seq(
    Declared("x_bpe_train", bpeTrain, Some(bpeTrainSql)))
}
