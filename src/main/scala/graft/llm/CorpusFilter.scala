package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Declared
import graft.io.Tables
import graft.util.Ckpt._

/** Corpus-level operators: the vocabulary histogram and the composed
  * retention filter — the two queries that turn per-doc signals into an
  * actual training corpus decision.
  *
  * Scale notes: the histogram is explode → hash-aggregate with map-side
  * partial counts (the shuffle carries (token, partial_n, partial_docs),
  * never raw token streams) and top-k via TakeOrderedAndProject. The
  * retention filter is three equi-joins on doc_id over per-doc map-only
  * signal plans plus one left-anti join against the (tiny) dup-loser set —
  * every input is pruned to the columns it contributes.
  */
object CorpusFilter {

  /** x_token_hist — top-100 tokens by corpus frequency with doc frequency
    * (the vocab-building / IDF-precursor scan). Ties break alphabetically so
    * the cut is deterministic.
    */
  def tokenHist(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"doc_id", explode(Tokens.tokens($"text", lower = true)).as("token"))
      .groupBy($"token")
      .agg(count(lit(1)).as("n"), countDistinct($"doc_id").as("n_docs"))
      .orderBy($"n".desc, $"token")
      .limit(100)
  }

  val tokenHistSql: String =
    s"""SELECT token, count(*) AS n, count(DISTINCT doc_id) AS n_docs
       |FROM (SELECT doc_id, unnest(${Tokens.tokensSql("text", lower = true)}) AS token
       |      FROM documents)
       |GROUP BY token
       |ORDER BY n DESC, token
       |LIMIT 100""".stripMargin

  /** x_quality_filter — the composed retention pipeline: keep documents that
    * (1) language-ID as English, (2) have ≥5 tokens with stopword ratio
    * ≥ 1/20 (integer comparison `n_stopwords * 20 >= n_tokens`, no float
    * boundary), and (3) are not a non-keeper member of a near-dup cluster.
    * This is the query a corpus curator actually runs; everything upstream
    * (LangId, TextOps, Dedup, Cluster) composes into it unchanged.
    */
  def qualityFilter(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dupLosers = Cluster.dedupCluster(spark, dir)
      .filter(!$"is_keeper").select($"doc_id")
    // All per-doc signals (language scores, token counts) come from ONE scan
    // and one materialized token array — they are map-only derivations of the
    // same row, so joining separate per-signal frames would re-scan the
    // corpus three times for nothing.
    val base = graft.util.Widen(
      Tables.documents(spark, dir).select($"doc_id", $"lang", $"text"),
      $"doc_id")
      .select($"doc_id", $"lang", Tokens.tokens($"text").as("toks"))
    LangId.addPredLang(base, $"toks")
      .withColumn("n_tokens", size($"toks").cast("long"))
      .withColumn("n_stopwords", TextOps.stopwordCount($"toks"))
      .filter($"pred_lang" === "en" &&
        $"n_tokens" >= 5 && $"n_stopwords" * 20 >= $"n_tokens")
      .join(dupLosers, Seq("doc_id"), "left_anti")
      .select($"doc_id", $"lang", $"pred_lang", $"n_tokens")
      .orderBy($"doc_id")
  }

  val qualityFilterSql: String =
    s"""WITH scored AS (
       | SELECT doc_id,
       |  ${LangId.scoreDefsSql}
       | FROM documents),
       |pred AS (SELECT doc_id, ${LangId.predCaseSql} AS pred_lang FROM scored),
       |q AS (SELECT doc_id,
       |  CAST(len(${Tokens.tokensSql("text")}) AS BIGINT) AS n_tokens,
       |  CAST(len(list_filter(${Tokens.tokensSql("text")}, t -> t IN (${TextOps.stopwordListSql}))) AS BIGINT) AS n_stopwords
       | FROM documents),
       |losers AS (SELECT doc_id FROM (${Cluster.dedupClusterSql}) WHERE NOT is_keeper)
       |SELECT d.doc_id, d.lang, pred.pred_lang, q.n_tokens
       |FROM documents d
       |JOIN pred ON pred.doc_id = d.doc_id
       |JOIN q ON q.doc_id = d.doc_id
       |WHERE pred.pred_lang = 'en'
       |  AND q.n_tokens >= 5 AND q.n_stopwords * 20 >= q.n_tokens
       |  AND d.doc_id NOT IN (SELECT doc_id FROM losers)
       |ORDER BY d.doc_id""".stripMargin

  /** x_bigram_stats — top-50 word bigrams by corpus frequency (collocation
    * mining / the vocab-extension scan past unigrams). Adjacent pairs are
    * built positionally inside one array expression ([[Tokens.grams]] —
    * no self-join on token position, which would shuffle the
    * exploded token table twice on a synthetic key), then one explode +
    * hash-aggregate with map-side partials and TakeOrderedAndProject for
    * the cut. Ties break alphabetically so the top-50 edge is pinned.
    */
  def bigramStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(Tokens.tokens($"text", lower = true).as("tk"))
      .filter(size($"tk") >= 2)
      .select(explode(Tokens.grams($"tk", 2)).as("bigram"))
      .groupBy($"bigram")
      .agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"bigram")
      .limit(50)
  }

  val bigramStatsSql: String =
    s"""WITH t AS (SELECT ${Tokens.tokensSql("text", lower = true)} AS tk FROM documents),
       |b AS (SELECT unnest(${Tokens.gramsSql("tk", 2)}) AS bigram FROM t)
       |SELECT bigram, count(*) AS n
       |FROM b GROUP BY bigram
       |ORDER BY n DESC, bigram
       |LIMIT 50""".stripMargin

  /** Vocabulary size for [[oovRate]]'s char-trigram model. 100 keeps a
    * real out-of-vocab tail on the fixture corpus (the 31-word vocabulary
    * yields a few hundred distinct trigrams, so a larger table would
    * degenerate to zero OOV everywhere).
    */
  val OovVocab = 100

  /** x_oov_rate — the char-trigram language-model proxy for text quality:
    * build the corpus's top-[[OovVocab]] character-trigram vocabulary
    * (ties alphabetical, so the cut edge is pinned), then score each
    * document by how many of its trigram INSTANCES fall outside it. High
    * OOV rate flags encoding garbage, foreign scripts, and template noise
    * — the integer-exact stand-in for a perplexity filter (whose log-space
    * float sums would drift across engines).
    *
    * Scale: pass 1 is explode → hash-aggregate → top-k (the vocab is k
    * rows — broadcast); pass 2 re-derives trigrams map-side and left-joins
    * the broadcast vocab, so the corpus is scanned twice but shuffled only
    * for the tiny vocab aggregate and the per-doc count.
    */
  def oovRate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    // Round 12: both halves run on native codegen'd expressions
    // (graft.functions.{CharTrigrams,OovCount}) instead of the interpreted
    // split('')/transform/concat HOF chain — the same §7.3 escalation as
    // walk_pick, and the same reason: HOFs are CodegenFallback, and this
    // was the text tier's heaviest per-row derivation (one allocation per
    // character plus one per trigram, twice over the corpus; isolated
    // steady 3.0-3.9 s at sf0.1, the last standing >2x-of-oracle query).
    // Pass 1 (vocab) still explodes — a global top-k needs the gram rows —
    // but derives them in one linear byte walk per doc. Pass 2 (scoring)
    // no longer explodes OR joins at all: the top-k vocabulary (OovVocab
    // rows, driver-collected — the same bounded-collect discipline as the
    // IVF centroids) rides into a single per-document oov_count projection
    // that slides one window over the bytes against a hashed vocab set.
    // Measured at sf0.1, fresh JVM: before 3.07 s steady / 7.9 s run-1
    // (DebugPlan); after 1.40 s min2 with the vocab pass inside the
    // timed window (Bench) and 0.44-0.58 s for the scoring half alone —
    // both halves of the #68 trade improved at once (run-1 0.88 s), no
    // widen needed, oracle hash unchanged (BENCH_NOTES #74).
    val docs = Tables.documents(spark, dir).filter(length($"text") >= 3)
    val vocabArr: Array[String] = docs
      .select(explode(call_function("char_trigrams", $"text")).as("g"))
      .groupBy($"g").agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"g").limit(OovVocab)
      .select($"g").as[String].collect()
    docs
      .select($"doc_id",
        call_function("oov_count", $"text", lit(vocabArr)).as("oc"))
      .select($"doc_id", $"oc.n_grams".as("n_grams"), $"oc.n_oov".as("n_oov"))
      .orderBy($"doc_id")
  }

  val oovRateSql: String =
    s"""WITH gr AS (
       | SELECT doc_id, substr(text, i, 3) AS g
       | FROM documents, (SELECT unnest(range(1, 1024)) AS i) r
       | WHERE length(text) >= 3 AND i <= length(text) - 2),
       |v AS (
       | SELECT g FROM (
       |  SELECT g, count(*) AS n FROM gr GROUP BY g
       |  ORDER BY n DESC, g LIMIT $OovVocab))
       |SELECT doc_id, count(*) AS n_grams,
       | CAST(sum(CASE WHEN v.g IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
       |FROM gr LEFT JOIN v ON gr.g = v.g
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  /** A bigram is "rare" when its corpus count is ≤ this — the word-level
    * surprise bar for [[lmRarity]].
    */
  val RareMax = 2

  /** x_lm_rarity — the word-bigram language-model proxy for text quality,
    * complementing [[oovRate]]'s character level: count each document's
    * adjacent word pairs whose CORPUS frequency is ≤ [[RareMax]]. A high
    * rare-bigram rate flags incoherent juxtapositions (boilerplate soup,
    * word-salad spam) that unigram stats can't see — the integer-exact
    * stand-in for a perplexity screen, like oovRate but at the level where
    * an n-gram LM actually models fluency.
    *
    * Scale: the bigram frame is materialized once (built positionally
    * inside one array expression — no positional self-join) and feeds both
    * the count aggregate and the scoring join. Unlike oovRate's top-k
    * vocab, the rare SET is the LARGE tail of the distribution (Zipf), so
    * it cannot broadcast: scoring is a plain shuffle equi-join on the
    * bigram key, partial-aggregated map-side down to one row per doc.
    */
  def lmRarity(spark: SparkSession, dir: String): DataFrame =
    lmRarityOver(Tables.documents(spark, dir))

  /** Same pipeline over any (doc_id, text) frame — the spec's seam. */
  def lmRarityOver(documents: DataFrame): DataFrame = {
    import documents.sparkSession.implicits._
    val grams = documents
      .select($"doc_id", Tokens.tokens($"text", lower = true).as("tk"))
      .filter(size($"tk") >= 2)
      .select($"doc_id", explode(Tokens.grams($"tk", 2)).as("bigram"))
      .ckptDisk()
    val counts = grams.groupBy($"bigram").agg(count(lit(1)).as("n"))
    grams.join(counts, "bigram")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when($"n" <= RareMax, 1L).otherwise(0L)).as("n_rare"))
      .orderBy($"doc_id")
  }

  val lmRaritySql: String =
    s"""WITH t AS (
       | SELECT doc_id, ${Tokens.tokensSql("text", lower = true)} AS tk FROM documents),
       |b AS (
       | SELECT doc_id, unnest(${Tokens.gramsSql("tk", 2)}) AS bigram
       | FROM t WHERE len(tk) >= 2),
       |c AS (SELECT bigram, count(*) AS n FROM b GROUP BY bigram)
       |SELECT doc_id, count(*) AS n_bigrams,
       | CAST(sum(CASE WHEN c.n <= $RareMax THEN 1 ELSE 0 END) AS BIGINT) AS n_rare
       |FROM b JOIN c USING (bigram)
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  /** x_pareto_front — the Pareto-optimal documents under two curation
    * criteria: MAXIMIZE vocabulary richness (distinct tokens), MINIMIZE
    * length (n_chars) — the "richest vocabulary per byte" density frontier
    * a curator reads before setting per-axis thresholds. A doc is dominated
    * iff some other doc is at least as rich AND at least as short, strictly
    * better on one axis; equal (vocab, chars) twins do not dominate each
    * other and both survive.
    *
    * Shape: the naive test is the oracle's quadratic NOT EXISTS — at 100 TB
    * that is N² and dead. The skyline decomposes:
    * `dominated(i) ⟺ min{chars : vocab > vocab_i} ≤ chars_i
    *               ∨ min{chars : vocab = vocab_i} < chars_i`,
    * so (1) one map-side-combined groupBy(vocab) min — parallel, corpus
    * moves once; (2) a strictly-greater-vocab suffix-min window over the
    * AGGREGATED frame only — its single partition is bounded by the score
    * domain's cardinality (distinct vocab values: ≤ a few thousand for any
    * integer quality score), never by corpus size (the PrefixSum 32-row
    * pattern, not a corpus-wide window); (3) the tiny frontier table
    * broadcasts back into one equi-join. O(N) + O(|domain| log |domain|).
    */
  def paretoFront(spark: SparkSession, dir: String): DataFrame =
    paretoFrontOver(Tables.documents(spark, dir))

  /** Same skyline over any (doc_id, text, n_chars) frame — the spec's seam. */
  def paretoFrontOver(documents: DataFrame): DataFrame = {
    import documents.sparkSession.implicits._
    val d = documents
      .select($"doc_id",
        size(array_distinct(Tokens.tokens($"text"))).cast("long").as("vocab"),
        $"n_chars")
    val byVocab = d.groupBy($"vocab").agg(min($"n_chars").as("mn"))
    // rangeBetween(1, ∞) on an integer key = all rows with vocab STRICTLY
    // greater; null sufmin (no richer doc exists) can never dominate
    val wSuffix = org.apache.spark.sql.expressions.Window
      .orderBy($"vocab".asc)
      .rangeBetween(1L, org.apache.spark.sql.expressions.Window.unboundedFollowing)
    val frontier = byVocab.withColumn("sufmin", min($"mn").over(wSuffix))
    d.join(broadcast(frontier), Seq("vocab"))
      .filter(!(coalesce($"sufmin" <= $"n_chars", lit(false)) ||
        $"mn" < $"n_chars"))
      .select($"doc_id", $"vocab", $"n_chars")
      .orderBy($"doc_id")
  }

  val paretoFrontSql: String =
    s"""WITH d AS (
       | SELECT doc_id,
       |  CAST(len(list_distinct(${Tokens.tokensSql("text")})) AS BIGINT) AS vocab,
       |  n_chars
       | FROM documents)
       |SELECT doc_id, vocab, n_chars
       |FROM d
       |WHERE NOT EXISTS (
       | SELECT 1 FROM d e
       | WHERE e.vocab >= d.vocab AND e.n_chars <= d.n_chars
       |   AND (e.vocab > d.vocab OR e.n_chars < d.n_chars))
       |ORDER BY doc_id""".stripMargin

  /** Gopher-rule thresholds, calibrated to the fixture's distributions so
    * every rule is NON-VACUOUS (rejects some docs, keeps most) at every SF:
    * token counts span 10–99 (p10 = 20, p90 = 88), mean word length ~4.2–4.9
    * (p10/p90 of 100×mean = 425/476), type-token ratio p10 ≈ 0.32, stopword
    * permille p10 ≈ 14. All comparisons are integer cross-multiplications —
    * no float boundary can disagree between engines.
    */
  val RuleMinToks = 20L
  val RuleMaxToks = 90L
  val RuleWlenLo = 425L  // 100 × mean word length lower bound
  val RuleWlenHi = 476L  // 100 × mean word length upper bound
  val RuleTtrLo = 320L   // 1000 × type-token ratio lower bound
  val RuleStopLo = 14L   // 1000 × stopword ratio lower bound

  /** x_gopher_rules — the per-rule rejection accounting panel (Rae et al.,
    * "Scaling Language Models: … Gopher", arXiv:2112.11446 §A1.1 rule
    * family, re-calibrated to this corpus): for each quality rule, how many
    * documents does it alone reject, plus the union row. This is the "why
    * did my corpus shrink" dashboard a curator reads BEFORE composing the
    * retention filter ([[qualityFilter]] applies a decision; this query
    * explains one).
    *
    * Execution shape: ONE scan → per-doc map-only flag struct → a single
    * 1-row aggregate of conditional sums (map-side partials carry six
    * longs, never text) → a 6-row stack. At 100 TB this is the cheapest
    * possible full-corpus pass: no shuffle wider than six counters per
    * partition. Rules: token count outside [[[RuleMinToks]], [[RuleMaxToks]]]
    * (split low/high), 100×mean word length outside
    * [[[RuleWlenLo]], [[RuleWlenHi]]], 1000×type-token ratio below
    * [[RuleTtrLo]] (intra-doc repetition), 1000×stopword ratio below
    * [[RuleStopLo]] (gibberish signal, [[TextOps.Stopwords]] list).
    */
  def gopherRules(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = Tokens.tokens($"text")
    val n = size(toks).cast("long")
    // Σ word lengths via one fold — no second pass, no split-on-space
    // length identity that would silently break on double spaces.
    val sumWlen = aggregate(transform(toks, t => length(t).cast("long")),
      lit(0L), (acc, x) => acc + x)
    val nDistinct = size(array_distinct(toks)).cast("long")
    val nStop = TextOps.stopwordCount(toks)
    val flags = Tables.documents(spark, dir).select(
      (n < RuleMinToks).as("f_short"),
      (n > RuleMaxToks).as("f_long"),
      (sumWlen * 100L < n * RuleWlenLo || sumWlen * 100L > n * RuleWlenHi)
        .as("f_wlen"),
      (nDistinct * 1000L < n * RuleTtrLo).as("f_ttr"),
      (nStop * 1000L < n * RuleStopLo).as("f_stop"))
    val one = flags.agg(
      count(lit(1)).as("n_docs"),
      sum(when($"f_short", 1L).otherwise(0L)).as("c_short"),
      sum(when($"f_long", 1L).otherwise(0L)).as("c_long"),
      sum(when($"f_wlen", 1L).otherwise(0L)).as("c_wlen"),
      sum(when($"f_ttr", 1L).otherwise(0L)).as("c_ttr"),
      sum(when($"f_stop", 1L).otherwise(0L)).as("c_stop"),
      sum(when($"f_short" || $"f_long" || $"f_wlen" || $"f_ttr" || $"f_stop",
        1L).otherwise(0L)).as("c_any"))
    one.select(expr(
      """stack(6,
        | 'any_rule', c_any,
        | 'low_stopword_ratio', c_stop,
        | 'low_type_token_ratio', c_ttr,
        | 'mean_word_length', c_wlen,
        | 'too_long', c_long,
        | 'too_short', c_short) AS (rule, n_fail)""".stripMargin),
      $"n_docs")
      .select($"rule", $"n_fail",
        // integer `div`, matching the oracle's `//` floor division — the
        // module's all-integer-arithmetic policy keeps doubles out of
        // hash-gated columns entirely (truncation == floor here because
        // both operands are non-negative).
        expr("(n_fail * 1000) div n_docs").as("fail_permille"))
      .orderBy($"rule")
  }

  val gopherRulesSql: String =
    s"""WITH d AS (
       | SELECT len(t) AS n,
       |   list_sum(list_transform(t, x -> len(x))) AS sum_wlen,
       |   len(list_distinct(t)) AS n_distinct,
       |   len(list_filter(t, x -> x IN (${TextOps.stopwordListSql}))) AS n_stop
       | FROM (SELECT ${Tokens.tokensSql("text")} AS t FROM documents)),
       |f AS (
       | SELECT n < $RuleMinToks AS f_short, n > $RuleMaxToks AS f_long,
       |   sum_wlen*100 < $RuleWlenLo*n OR sum_wlen*100 > $RuleWlenHi*n AS f_wlen,
       |   n_distinct*1000 < $RuleTtrLo*n AS f_ttr,
       |   n_stop*1000 < $RuleStopLo*n AS f_stop
       | FROM d),
       |agg AS (
       | SELECT count(*) AS n_docs,
       |   sum(CASE WHEN f_short THEN 1 ELSE 0 END) AS c_short,
       |   sum(CASE WHEN f_long THEN 1 ELSE 0 END) AS c_long,
       |   sum(CASE WHEN f_wlen THEN 1 ELSE 0 END) AS c_wlen,
       |   sum(CASE WHEN f_ttr THEN 1 ELSE 0 END) AS c_ttr,
       |   sum(CASE WHEN f_stop THEN 1 ELSE 0 END) AS c_stop,
       |   sum(CASE WHEN f_short OR f_long OR f_wlen OR f_ttr OR f_stop
       |       THEN 1 ELSE 0 END) AS c_any
       | FROM f),
       |rows_ AS (
       | SELECT 'any_rule' AS rule, c_any AS n_fail, n_docs FROM agg
       | UNION ALL SELECT 'low_stopword_ratio', c_stop, n_docs FROM agg
       | UNION ALL SELECT 'low_type_token_ratio', c_ttr, n_docs FROM agg
       | UNION ALL SELECT 'mean_word_length', c_wlen, n_docs FROM agg
       | UNION ALL SELECT 'too_long', c_long, n_docs FROM agg
       | UNION ALL SELECT 'too_short', c_short, n_docs FROM agg)
       |SELECT rule, CAST(n_fail AS BIGINT) AS n_fail,
       | CAST(n_fail * 1000 // n_docs AS BIGINT) AS fail_permille
       |FROM rows_
       |ORDER BY rule""".stripMargin

  val declared: Seq[Declared] = Seq(
    Declared("x_token_hist", tokenHist, Some(tokenHistSql)),
    Declared("x_bigram_stats", bigramStats, Some(bigramStatsSql)),
    Declared("x_oov_rate", oovRate, Some(oovRateSql)),
    Declared("x_lm_rarity", lmRarity, Some(lmRaritySql)),
    Declared("x_quality_filter", qualityFilter, Some(qualityFilterSql)),
    Declared("x_pareto_front", paretoFront, Some(paretoFrontSql)),
    Declared("x_gopher_rules", gopherRules, Some(gopherRulesSql)))
}
