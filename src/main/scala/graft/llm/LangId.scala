package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Declared
import graft.io.Tables

/** Heuristic language identification — stopword-profile scoring (the n-gram
  * heuristic family): score each language by how many tokens hit its
  * stopword profile, predict the argmax with a deterministic alphabetical
  * tie-break. Pure built-ins, map-only plan (no shuffle); the token-set
  * intersection happens per row inside codegen.
  */
object LangId {

  /** Small fixed stopword profiles (top function words per language). */
  val Profiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit"),
    "en" -> Seq("the", "a", "of", "and", "in", "to", "is", "it"),
    "es" -> Seq("el", "la", "de", "los", "las", "y", "que", "en"),
    "fr" -> Seq("le", "la", "les", "et", "des", "un", "une", "que"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有", "和", "不"))

  private def score(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isin(words: _*)))

  /** Adds a `pred_lang` column to a frame that already has a materialized
    * token-array column. The per-language scores go through a named
    * projection first so each token-set intersection is computed ONCE per
    * row, not once per WHEN branch (the expression-duplication trap).
    * Decision logic is identical to [[langIdQuery]]/[[predCaseSql]].
    */
  def addPredLang(
      df: DataFrame, toks: Column, out: String = "pred_lang",
      keepScores: Boolean = false): DataFrame = {
    val scored = df.select(df.columns.map(col) ++
      Profiles.map { case (lang, words) => score(toks, words).as(s"__s_$lang") }: _*)
    val langs = Profiles.map(_._1)
    val pred = langs.init.zipWithIndex.foldRight(lit(langs.last): Column) {
      case ((lang, i), elseCol) =>
        val rest = langs.drop(i + 1).map(l => col(s"__s_$l"))
        val restMax = if (rest.size == 1) rest.head else greatest(rest: _*)
        when(col(s"__s_$lang") >= restMax, lang).otherwise(elseCol)
    }
    val withPred = scored.withColumn(out, pred)
    if (keepScores) withPred else withPred.drop(langs.map(l => s"__s_$l"): _*)
  }

  /** x_lang_id — (doc_id, pred_lang, best_score); ties resolve to the
    * alphabetically first language. The decision comes from [[addPredLang]]
    * — ONE Scala definition of the WHEN-chain, shared with CorpusFilter's
    * retention query, so the two can never desynchronize.
    */
  def langIdQuery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = Tables.documents(spark, dir)
      .select($"doc_id", Tokens.tokens($"text").as("toks"))
    val best = greatest(Profiles.map { case (l, _) => col(s"__s_$l") }: _*)
    addPredLang(base, $"toks", keepScores = true)
      .select($"doc_id", $"pred_lang", best.cast("long").as("best_score"))
      .orderBy($"doc_id")
  }

  /** Oracle fragments, shared with CorpusFilter's composed retention oracle
    * so both engines' language decisions come from ONE definition.
    */
  private[llm] val scoreDefsSql: String = Profiles.map { case (lang, words) =>
    val list = words.map(w => s"'$w'").mkString(", ")
    s"len(list_filter(${Tokens.tokensSql("text")}, t -> t IN ($list))) AS s_$lang"
  }.mkString(",\n  ")

  private[llm] val predCaseSql: String = {
    val langs = Profiles.map(_._1)
    val whenChain = langs.init.zipWithIndex.map { case (lang, i) =>
      val rest = langs.drop(i + 1).map(l => s"s_$l").mkString(", ")
      s"WHEN s_$lang >= greatest($rest) THEN '$lang'"
    }.mkString("\n  ")
    s"CASE $whenChain ELSE '${langs.last}' END"
  }

  val langIdSql: String = {
    val langs = Profiles.map(_._1)
    s"""WITH scored AS (
       | SELECT doc_id,
       |  $scoreDefsSql
       | FROM documents)
       |SELECT doc_id,
       | $predCaseSql AS pred_lang,
       | CAST(greatest(${langs.map(l => s"s_$l").mkString(", ")}) AS BIGINT) AS best_score
       |FROM scored
       |ORDER BY doc_id""".stripMargin
  }

  val declared: Seq[Declared] = Seq(
    Declared("x_lang_id", langIdQuery, Some(langIdSql)))
}
