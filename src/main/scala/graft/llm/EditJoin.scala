package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Declared
import graft.io.Tables

/** Edit-distance similarity join (entity resolution / fuzzy linkage) via
  * segment-pigeonhole blocking — the string-similarity companion of
  * [[SimJoin]]'s set-similarity PPJoin: match "dirty" strings back to a
  * catalog within Levenshtein distance [[Tau]] without the all-pairs scan.
  *
  * Blocking (PassJoin-style, τ=1): split every catalog string into 2
  * segments (prefix of ⌊L/2⌋, remainder). One edit touches at most one
  * segment, so any query within distance 1 shares EITHER the catalog
  * prefix segment as its own prefix OR the catalog suffix segment as its
  * own suffix — each query emits ≤ 2 keys per candidate length L ∈
  * {len−1, len, len+1} (≤ 6 total), candidates equi-join on
  * (L, segment_index, segment), and exact `levenshtein` verifies. The
  * blocking is LOSSLESS by pigeonhole; the oracle is the brute-force
  * length-banded cross join, so the hash gate proves it.
  *
  * Fixture face: catalog = 16-char document title prefixes; dirty side =
  * every 5th title with one character deleted at a title-dependent
  * position (derivation stated identically in both engines — the re-keyed
  * / OCR-damaged record linkage shape).
  *
  * At 100 TB: candidate generation is map-side (explode of ≤ 2 keys per
  * segment), the join shuffles on short segment keys with near-uniform
  * fan-out, and verification touches only candidates — the all-pairs
  * quadratic never materializes. Raise τ by splitting into τ+1 segments
  * (same pigeonhole argument).
  */
object EditJoin {

  val Tau = 1
  /** Catalog title width (chars) and the dirty-side sampling modulus. */
  val TitleLen = 16
  val DirtyMod = 5

  private def titles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"doc_id", substring(lower($"text"), 1, TitleLen).as("name"))
  }

  /** x_edit_join — (dirty id, catalog id, exact distance ≤ τ) matches. */
  def editJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val t = titles(spark, dir)
    val dirty = t.filter($"doc_id" % DirtyMod === 0)
      .select($"doc_id".as("vid"),
        expr(s"""concat(substring(name, 1, (doc_id % 14)),
                 |       substring(name, (doc_id % 14) + 2, $TitleLen))"""
          .stripMargin).as("vname"))
    // catalog segments: (target length, segment index, segment string)
    val catSegs = t
      .withColumn("l", length($"name"))
      .select($"doc_id", $"name", $"l",
        explode(array(
          struct(lit(1).as("seg"),
            expr("substring(name, 1, l div 2)").as("part")),
          struct(lit(2).as("seg"),
            expr("substring(name, l div 2 + 1, l)").as("part")))).as("s"))
      .select($"doc_id", $"name", $"l", $"s.seg", $"s.part")
    // query candidate keys: for each admissible catalog length, my prefix
    // of that length's seg-1 width, and my suffix of its seg-2 width
    val qKeys = dirty
      .withColumn("lq", length($"vname"))
      .select($"vid", $"vname", $"lq",
        explode(expr(
          s"""flatten(transform(sequence(lq - $Tau, lq + $Tau), tl ->
             |  array(
             |   named_struct('l', tl, 'seg', 1,
             |     'part', substring(vname, 1, tl div 2)),
             |   named_struct('l', tl, 'seg', 2,
             |     'part', substring(vname, lq - (tl - tl div 2) + 1, $TitleLen)))))"""
            .stripMargin)).as("k"))
      .select($"vid", $"vname", $"k.l", $"k.seg", $"k.part")
    qKeys.join(catSegs, Seq("l", "seg", "part"))
      .select($"vid", $"vname", $"doc_id", $"name")
      .distinct()
      .filter(levenshtein($"vname", $"name") <= Tau)
      .select($"vid", $"doc_id",
        levenshtein($"vname", $"name").cast("long").as("dist"))
      .orderBy($"vid", $"doc_id")
  }

  val editJoinSql: String =
    s"""WITH t AS (
       | SELECT doc_id, substr(lower(text), 1, ${TitleLen}) AS name
       | FROM documents),
       |v AS (
       | SELECT doc_id AS vid,
       |  substr(name, 1, (doc_id % 14)) ||
       |  substr(name, (doc_id % 14) + 2, ${TitleLen}) AS vname
       | FROM t WHERE doc_id % ${DirtyMod} = 0)
       |SELECT v.vid, t.doc_id,
       | CAST(levenshtein(v.vname, t.name) AS BIGINT) AS dist
       |FROM v JOIN t ON abs(length(v.vname) - length(t.name)) <= ${Tau}
       |WHERE levenshtein(v.vname, t.name) <= ${Tau}
       |ORDER BY vid, doc_id""".stripMargin

  val declared: Seq[Declared] = Seq(
    Declared("x_edit_join", editJoin, Some(editJoinSql)))
}
