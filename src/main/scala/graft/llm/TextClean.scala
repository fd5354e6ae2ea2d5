package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Declared
import graft.io.Tables

/** Text-cleaning operators for training-data pipelines — the normalize →
  * strip → redact stage that runs before dedup/quality filtering on a crawl
  * corpus. All pure `regexp_replace`/string built-ins: map-only, fully inside
  * whole-stage codegen, no shuffle — the shape that streams 100 TB through
  * executors untouched by the driver.
  *
  * Regexes stay inside the RE2-compatible subset (no backrefs, no lookahead)
  * so the DuckDB oracle (RE2) and Spark (java.util.regex) match byte-for-byte
  * on the same patterns.
  */
object TextClean {

  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  // 13-19 DIGITS with optional space/dash separators: the PAN shape. The
  // count is on digits, not span length — an 11-digit phone with separators
  // spans 14 chars and must NOT match (RE2-safe: no lookahead).
  val CardRe = "\\b(?:[0-9][ -]?){12,18}[0-9]\\b"
  // Leading anchor: either an explicit '+' or a word boundary — without it
  // the pattern would match a 9+ digit run starting MID-token ("X9123456789")
  // and destroy arbitrary alphanumeric ids. Whole-token digit runs of phone
  // length still redact: over-redaction is the intended stance for PII.
  val PhoneRe = "(?:\\+|\\b)[0-9]{1,3}[ .-]?\\(?[0-9]{2,4}\\)?[ .-]?[0-9]{3,4}[ .-]?[0-9]{3,4}\\b"
  val TagRe = "<[^>]*>"
  val WsRe = "[ \\t\\r\\n]+"

  /** Drop markup, keep text: tags → space, then whitespace collapse + trim. */
  def stripHtml(text: Column): Column =
    trim(regexp_replace(regexp_replace(text, TagRe, " "), WsRe, " "))

  /** Canonical form for dedup keys: lowercase + whitespace collapse + trim.
    * (Deliberately NOT Unicode NFC — normalization tables vary by ICU
    * version across engines; lowercase+whitespace is the stable common
    * subset, and byte-level md5 keys then agree everywhere.)
    */
  def canonicalize(text: Column): Column =
    lower(trim(regexp_replace(text, WsRe, " ")))

  /** The exact-dedup key: md5 of [[canonicalize]]. */
  def fingerprint(text: Column): Column = md5(canonicalize(text))

  /** DuckDB twins of [[canonicalize]] and [[fingerprint]]. */
  def canonicalizeSql(text: String): String =
    s"lower(trim(regexp_replace($text, '$WsRe', ' ', 'g')))"

  def fingerprintSql(text: String): String = s"md5(${canonicalizeSql(text)})"

  /** PII redaction: email/IP/card/phone spans replaced by typed tokens.
    * Order matters and is pinned: cards before phones (a separated PAN also
    * matches the phone shape), emails before IPs (domains contain dots).
    */
  def redactPii(text: Column): Column = {
    val e = regexp_replace(text, EmailRe, "<EMAIL>")
    val c = regexp_replace(e, CardRe, "<CARD>")
    val i = regexp_replace(c, Ipv4Re, "<IP>")
    regexp_replace(i, PhoneRe, "<PHONE>")
  }

  /** x_text_clean — the full cleaning stage over `documents`: canonical text,
    * its dedup hash, the PII-redacted view, and per-kind PII counts. The
    * fixture corpus is synthetic prose (counts mostly 0); semantics on real
    * PII/HTML are pinned by TextCleanSpec.
    */
  def textClean(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // canon bound to a named column ONCE: inlining the 3-regex chain into
    // both canon_text and canon_hash would evaluate it twice per row (the
    // measured inline-reference trap — see TextOps' house rule).
    Tables.documents(spark, dir)
      .orderBy($"doc_id")
      .withColumn("canon_text", canonicalize(stripHtml($"text")))
      .select(
        $"doc_id",
        $"canon_text",
        md5($"canon_text").as("canon_hash"),
        redactPii($"text").as("redacted"),
        regexp_count($"text", lit(EmailRe)).cast("long").as("n_emails"),
        regexp_count($"text", lit(Ipv4Re)).cast("long").as("n_ips"))
  }

  val textCleanSql: String = {
    val stripped = s"regexp_replace(regexp_replace(text, '$TagRe', ' ', 'g'), '$WsRe', ' ', 'g')"
    s"""SELECT doc_id,
       | ${canonicalizeSql(stripped)} AS canon_text,
       | ${fingerprintSql(stripped)} AS canon_hash,
       | regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
       |   '$EmailRe', '<EMAIL>', 'g'),
       |   '$CardRe', '<CARD>', 'g'),
       |   '$Ipv4Re', '<IP>', 'g'),
       |   '$PhoneRe', '<PHONE>', 'g') AS redacted,
       | CAST(len(regexp_extract_all(text, '$EmailRe')) AS BIGINT) AS n_emails,
       | CAST(len(regexp_extract_all(text, '$Ipv4Re')) AS BIGINT) AS n_ips
       |FROM documents
       |ORDER BY doc_id""".stripMargin
  }

  val declared: Seq[Declared] = Seq(
    Declared("x_text_clean", textClean, Some(textCleanSql)))
}
