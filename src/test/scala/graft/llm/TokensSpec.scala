package graft.llm

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec

/** The text-token kernel ([[Tokens]], [[TextClean.fingerprint]]) against
  * Scala closed forms under ANSI, on fixed-seed generated texts plus the
  * edge texts every caller meets: empty, one token, whitespace only, double
  * spaces, tabs and NULL.
  */
class TokensSpec extends SparkSpec {
  import spark.implicits._

  private def samples[A](gen: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => gen.apply(Gen.Parameters.default, Seed(42L + i)))

  // a tiny vocabulary (the empty word included) so grams repeat, joined by
  // single and double spaces and tabs; a text may lead or trail with any
  private val textGen: Gen[String] = for {
    n <- Gen.chooseNum(0, 14)
    words <- Gen.listOfN(n, Gen.oneOf("a", "b", "Ab", "cC", ""))
    seps <- Gen.listOfN(n, Gen.oneOf(" ", " ", " ", "  ", "\t", " \t "))
  } yield words.zip(seps).map { case (w, s) => w + s }.mkString

  private val edgeTexts = Seq(
    "", "a", " ", "   ", "\t", "a  b", "a\tb c", "x y", "x y z",
    " lead and trail ", "A b C d e f g h", "A b C d e f g h i")

  private val Ks = Seq(2, 3, 5, 8)

  private def tokensModel(text: String, lower: Boolean): Seq[String] =
    (if (lower) text.toLowerCase(java.util.Locale.ROOT) else text)
      .split(" ", -1).toSeq

  // Scala's sliding emits one partial window below k; the kernel emits none
  private def gramsModel(toks: Seq[String], k: Int): Seq[String] =
    if (toks.length < k) Nil else toks.sliding(k).map(_.mkString(" ")).toSeq

  private def fingerprintModel(text: String): String = {
    val canon = text.replaceAll("[ \t\r\n]+", " ")
      .stripPrefix(" ").stripSuffix(" ").toLowerCase(java.util.Locale.ROOT)
    java.security.MessageDigest.getInstance("MD5")
      .digest(canon.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  test("tokens, grams (k = 2, 3, 5, 8) and fingerprint equal the closed " +
    "forms under ANSI") {
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true")
    val texts = edgeTexts ++ samples(textGen, 80)
    val df = texts.toDF("text")
      .withColumn("toks", Tokens.tokens($"text"))
      .withColumn("ltoks", Tokens.tokens($"text", lower = true))
    val cols = Seq($"text", $"toks", $"ltoks", TextClean.fingerprint($"text")) ++
      Ks.map(k => Tokens.grams($"toks", k))
    val rows = df.select(cols: _*).collect()
    assert(rows.length == texts.length)
    rows.foreach { r =>
      val text = r.getString(0)
      val toks = tokensModel(text, lower = false)
      assert(r.getSeq[String](1) == toks, s"tokens of '$text'")
      assert(r.getSeq[String](2) == tokensModel(text, lower = true), s"lowered tokens of '$text'")
      assert(r.getString(3) == fingerprintModel(text), s"fingerprint of '$text'")
      Ks.zipWithIndex.foreach { case (k, j) =>
        assert(r.getSeq[String](4 + j) == gramsModel(toks, k), s"$k-grams of '$text'")
      }
    }
  }

  test("a NULL text has NULL tokens, grams and fingerprint") {
    val r = Seq(Option.empty[String]).toDF("text")
      .withColumn("toks", Tokens.tokens($"text"))
      .select($"toks", Tokens.grams($"toks", 3), TextClean.fingerprint($"text"))
      .head()
    assert((0 until 3).forall(r.isNullAt))
  }

  test("grams builds word 3-grams in order") {
    val got = Seq("a b c d e").toDF("text")
      .withColumn("toks", Tokens.tokens($"text"))
      .select(Tokens.grams($"toks", 3).as("sh"))
      .as[Seq[String]].head()
    assert(got == Seq("a b c", "b c d", "c d e"))
  }

  test("grams on exactly 3 tokens yields one shingle") {
    val got = Seq("a b c").toDF("text")
      .withColumn("toks", Tokens.tokens($"text"))
      .select(Tokens.grams($"toks", 3).as("sh"))
      .as[Seq[String]].head()
    assert(got == Seq("a b c"))
  }
}
