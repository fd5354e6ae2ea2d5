package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Declared
import graft.io.Tables

/** The hashing trick (signed feature hashing) — project an unbounded
  * vocabulary into [[Buckets]] fixed dimensions with a ±1 sign hash, the
  * constant-memory featurizer linear models and online learners use when
  * the vocabulary won't fit a dictionary. Declared as the corpus-level
  * bucket profile: token mass, collision load (distinct tokens per
  * bucket), and the signed sum whose cancellation is the trick's
  * unbiasedness mechanism.
  *
  * Hashing is the repo's canonical cross-engine idiom: md5 hex prefix →
  * integer (Spark `conv(substr,16,10)` ≡ DuckDB `'0x'||substr` cast), so
  * bucket and sign are identical everywhere — no engine-private hash
  * function in any declared result ([[SimHash]] pins the same idiom).
  *
  * At 100 TB: tokenize map-side, ONE aggregate onto [[Buckets]] keys —
  * the collision count (exact distinct per bucket) is the only term that
  * needs a two-level aggregate; swap it for a KMV estimate ([[graft.analytics.Sketch]])
  * when the per-bucket vocabulary itself is huge.
  */
object FeatureHash {

  val Buckets = 64

  /** x_feature_hash — per-bucket token mass / collision load / signed sum. */
  def featureHash(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(explode(Tokens.tokens($"text", lower = true)).as("tok"))
      .filter($"tok" =!= "")
      .select($"tok",
        conv(substring(md5($"tok"), 1, 15), 16, 10).cast("long").as("h"))
      .select($"tok", pmod($"h", lit(Buckets)).as("bucket"),
        when(pmod($"h", lit(2)) === 0, 1L).otherwise(-1L).as("sign"))
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n_tokens"),
        countDistinct($"tok").as("n_distinct"),
        sum($"sign").as("signed_sum"))
      .orderBy($"bucket")
  }

  val featureHashSql: String =
    s"""WITH tok AS (
       | SELECT unnest(${Tokens.tokensSql("text", lower = true)}) AS tok FROM documents),
       |h AS (
       | SELECT tok, CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h
       | FROM tok WHERE tok <> ''),
       |f AS (
       | SELECT tok, h % ${Buckets} AS bucket,
       |  CASE WHEN h % 2 = 0 THEN 1 ELSE -1 END AS sign
       | FROM h)
       |SELECT bucket, count(*) AS n_tokens,
       | count(DISTINCT tok) AS n_distinct,
       | CAST(sum(sign) AS BIGINT) AS signed_sum
       |FROM f GROUP BY 1
       |ORDER BY bucket""".stripMargin

  val declared: Seq[Declared] = Seq(
    Declared("x_feature_hash", featureHash, Some(featureHashSql)))
}
