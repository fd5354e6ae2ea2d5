package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Declared
import graft.io.Tables
import graft.util.Det

/** Benford first-digit profiling of the money column — the fraud /
  * fabricated-data screen: natural multi-magnitude amounts follow
  * log₁₀(1+1/d); a synthesized or truncated feed doesn't (a DQ companion
  * to the [[graft.dq.DataQuality]] threshold checks — this one has a
  * distributional expectation, not a fixed bound).
  *
  * The first significant digit comes from the DECIMAL STRING of the exact
  * integer cents — both engines render positive longs identically, so no
  * float log10 in the grouping path. The Benford expectation is a pinned
  * integer permille table (301, 176, …) joined in, never computed via
  * libm, so the deviation column is exact integer arithmetic end-to-end.
  *
  * At 100 TB: one map-side projection to a 9-value key, a partial+final
  * count aggregate, a broadcast of the 9-row expectation table. Nothing
  * else. (The fixture's uniform price distribution FAILS Benford loudly —
  * dev_permille ~100+ on mid digits — which is precisely the point of the
  * check: synthetic uniform data is what it exists to flag.)
  */
object Benford {

  /** log₁₀(1+1/d) in permille for d = 1..9 (public constant table). */
  val ExpectedPermille: Seq[(Int, Long)] =
    Seq(1 -> 301L, 2 -> 176L, 3 -> 125L, 4 -> 97L, 5 -> 79L,
      6 -> 67L, 7 -> 58L, 8 -> 51L, 9 -> 46L)

  /** x_benford — first-digit counts of order totals vs Benford's law. */
  def benford(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val digits = Tables.orders(spark, dir)
      .select(Det.cents($"o_totalprice").as("cents"))
      .filter($"cents" > 0)
      .select(substring($"cents".cast("string"), 1, 1).cast("long").as("digit"))
      .groupBy($"digit").agg(count(lit(1)).as("n"))
    val total = digits.agg(sum($"n").as("total"))
    val exp = ExpectedPermille
      .map { case (d, p) => (d.toLong, p) }.toDF("digit", "expected_permille")
    digits.crossJoin(broadcast(total))
      .join(broadcast(exp), "digit")
      .select($"digit", $"n",
        expr("n * 1000 div total").as("permille"),
        $"expected_permille",
        abs(expr("n * 1000 div total") - $"expected_permille").as("dev_permille"))
      .orderBy($"digit")
  }

  val benfordSql: String = {
    val expValues = ExpectedPermille
      .map { case (d, p) => s"($d, $p)" }.mkString(", ")
    s"""WITH d AS (
       | SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
       |   AS VARCHAR), 1, 1) AS BIGINT) AS digit
       | FROM orders WHERE round(o_totalprice * 100) > 0),
       |c AS (SELECT digit, count(*) AS n FROM d GROUP BY 1),
       |t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c),
       |exp(digit, expected_permille) AS (VALUES ${expValues})
       |SELECT c.digit, c.n, c.n * 1000 // t.total AS permille,
       | CAST(exp.expected_permille AS BIGINT) AS expected_permille,
       | abs(c.n * 1000 // t.total - exp.expected_permille) AS dev_permille
       |FROM c JOIN exp ON c.digit = exp.digit, t
       |ORDER BY c.digit""".stripMargin
  }

  val declared: Seq[Declared] = Seq(
    Declared("x_benford", benford, Some(benfordSql)))
}
