package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Declared
import graft.io.Tables
import graft.util.Det

/** Snapshot reconciliation — "what changed between yesterday's load and
  * today's?", the audit query every ETL platform eventually needs (the
  * reference re-lands full API snapshots per day; diffing adjacent
  * partitions is how drift/regressions get caught).
  *
  * Mechanism: project each side to (key, row_fingerprint) where the
  * fingerprint is md5 over a canonical '|'-joined rendering, then one
  * full-outer join on the key classifies every row as added / removed /
  * changed / unchanged. Scale notes: the join carries only (key, 32-byte
  * hash, cents) — never full rows — so the shuffle is narrow regardless of
  * row width; with both snapshots written bucketed by the key the exchange
  * disappears entirely (io.Bucketing). Output is the per-status rollup, so
  * the declared result stays bounded at any SF.
  */
object Diff {

  /** (key, fingerprint, cents) projection both snapshot sides share.
    * Prices render as integer cents inside the fingerprint — rendering a
    * DOUBLE into md5 would hash engine-specific float formatting.
    */
  private def fingerprinted(df: DataFrame): DataFrame =
    df.select(
      col("o_orderkey").as("k"),
      md5(concat_ws("|",
        col("o_orderstatus"), col("o_orderpriority"),
        Det.cents(col("o_totalprice")).cast("string"))).as("fp"),
      Det.cents(col("o_totalprice")).as("cents"))

  /** q_table_diff — diff the orders snapshot against a deterministically
    * perturbed "next day" snapshot: every 7th key deleted, every 5th
    * repriced (+10), every 11th re-keyed past the key space (an add).
    * Emits one row per status with row count and net cents delta.
    */
  def tableDiff(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = Tables.orders(spark, dir)
    val next = base.filter($"o_orderkey" % 7 =!= 0)
      .withColumn("o_totalprice",
        when($"o_orderkey" % 5 === 0, $"o_totalprice" + 10.0).otherwise($"o_totalprice"))
      .withColumn("o_orderkey",
        when($"o_orderkey" % 11 === 0, $"o_orderkey" + 100000000L).otherwise($"o_orderkey"))
    val a = fingerprinted(base).withColumnRenamed("fp", "fp_a").withColumnRenamed("cents", "c_a")
    val b = fingerprinted(next).withColumnRenamed("fp", "fp_b").withColumnRenamed("cents", "c_b")
    a.join(b, Seq("k"), "full_outer")
      .withColumn("status",
        when($"fp_a".isNull, "added")
          .when($"fp_b".isNull, "removed")
          .when($"fp_a" =!= $"fp_b", "changed")
          .otherwise("unchanged"))
      .filter($"status" =!= "unchanged")
      .groupBy($"status")
      .agg(
        count(lit(1)).as("n_rows"),
        (sum(coalesce($"c_b", lit(0L)) - coalesce($"c_a", lit(0L))).cast("double") / 100.0)
          .as("net_delta"))
      .orderBy($"status")
  }

  val tableDiffSql: String =
    """WITH base AS (
      | SELECT o_orderkey, o_orderstatus, o_orderpriority, o_totalprice FROM orders),
      |next AS (
      | SELECT CASE WHEN o_orderkey % 11 = 0 THEN o_orderkey + 100000000 ELSE o_orderkey END AS o_orderkey,
      |  o_orderstatus, o_orderpriority,
      |  CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 10.0 ELSE o_totalprice END AS o_totalprice
      | FROM base WHERE o_orderkey % 7 <> 0),
      |a AS (
      | SELECT o_orderkey AS k,
      |  md5(o_orderstatus || '|' || o_orderpriority || '|' ||
      |      CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR)) AS fp_a,
      |  CAST(round(o_totalprice * 100) AS BIGINT) AS c_a
      | FROM base),
      |b AS (
      | SELECT o_orderkey AS k,
      |  md5(o_orderstatus || '|' || o_orderpriority || '|' ||
      |      CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR)) AS fp_b,
      |  CAST(round(o_totalprice * 100) AS BIGINT) AS c_b
      | FROM next),
      |d AS (
      | SELECT COALESCE(a.k, b.k) AS k, fp_a, fp_b, c_a, c_b,
      |  CASE WHEN fp_a IS NULL THEN 'added'
      |       WHEN fp_b IS NULL THEN 'removed'
      |       WHEN fp_a <> fp_b THEN 'changed'
      |       ELSE 'unchanged' END AS status
      | FROM a FULL OUTER JOIN b ON a.k = b.k)
      |SELECT status, count(*) AS n_rows,
      | CAST(sum(COALESCE(c_b, 0) - COALESCE(c_a, 0)) AS DOUBLE) / 100.0 AS net_delta
      |FROM d WHERE status <> 'unchanged'
      |GROUP BY status
      |ORDER BY status""".stripMargin

  val declared: Seq[Declared] = Seq(
    Declared("q_table_diff", tableDiff, Some(tableDiffSql)))
}
