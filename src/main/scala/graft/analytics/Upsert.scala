package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Declared
import graft.io.Tables
import graft.util.Det

/** Keyed merge (the MERGE INTO / CDC-upsert shape, without a table format):
  * apply a change set to a base table, keeping the highest-version row per
  * key. This is the reference repo's actual job family — self-service ETL is
  * mostly "land changes, merge into the serving table".
  *
  * Shape: union + one shuffle on the key + row_number pick. The union avoids
  * a full outer join (two shuffles + null-weaving); at 100 TB the winning
  * move is the same one as q_latest_event — partial sort inside the window
  * discards losers early, and writing the result partitioned/bucketed by the
  * key makes the NEXT merge's shuffle free on the base side.
  */
object Upsert {

  /** Keep the winning row per key: highest `version`, ties broken by
    * `tieBreak` descending (both sides of a merge may carry one version).
    */
  def applyChanges(
      base: DataFrame,
      changes: DataFrame,
      key: String,
      version: String,
      tieBreak: String): DataFrame = {
    val w = Window.partitionBy(col(key))
      .orderBy(col(version).desc, col(tieBreak).desc)
    base.unionByName(changes)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** q_merge_upsert — merge a deterministic change slice (every 5th order,
    * repriced +10, version 2) into the orders base (version 1) and report
    * the merged table's per-status rollup plus how many rows the change set
    * won. The rollup keeps the declared output bounded at any SF while still
    * hashing every merged row's contribution.
    */
  def mergeUpsert(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // `seq` is the honest tie-break: a change-set row wins over a base row
    // even at an equal version (the key itself would be constant inside the
    // window partition and decide nothing).
    val base = Tables.orders(spark, dir)
      .select($"o_orderkey", $"o_orderstatus", $"o_totalprice",
        lit(1L).as("version"), lit(0L).as("seq"))
    val changes = Tables.orders(spark, dir)
      .filter($"o_orderkey" % 5 === 0)
      .select($"o_orderkey", $"o_orderstatus",
        ($"o_totalprice" + 10.0).as("o_totalprice"),
        lit(2L).as("version"), lit(1L).as("seq"))
    applyChanges(base, changes, key = "o_orderkey",
      version = "version", tieBreak = "seq")
      .drop("seq")
      .groupBy($"o_orderstatus")
      .agg(
        count(lit(1)).as("n_orders"),
        sum(when($"version" === 2L, 1L).otherwise(0L)).as("n_updated"),
        (sum(Det.cents($"o_totalprice")).cast("double") / 100.0).as("total_price"))
      .orderBy($"o_orderstatus")
  }

  val mergeUpsertSql: String =
    """WITH base AS (
      | SELECT o_orderkey, o_orderstatus, o_totalprice, 1 AS version, 0 AS seq FROM orders),
      |changes AS (
      | SELECT o_orderkey, o_orderstatus, o_totalprice + 10.0 AS o_totalprice, 2 AS version, 1 AS seq
      | FROM orders WHERE o_orderkey % 5 = 0),
      |merged AS (
      | SELECT *, row_number() OVER (PARTITION BY o_orderkey
      |                              ORDER BY version DESC, seq DESC) AS rn
      | FROM (SELECT * FROM base UNION ALL SELECT * FROM changes) u)
      |SELECT o_orderstatus,
      | count(*) AS n_orders,
      | CAST(sum(CASE WHEN version = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_updated,
      | CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_price
      |FROM merged WHERE rn = 1
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin

  val declared: Seq[Declared] = Seq(
    Declared("q_merge_upsert", mergeUpsert, Some(mergeUpsertSql)))
}
