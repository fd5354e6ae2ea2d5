package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Ckpt._

/** Gaps-and-islands numbering — the one kernel behind gap sessionization
  * ([[Sessions]]) and SCD2 run detection ([[Scd]]). An island is a maximal
  * run of a key's rows, in a given order, that no row re-opens: the island
  * number of a row is the per-key running count of rows where
  * `opens(previous value, value)` holds. The first row of a key sees a
  * NULL previous value. `opens` is evaluated under SQL's three-valued
  * logic and a NULL result reads "continues".
  *
  * Each caller writes its row rule once, as its `opens` function, and
  * both plans below derive everything from it — including the capped
  * plan's chunk-boundary stitch, so atomic/capped parity holds by
  * construction rather than by a hand-copied NULL rule.
  *
  * `order` must be a total order within a key (a unique tie-break last):
  * the capped plan range-partitions on `key +: order`, and its chunk
  * boundaries must fall between rows the atomic window also separates.
  */
object Islands {

  private def flag(opens: Column): Column = when(opens, 1L).otherwise(0L)

  /** Atomic plan: one `partitionBy(key)` window, a lag plus a running sum.
    * A window partition is one task, so a key with 10⁸ rows is a single
    * straggler — [[numberCapped]] bounds it.
    */
  def number(df: DataFrame, key: String, order: Seq[Column], value: Column,
      opens: (Column, Column) => Column, as: String): DataFrame = {
    val byKey = Window.partitionBy(col(key)).orderBy(order: _*)
    df.withColumn("__open", flag(opens(lag(value, 1).over(byKey), value)))
      .withColumn(as, sum(col("__open"))
        .over(byKey.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("__open")
  }

  /** The SAME numbering as [[number]] on any input (NULL values and NULL
    * order columns included), without the atomic per-key window
    * partition.
    *
    * Shape (the [[PrefixSum]] split-and-stitch, specialized to a keyed
    * conditional running count): range-partition on `key +: order` into
    * `slices` slices — the sampler splits a hot key's rows across slices
    * because the order columns are part of the sort key, so every slice is
    * ~rows/slices REGARDLESS of key skew — then number islands per
    * (slice, key) chunk with the atomic rule (max window partition = slice
    * size), and stitch chunk boundaries over a per-(slice, key) summary:
    * a chunk's first row provisionally opens an island; when `opens`
    * evaluated on (previous chunk's last value, this chunk's first value)
    * is not true, the stitch folds that island into the previous one by
    * shifting the chunk's numbers down one. A key's stitch window holds at
    * most `slices` rows, so no partition anywhere in the plan depends on a
    * single key's row count. Cost vs the atomic plan: one range exchange
    * plus one (slice, key) hash exchange instead of one key exchange, a
    * corpus-sized checkpoint, and a summary-sized join.
    */
  def numberCapped(df: DataFrame, key: String, order: Seq[Column],
      value: Column, opens: (Column, Column) => Column, as: String,
      slices: Int = 0): DataFrame = {
    val n = if (slices > 0) slices else df.sparkSession.sparkContext.defaultParallelism
    val wChunk = Window.partitionBy(col("__pid"), col(key)).orderBy(order: _*)
    // The ONE corpus-sized checkpoint, load-bearing three ways: `local`
    // feeds both the boundary summary and the final join, and without it
    // the chunk sort+window — the operator's one corpus-sized step — would
    // execute once per consumer (exchange reuse shares the shuffle, not the
    // sort and window); the single eager materialization pins the sampled
    // range bounds and the spark_partition_id slice assignment both
    // consumers must agree on (PrefixSum's contract); and it carries the
    // window's hash(__pid, key) layout across the lineage cut, so the
    // summary aggregate runs partition-local and the final join consumes
    // this side in place.
    val local = df
      .repartitionByRange(n, col(key) +: order: _*)
      .withColumn("__pid", spark_partition_id())
      .withColumn("__open", flag(opens(lag(value, 1).over(wChunk), value)))
      .withColumn("__local", sum(col("__open"))
        .over(wChunk.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__rn", row_number().over(wChunk))
      .drop("__open")
      .ckptDisk()
    // A chunk's first and last value by min_by/max_by on the never-null
    // row number: a NULL there is a real "that row's value was NULL",
    // never an empty-group ambiguity.
    val wKey = Window.partitionBy(col(key)).orderBy(col("__pid").asc)
    val offsets = local.groupBy(col("__pid"), col(key))
      .agg(min_by(value, col("__rn")).as("__first"),
        max_by(value, col("__rn")).as("__last"),
        max(col("__local")).as("__n"))
      .withColumn("__stitch", flag(row_number().over(wKey) > 1 &&
        !coalesce(opens(lag(col("__last"), 1).over(wKey), col("__first")), lit(false))))
      .select(col("__pid"), col(key),
        (coalesce(sum(col("__n") - col("__stitch"))
          .over(wKey.rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
          - col("__stitch")).as("__off"))
    local.join(offsets, Seq("__pid", key))
      .withColumn(as, col("__off") + col("__local"))
      .drop("__pid", "__local", "__rn", "__off")
  }
}
