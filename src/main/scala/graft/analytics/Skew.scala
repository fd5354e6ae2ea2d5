package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Declared
import graft.io.Tables
import graft.util.Det

/** Skew-mitigation utilities (SURVEY.md §7.4-5: per-user/session groupBys
  * skew on bot/power users at the 100 TB design point). AQE's skew-join
  * splitting covers sort-merge joins; these cover the aggregation side and
  * broadcast-averse skewed joins deterministically.
  */
object Skew {

  /** Two-phase (salted) aggregation: partial-aggregate on (key, salt) so one
    * hot key spreads over `saltBuckets` reducers, then final-aggregate on the
    * key. Use for algebraic aggregates (counts/sums): pass the partial and
    * final expressions. The result's key column is named `keyName` — no
    * internal magic name leaks into the output schema.
    *
    * The salt is `pmod(hash(<distributor>), saltBuckets)` — deterministic,
    * no rand(), so declared queries stay replayable.
    */
  def twoPhaseAgg(
      df: DataFrame,
      key: Column,
      distributor: Column,
      saltBuckets: Int,
      partial: Seq[Column],
      fin: Seq[Column],
      keyName: String = "key"): DataFrame =
    df.withColumn("__salt", pmod(hash(distributor), lit(saltBuckets)))
      .groupBy(key.as("__k"), col("__salt"))
      .agg(partial.head, partial.tail: _*)
      .groupBy(col("__k"))
      .agg(fin.head, fin.tail: _*)
      .withColumnRenamed("__k", keyName)

  /** Salted join of a skewed left side against a small-ish right side:
    * left rows get a deterministic salt in [0, n); right rows are replicated
    * n× (explode) so the join key (key, salt) spreads each hot key over n
    * tasks. Right side must be replicable (dimension-sized).
    */
  def saltedJoin(
      left: DataFrame,
      right: DataFrame,
      leftKey: String,
      rightKey: String,
      saltBuckets: Int,
      leftDistributor: Column): DataFrame = {
    val saltedLeft = left
      .withColumn("__salt", pmod(hash(leftDistributor), lit(saltBuckets)))
    val replicatedRight = right
      .withColumn("__salt", explode(sequence(lit(0), lit(saltBuckets - 1))))
    saltedLeft.join(replicatedRight,
      saltedLeft(leftKey) === replicatedRight(rightKey) &&
        saltedLeft("__salt") === replicatedRight("__salt"))
      .drop("__salt")
  }

  val SaltBuckets = 8

  /** Salt-bucket sizing for the ONE-dominant-key regime, measured in the
    * round-9 `skew` stress (docs/BENCH_NOTES.md #47): with b buckets over p
    * reducer partitions, two hot slices can HASH-COLLIDE into one task and
    * re-concentrate what the salt spread (8 buckets over 32 partitions left
    * a 1.35M-record max task at 16M rows; 16 buckets cut it to ≤1M). p/2
    * keeps the worst collision at ~hot/(b/2) while dim replication stays
    * cheap; [[SaltBuckets]] remains the floor for the many-warm-keys shape
    * the declared query models. Use this for the bucket argument when one
    * key dominates; pass an explicit count when you know the key histogram.
    *
    * p is the REDUCER count — `spark.sql.shuffle.partitions`, the number of
    * post-shuffle tasks the salted key actually hashes across — not
    * `defaultParallelism` (core count), which on a default-conf cluster
    * (200 shuffle partitions over, say, 32 cores) would size buckets 6×
    * too small for the collision analysis above to hold.
    *
    * Conf reads are defensive: `spark.sql.shuffle.partitions` can be
    * non-numeric on managed platforms ("auto"), and under AQE
    * `spark.sql.adaptive.coalescePartitions.initialPartitionNum` — when
    * set — is the width the shuffle actually starts at, so it takes
    * precedence. Anything unparseable falls back to defaultParallelism
    * rather than throwing (round-10 ADVICE).
    */
  def saltBucketsFor(spark: SparkSession): Int = {
    def confInt(key: String): Option[Int] =
      scala.util.Try(spark.conf.get(key).toInt).toOption.filter(_ > 0)
    def confOn(key: String): Boolean =
      scala.util.Try(spark.conf.get(key).toBoolean).getOrElse(false)
    // initialPartitionNum is only the real shuffle width when Spark will
    // actually honor it — AQE AND partition coalescing both on; a stale
    // platform-level value with AQE off would otherwise size the buckets
    // (and the salted join's dim replication) against a width the shuffle
    // never runs at.
    val aqeWidth =
      if (confOn("spark.sql.adaptive.enabled") &&
          confOn("spark.sql.adaptive.coalescePartitions.enabled"))
        confInt("spark.sql.adaptive.coalescePartitions.initialPartitionNum")
      else None
    val p = aqeWidth
      .orElse(confInt("spark.sql.shuffle.partitions"))
      .getOrElse(spark.sparkContext.defaultParallelism)
    math.max(SaltBuckets, p / 2)
  }

  /** q_join_salted — the DECLARED face of [[saltedJoin]]: per-brand revenue
    * from a salted lineitem⋈part join. The salt must be invisible in the
    * result — the oracle states the PLAIN join — which is the whole
    * contract of skew mitigation: identical answer, each hot part key
    * spread over [[SaltBuckets]] reducers instead of one straggler task.
    * The distributor is l_orderkey (varies within a part key, so rows of
    * one hot part scatter deterministically — no rand(), replayable).
    * At fixture scale a broadcast join would of course win; this declares
    * the shape for the 100 TB case where BOTH sides are too big to
    * broadcast and one key is hot.
    */
  def joinSalted(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, dir)
      .select($"l_partkey", $"l_orderkey", Det.cents($"l_extendedprice").as("cents"))
    val p = Tables.part(spark, dir).select($"p_partkey", $"p_brand")
    saltedJoin(li, p, "l_partkey", "p_partkey", SaltBuckets, $"l_orderkey")
      .groupBy($"p_brand")
      .agg(count(lit(1)).as("n_items"),
        (sum($"cents").cast("double") / 100.0).as("revenue"))
      .orderBy($"p_brand")
  }

  val joinSaltedSql: String =
    """SELECT p_brand, count(*) AS n_items,
      | CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |GROUP BY p_brand
      |ORDER BY p_brand""".stripMargin

  val declared: Seq[Declared] = Seq(
    Declared("q_join_salted", joinSalted, Some(joinSaltedSql)))
}
