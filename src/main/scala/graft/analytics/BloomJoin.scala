package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Declared
import graft.io.Tables

/** Semi-join reduction via a Bloom-filter pre-filter — the classic
  * distributed-join optimization: build a compact membership sketch on the
  * SMALL side, broadcast it, and drop non-matching rows from the LARGE side
  * map-side, BEFORE the shuffle. The exact semi-join still runs afterwards,
  * so Bloom false positives cost only a little extra shuffle volume and the
  * result is exact — the sketch changes data movement, never answers.
  *
  * At 100 TB this is the difference between shuffling the full fact table
  * and shuffling only the ~matching fraction (plus fpp): with a 10%-selective
  * dimension predicate, ~90% of the scan never reaches the exchange. The
  * filter itself is tiny (~1.2 MB per 1M keys at 1% fpp) and rides to
  * executors inside the serialized plan.
  *
  * Spark's optimizer does the same thing automatically in SOME plans
  * (`InjectRuntimeFilter` / spark.sql.optimizer.runtime.bloomFilter.*), but
  * only when both sides sit in one query and heuristics fire. This explicit
  * operator covers the rest: a build side materialized by an earlier job, a
  * reused filter across several probes, or a tuned fpp. The probe uses
  * Spark's own native `BloomFilterMightContain` expression (codegen'd,
  * registered as `might_contain` in [[graft.functions.GraftFunctions]]) —
  * the same expression runtime filter injection plants, and the same
  * `org.apache.spark.util.sketch.BloomFilter` format `stat.bloomFilter`
  * builds distributed (partial sketches merged, one pass, no collect of
  * keys).
  */
object BloomJoin {

  /** Serialized Bloom filter over `keys.keyCol` (INTEGRAL keys — the sketch
    * stores longs; `might_contain` probes with the raw long value).
    */
  def buildFilterBytes(
      keys: DataFrame, keyCol: String, expectedItems: Long, fpp: Double = 0.01): Array[Byte] = {
    val bf = keys.stat.bloomFilter(keyCol, expectedItems, fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    bos.toByteArray
  }

  /** `large` rows whose `largeKey` might be in the sketch — map-only, runs
    * inside the scan stage, never false-negative.
    */
  def prefilter(large: DataFrame, filterBytes: Array[Byte], largeKey: String): DataFrame = {
    graft.functions.GraftFunctions.register(large.sparkSession)
    large.filter(call_function("might_contain", lit(filterBytes), col(largeKey)))
  }

  /** Bloom-prefiltered exact left-semi join on an integral key: sketch the
    * small side, thin the large side map-side, then the real semi-join
    * removes the false positives.
    */
  def bloomSemiJoin(
      large: DataFrame, small: DataFrame, largeKey: String, smallKey: String,
      expectedItems: Long, fpp: Double = 0.01): DataFrame = {
    val bytes = buildFilterBytes(small, smallKey, expectedItems, fpp)
    prefilter(large, bytes, largeKey)
      .join(small.select(col(smallKey).as(largeKey)), Seq(largeKey), "left_semi")
  }

  val PriceThreshold = 450000.0

  /** q_bloom_semi — line items of high-value orders (o_totalprice above
    * [[PriceThreshold]], ~10% of orders), aggregated per return flag. The
    * declared form of the semi-join-reduction pattern; the oracle states the
    * plain `IN` subquery — the Bloom stage must be invisible in the result.
    */
  def bloomSemi(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val hv = Tables.orders(spark, dir)
      .filter($"o_totalprice" > PriceThreshold)
      .select($"o_orderkey")
    val li = Tables.lineitem(spark, dir)
      .select($"l_orderkey", $"l_returnflag", $"l_quantity")
    // expectedItems from a real count of the (narrow, filtered) build side:
    // a hardcoded capacity saturates once the SF grows past it, degrading
    // fpp toward 1 and silently erasing the shuffle reduction (results stay
    // exact — the semi join refines — but the sketch stops paying its way).
    // The count scans one pruned column with the filter pushed down.
    val nKeys = math.max(hv.count(), 1L)
    bloomSemiJoin(li, hv, "l_orderkey", "o_orderkey", expectedItems = nKeys)
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n_items"),
        sum($"l_quantity".cast("long")).as("sum_qty"))
      .orderBy($"l_returnflag")
  }

  val bloomSemiSql: String =
    s"""SELECT l_returnflag, count(*) AS n_items,
       | CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
       |FROM lineitem
       |WHERE l_orderkey IN (
       | SELECT o_orderkey FROM orders WHERE o_totalprice > $PriceThreshold)
       |GROUP BY l_returnflag
       |ORDER BY l_returnflag""".stripMargin

  val declared: Seq[Declared] = Seq(
    Declared("q_bloom_semi", bloomSemi, Some(bloomSemiSql)))
}
