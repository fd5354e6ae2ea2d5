package graft.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Exact distributed selection: the value (and tiebreak key) at chosen
  * ranks of each group's value order, without sorting the frame. This is
  * the one copy of the histogram-selection shape behind x_select_quantile,
  * x_weighted_median, q_ntile, x_rfm and x_calibration_bins.
  *
  * Passes over `df` (each re-evaluates it; pass a cheap-to-recompute or
  * materialized frame):
  *  1. one grouped stats aggregate — n, min, max and, when weighted, the
  *     total weight — collected (bounded by the group count);
  *  2. one [[Buckets]]-bucket histogram per group — row count and weight
  *     per bucket, map-side combined, collected (≤ groups × Buckets rows);
  *  3. on the driver, a walk of each group's histogram to the bucket
  *     holding each wanted rank, and the residual rank inside it;
  *  4. one in-bucket pass over only the picked buckets' rows: the weight
  *     summed per (group, bucket, value, key…), a cumulative sum
  *     partitioned by (group, bucket) in (value, key…) order, the picks
  *     joined in, and the minimum (value, key…) per (group, rank) whose
  *     cumulative reaches the residual rank.
  * Pass 4 is returned lazily, so a caller that assembles its answer from
  * it on the executors pays no extra collect. Its window input is the
  * picked buckets' value domain when unkeyed, and their row extents
  * (about n/Buckets each) when keyed — never the frame's row count.
  *
  * Ranks are 1-based positions in (value, key…) order; weighted, rank k
  * selects the first row whose cumulative weight reaches k. Keyed
  * selection needs the key columns unique per group: each (value, key…)
  * is then its own row, so pass 4 skips the per-value sum and its
  * shuffle. Value and weight columns are non-null (a NULL group is a
  * group); weights are ≥ 0, and ranks reach only rows of positive weight.
  *
  * Bucketing: `(c - mn) * Buckets div (mx - mn + 1)` is monotone in c, so
  * each bucket holds a contiguous run of the value order. Where
  * `(mx - mn) * Buckets` overflows a long (spans past ~2^55, which throw
  * under ANSI), the driver shifts both ends right by the least `s` that
  * makes it fit: `((c >> s) - (mn >> s)) * Buckets div
  * ((mx >> s) - (mn >> s) + 1)` — still monotone and in [0, Buckets).
  * Spans that fit keep the plain form bit for bit, so x_select_quantile's
  * `bucket` column equals its oracle SQL's.
  */
object Select {

  /** Histogram resolution of pass 2. */
  val Buckets = 256L

  /** One group's pass-1 stats; `total` is the weight sum, or n unweighted. */
  final case class Group(key: Any, n: Long, total: Long, mn: Long, mx: Long)

  /** `groups` holds every non-empty group. `picks` has one row per
    * (group, rank) with the group column, `rank`, the value column, the
    * key columns, `bucket` and `bucket_rows` (the bucket's row count).
    */
  final case class Selection(groups: Seq[Group], picks: DataFrame)

  /** Selects, per group, the rows at the ranks `ranks(total)` names; ranks
    * outside [1, total] are dropped, duplicates collapse.
    */
  def apply(df: DataFrame, value: String, group: Option[String] = None,
      weight: Option[String] = None, keys: Seq[String] = Nil)(
      ranks: Long => Seq[Long]): Selection = {
    val g = group.map(col).toSeq
    val v = col(value).cast(LongType)
    val w = weight.map(col)
    val o = g.size
    def keyOf(r: Row): Any = if (o == 0) null else r.get(0)
    // pass 1: per-group n / min / max (/ total weight)
    val groups = df.groupBy(g: _*)
      .agg(count(lit(1)), (Seq(min(v), max(v)) ++ w.map(c => sum(c))): _*)
      .collect().toSeq
      .filter(_.getLong(o) > 0L)
      .map { r =>
        val n = r.getLong(o)
        val total = if (w.isEmpty) n else r.getLong(o + 3)
        Group(keyOf(r), n, total, r.getLong(o + 1), r.getLong(o + 2))
      }
    def isGroup(k: Any): Column = g.headOption.fold(lit(true))(_ <=> lit(k))
    // ungrouped, the one branch is `WHEN true`, which the optimizer folds
    val bucket = groups.foldLeft(lit(0L)) { (acc, gr) =>
      when(isGroup(gr.key), bucketOf(v, gr.mn, gr.mx)).otherwise(acc)
    }
    // pass 2: per-(group, bucket) row count and weight
    val hist =
      if (groups.isEmpty) Map.empty[Any, Seq[(Long, Long, Long)]]
      else df.select(g :+ bucket.as("sel_b") :+ w.getOrElse(lit(1L)).as("sel_w"): _*)
        .groupBy(g :+ col("sel_b"): _*)
        .agg(count(lit(1)), w.fold(count(lit(1)))(_ => sum("sel_w")))
        .collect().toSeq
        .groupBy(keyOf)
        .map { case (k, rs) =>
          k -> rs.map(r => (r.getLong(o), r.getLong(o + 1), r.getLong(o + 2)))
            .sortBy(_._1)
        }
    // pass 3: walk each group's histogram to the bucket holding rank k
    val picks = groups.flatMap { gr =>
      val h = hist(gr.key)
      val through = h.scanLeft(0L)(_ + _._3).tail
      ranks(gr.total).distinct.filter(k => k >= 1L && k <= gr.total).map { k =>
        val i = through.indexWhere(_ >= k)
        val (b, rows, bw) = h(i)
        Row.fromSeq(g.map(_ => gr.key) ++ Seq(k, b, k - (through(i) - bw), rows))
      }
    }
    // pass 4: residual ranks inside the picked buckets only
    val spark = df.sparkSession
    val pickDf = broadcast(spark.createDataFrame(picks.asJava, StructType(
      group.map(gc => StructField("sel_g", df.schema(gc).dataType)).toSeq ++
        Seq("rank", "sel_pb", "sel_res", "bucket_rows")
          .map(StructField(_, LongType)))))
    val wanted = picks.groupBy(keyOf)
      .map { case (k, rs) =>
        isGroup(k) && col("sel_b").isin(rs.map(_.getLong(o + 1)).distinct: _*)
      }
      .reduceOption(_ || _).getOrElse(lit(false))
    val order = (value +: keys).map(col)
    val inBucket = df
      .select(g ++ Seq(bucket.as("sel_b"), v.as(value)) ++ keys.map(col) :+
        w.getOrElse(lit(1L)).as("sel_w"): _*)
      .filter(wanted)
    val perValue =
      if (keys.nonEmpty) inBucket
      else inBucket.groupBy(g ++ order :+ col("sel_b"): _*).agg(sum("sel_w").as("sel_w"))
    val cum = Window.partitionBy(g :+ col("sel_b"): _*).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val hit = perValue
      .withColumn("sel_cum", sum("sel_w").over(cum))
      .join(pickDf, (g.map(_ <=> col("sel_g")) :+ (col("sel_b") === col("sel_pb")))
        .reduce(_ && _))
      .filter(col("sel_cum") >= col("sel_res"))
      .groupBy(g ++ Seq(col("rank"), col("sel_b"), col("bucket_rows")): _*)
      .agg(min(struct(order: _*)).as("sel_m"))
    Selection(groups, hit.select(g ++ Seq(col("rank")) ++
      (value +: keys).map(c => col("sel_m").getField(c).as(c)) ++
      Seq(col("sel_b").as("bucket"), col("bucket_rows")): _*))
  }

  /** Bucket of `v` in [mn, mx]; see the object doc for the shift. */
  private def bucketOf(v: Column, mn: Long, mx: Long): Column = {
    val s = Iterator.from(0)
      .find(s => ((BigInt(mx) >> s) - (BigInt(mn) >> s)) * Buckets <= Long.MaxValue).get
    val (c, lo, hi) = if (s == 0) (v, mn, mx) else (shiftright(v, s), mn >> s, mx >> s)
    call_function("div", (c - lit(lo)) * lit(Buckets), lit(hi - lo + 1))
  }
}
