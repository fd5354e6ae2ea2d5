package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.Declared
import graft.io.Tables

/** As-of join — an operator Spark lacks natively (SURVEY.md §2.2 joins row:
  * "range/as-of joins expressible as non-equi conditions (watch performance)").
  *
  * A naive non-equi range join explodes to O(|L|·|R|) per key before picking
  * the max; this implementation is the scalable union+window form:
  * tag both sides, union, ONE shuffle on the key, sort by (ts, tag), and a
  * running `last(payload, ignoreNulls)` carries the most recent right row
  * forward to each left row. Cost: one exchange + per-partition sort —
  * exactly the shape that survives 100 TB (no join amplification, AQE skew
  * handling applies to the single key shuffle).
  */
object AsOf {

  /** For each left row, attach the most recent right payload with
    * `right.tsCol <= left.tsCol` on the same key (<= semantics: a right row
    * at the exact left timestamp matches). Result: all left columns plus
    * right payload columns renamed `asof_<name>` (null when no match).
    *
    * `forward = true` flips the direction: the EARLIEST right row with
    * `right.tsCol >= left.tsCol` (>= semantics) — the "next event"
    * lookup (time-to-conversion, next quote). Same single-shuffle
    * union+window plan; only the window's sort order changes (descending,
    * so the running carry holds the smallest at-or-after right row).
    */
  def asofJoin(
      left: DataFrame,
      right: DataFrame,
      key: String,
      tsCol: String,
      payload: Seq[String],
      forward: Boolean = false): DataFrame = {
    val payloadStruct: StructType = right.select(payload.map(col): _*).schema
    val leftStruct: StructType = StructType(left.schema.fields)

    // A null right timestamp can never satisfy `right.ts <= left.ts` (SQL
    // NULL comparison), but unfiltered it would sort FIRST in the window
    // (asc = nulls first) and be carried forward as a spurious match —
    // drop such rows up front to keep ASOF semantics. Same for a NULL key:
    // the join-equality reading (and [[graft.plans.AsOfJoinPlan.asofNative]],
    // which shares this contract) says a NULL key equals no left key, but
    // Window.partitionBy groups NULLs together — unfiltered, a NULL-key
    // right row would match NULL-key left rows inside the NULL partition
    // and the two routes would diverge on NULL-key data.
    val taggedRight = right
      .filter(col(tsCol).isNotNull && col(key).isNotNull).select(
      col(key).as("__k"), col(tsCol).as("__ts"), lit(0).as("__tag"),
      lit(null).cast(leftStruct).as("__l"),
      struct(payload.map(col): _*).as("__r"))
    val taggedLeft = left.select(
      col(key).as("__k"), col(tsCol).as("__ts"), lit(1).as("__tag"),
      struct(left.columns.map(col): _*).as("__l"),
      lit(null).cast(payloadStruct).as("__r"))

    // right(tag 0) sorts before left(tag 1) at equal ts => <=/>= inclusive
    // match semantics in either direction
    val tsOrder = if (forward) col("__ts").desc else col("__ts").asc
    val w = Window.partitionBy(col("__k"))
      .orderBy(tsOrder, col("__tag").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    val matched = taggedRight.union(taggedLeft)
      .withColumn("__asof", last(col("__r"), ignoreNulls = true).over(w))
      .filter(col("__tag") === 1)

    val leftCols = left.columns.map(c => col(s"__l.$c").as(c))
    val asofCols = payload.map(c => col(s"__asof.$c").as(s"asof_$c"))
    matched.select(leftCols ++ asofCols: _*)
  }

  /** q_asof_join — for every purchase event, the user's most recent view at
    * or before the purchase time (the canonical attribution query).
    */
  def viewBeforePurchase(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.events(spark, dir)
    val views = e.filter($"event_type" === "view").select($"user_id", $"ts")
    val purchases = e.filter($"event_type" === "purchase")
      .select($"event_id", $"user_id", $"ts")
    asofJoin(purchases, views, key = "user_id", tsCol = "ts", payload = Seq("ts"))
      .select($"event_id".as("purchase_id"), $"user_id", $"asof_ts".as("last_view_ts"))
      .orderBy($"purchase_id")
  }

  val viewBeforePurchaseSql: String =
    """WITH v AS (SELECT user_id, ts FROM events WHERE event_type = 'view'),
      |p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase')
      |SELECT p.event_id AS purchase_id, p.user_id, v.ts AS last_view_ts
      |FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND v.ts <= p.ts
      |ORDER BY purchase_id""".stripMargin

  /** q_asof_native — the SAME canonical attribution query as
    * [[viewBeforePurchase]], answered by the library's custom PHYSICAL
    * operator ([[graft.plans.AsOfJoinExec]]: merge-scan over
    * co-partitioned sorted children, O(1) probe state) instead of the
    * union+window composition. Sharing `q_asof_join`'s DuckDB `ASOF JOIN`
    * oracle makes the gate a three-way semantics pin: native engine ≡
    * composed Spark ≡ custom exec, row for row and hash for hash.
    */
  def viewBeforePurchaseNative(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.events(spark, dir)
    val views = e.filter($"event_type" === "view").select($"user_id", $"ts")
    val purchases = e.filter($"event_type" === "purchase")
      .select($"event_id", $"user_id", $"ts")
    graft.plans.AsOfJoinPlan.asofNative(purchases, views,
      key = "user_id", tsCol = "ts", payload = Seq("ts"))
      .select($"event_id".as("purchase_id"), $"user_id",
        $"asof_ts".as("last_view_ts"))
      .orderBy($"purchase_id")
  }

  val ToleranceMicros: Long = 24L * 3600 * 1000000

  /** q_asof_tolerance — the bounded-staleness as-of (pandas `merge_asof`'s
    * `tolerance=`): the most recent view counts only within 24 h of the
    * purchase; staler matches null out. Composes over [[asofJoin]] — the
    * tolerance is a post-window predicate on the matched timestamp, so the
    * plan cost is identical to the unbounded as-of (one shuffle, no join
    * amplification).
    */
  def viewWithinDay(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.events(spark, dir)
    val views = e.filter($"event_type" === "view").select($"user_id", $"ts")
    val purchases = e.filter($"event_type" === "purchase")
      .select($"event_id", $"user_id", $"ts")
    asofJoin(purchases, views, key = "user_id", tsCol = "ts", payload = Seq("ts"))
      .select(
        $"event_id".as("purchase_id"), $"user_id",
        when(unix_micros($"ts") - unix_micros($"asof_ts") <= ToleranceMicros, $"asof_ts")
          .as("last_view_ts"))
      .orderBy($"purchase_id")
  }

  val viewWithinDaySql: String =
    """WITH v AS (SELECT user_id, ts FROM events WHERE event_type = 'view'),
      |p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase')
      |SELECT p.event_id AS purchase_id, p.user_id,
      | CASE WHEN epoch_us(p.ts) - epoch_us(v.ts) <= 86400000000 THEN v.ts END AS last_view_ts
      |FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND v.ts <= p.ts
      |ORDER BY purchase_id""".stripMargin

  /** q_asof_forward — time-to-conversion: for every view, the same user's
    * NEXT purchase at or after the view ([[asofJoin]] with
    * `forward = true`) plus the lag in seconds (exact integer µs
    * difference, one division). The oracle states the correlated-min form
    * — algorithm-independent, so the gate proves the flipped window
    * direction implements ">= nearest" exactly.
    */
  def nextPurchaseAfterView(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.events(spark, dir)
    val views = e.filter($"event_type" === "view")
      .select($"event_id", $"user_id", $"ts")
    val purchases = e.filter($"event_type" === "purchase").select($"user_id", $"ts")
    asofJoin(views, purchases, key = "user_id", tsCol = "ts",
        payload = Seq("ts"), forward = true)
      .select($"event_id".as("view_id"), $"user_id",
        $"asof_ts".as("next_purchase_ts"),
        // DIV, not `/`: Column./ on longs is double division in Spark
        expr("(unix_micros(asof_ts) - unix_micros(ts)) DIV 1000000")
          .as("lag_seconds"))
      .orderBy($"view_id")
  }

  val nextPurchaseAfterViewSql: String =
    """WITH v AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'),
      |p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase')
      |SELECT v.event_id AS view_id, v.user_id,
      | (SELECT min(p.ts) FROM p
      |  WHERE p.user_id = v.user_id AND p.ts >= v.ts) AS next_purchase_ts,
      | CAST(epoch_us((SELECT min(p.ts) FROM p
      |   WHERE p.user_id = v.user_id AND p.ts >= v.ts) - v.ts) // 1000000
      |  AS BIGINT) AS lag_seconds
      |FROM v
      |ORDER BY view_id""".stripMargin

  /** q_asof_nearest — pandas `merge_asof(direction='nearest')`: for every
    * purchase, the temporally CLOSEST view either side, ties to the earlier
    * (backward) match. Composes the two directional as-ofs — the backward
    * pass's output (left columns + carry) feeds the forward pass as its
    * left side unchanged, so the cost is exactly two single-shuffle window
    * passes on the same key and the pick is a null-safe scalar CASE. The
    * oracle states both correlated extrema independently — the gate proves
    * the two-pass composition against the declarative nearest definition.
    */
  def nearestView(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.events(spark, dir)
    val views = e.filter($"event_type" === "view").select($"user_id", $"ts")
    val purchases = e.filter($"event_type" === "purchase")
      .select($"event_id", $"user_id", $"ts")
    val back = asofJoin(purchases, views, key = "user_id", tsCol = "ts",
      payload = Seq("ts")).withColumnRenamed("asof_ts", "back_ts")
    val both = asofJoin(back, views, key = "user_id", tsCol = "ts",
      payload = Seq("ts"), forward = true)
      .withColumnRenamed("asof_ts", "fwd_ts")
    both
      .withColumn("nearest_view_ts",
        when($"back_ts".isNull, $"fwd_ts")
          .when($"fwd_ts".isNull, $"back_ts")
          .when(unix_micros($"ts") - unix_micros($"back_ts") <=
            unix_micros($"fwd_ts") - unix_micros($"ts"), $"back_ts")
          .otherwise($"fwd_ts"))
      .withColumn("dist_seconds",
        expr("abs(unix_micros(ts) - unix_micros(nearest_view_ts)) DIV 1000000"))
      .select($"event_id".as("purchase_id"), $"user_id",
        $"nearest_view_ts", $"dist_seconds")
      .orderBy($"purchase_id")
  }

  val nearestViewSql: String =
    """WITH v AS (SELECT user_id, ts FROM events WHERE event_type = 'view'),
      |p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
      |d AS (
      | SELECT p.event_id, p.user_id, p.ts,
      |  (SELECT max(v.ts) FROM v
      |   WHERE v.user_id = p.user_id AND v.ts <= p.ts) AS back_ts,
      |  (SELECT min(v.ts) FROM v
      |   WHERE v.user_id = p.user_id AND v.ts >= p.ts) AS fwd_ts
      | FROM p),
      |n AS (
      | SELECT event_id, user_id, ts,
      |  CASE WHEN back_ts IS NULL THEN fwd_ts
      |       WHEN fwd_ts IS NULL THEN back_ts
      |       WHEN epoch_us(ts) - epoch_us(back_ts)
      |            <= epoch_us(fwd_ts) - epoch_us(ts) THEN back_ts
      |       ELSE fwd_ts END AS nearest_view_ts
      | FROM d)
      |SELECT event_id AS purchase_id, user_id, nearest_view_ts,
      | CAST(abs(epoch_us(ts) - epoch_us(nearest_view_ts)) // 1000000 AS BIGINT)
      |  AS dist_seconds
      |FROM n
      |ORDER BY purchase_id""".stripMargin

  val declared: Seq[Declared] = Seq(
    Declared("q_asof_join", viewBeforePurchase, Some(viewBeforePurchaseSql)),
    Declared("q_asof_native", viewBeforePurchaseNative, Some(viewBeforePurchaseSql)),
    Declared("q_asof_tolerance", viewWithinDay, Some(viewWithinDaySql)),
    Declared("q_asof_forward", nextPurchaseAfterView, Some(nextPurchaseAfterViewSql)),
    Declared("q_asof_nearest", nearestView, Some(nearestViewSql)))
}
