package graft.dq

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DateType, NumericType, StringType, TimestampNTZType, TimestampType}

import graft.io.Tables

/** Declarative data-quality checks — the reference's check language
  * (ref /root/reference/operators/data_quality_operator.py:77-129) re-expressed
  * as a sealed ADT compiled to DataFrame aggregates.
  *
  * Semantics preserved from the reference:
  *  - run ALL checks (no short-circuit), failures accumulate in spec order
  *    (data_quality_operator.py:75-122);
  *  - unknown check types warn-and-skip, never fail (:116-117);
  *  - `unique_column` fails when the column is absent (:104-105).
  * Deliberately NOT preserved (SURVEY.md §7.4): the verdict is a value, not an
  * exception, and NULLs violate uniqueness iff a NULL group has count > 1
  * (GROUP BY keeps one NULL group — pinned, documented, oracle-matched).
  *
  * Scale notes: `required_columns`, `source_exists`, unknown types and
  * checks on absent or ill-typed columns need no scan (zero jobs). Every
  * other check of a suite — `min_row_count`, `null_ratio`, `value_range`,
  * `freshness` and the first `unique_column` — compiles into ONE aggregate
  * action over one pruned scan: a global `agg` of decomposable partials, or,
  * with a unique check, the same partials per key (one shuffle on that
  * column) merged by an outer aggregate that also counts duplicate keys. A
  * suite therefore costs one pass at any size, not one pass per check;
  * only `fk_integrity` (an anti-join) and any further `unique_column` (a
  * second key) run queries of their own.
  */
sealed trait Check
final case class MinRowCount(threshold: Long) extends Check
final case class RequiredColumns(columns: Seq[String]) extends Check
final case class UniqueColumn(column: String) extends Check
/** O2 — source-exists precondition (the reference raises FileNotFoundError
  * when the S3 key is absent, data_quality_operator.py:54-57; here it is a
  * first-class check producing a failed result instead of an exception).
  */
final case class SourceExists(path: String) extends Check
/** NULL ratio bound: nulls(column)/rows ≤ num/den, compared in integer
  * cross-multiplication (`nulls * den <= num * rows`) — no float boundary.
  */
final case class NullRatio(column: String, num: Long, den: Long) extends Check
/** All values inside [lo, hi] (inclusive); NULLs are not range violations
  * (they are NullRatio's job).
  */
final case class ValueRange(column: String, lo: Double, hi: Double) extends Check
/** Referential integrity: every non-null child key exists in the parent
  * column (left-anti join — one shuffle, no driver-side key set).
  */
final case class FkIntegrity(column: String, parent: DataFrame, parentColumn: String) extends Check
/** Data freshness: the newest value in a timestamp column must be at or
  * after `asOf` minus `maxAgeDays`. `asOf` is an EXPLICIT parameter — a
  * check that reads the wall clock is untestable and non-reproducible; the
  * caller passes its scheduling date (the reference pipeline's `{{ ds }}`).
  */
final case class Freshness(column: String, asOf: java.sql.Date, maxAgeDays: Int) extends Check
/** Unrecognized check_type — retained so the skip semantics are explicit. */
final case class UnknownCheck(checkType: String) extends Check

final case class CheckResult(checkName: String, passed: Boolean, detail: String)

object DataQuality {

  /** One scalar of the shared scan: its aggregate over rows, and how the
    * per-key partials merge when a unique check groups the scan. Checks
    * that need the same scalar share it through `key`.
    */
  private final case class Partial(key: String, agg: Column, merge: Column => Column)

  private def summed(key: String, agg: Column) =
    Partial(key, agg, c => coalesce(sum(c), lit(0L)))

  private val Rows = summed("rows", count(lit(1)))
  /** Duplicate-key groups: an outer aggregate of the grouped scan only. */
  private val DupKeys = "dup_keys"

  /** How a check is answered: from the schema or spec alone (no job), from
    * the shared aggregate, or by a query of its own.
    */
  private sealed trait Plan
  private final case class Static(result: Option[CheckResult]) extends Plan
  /** Reads its scalars, by key, from the shared aggregate's one row. */
  private final case class Fused(parts: Seq[Partial], verdict: Row => CheckResult) extends Plan
  private final case class Own(run: () => CheckResult) extends Plan

  /** A column reference by exact name: dots or backticks in a user's column
    * name must not be parsed as struct access.
    */
  private def column(name: String): Column = col("`" + name.replace("`", "``") + "`")

  private def plan(df: DataFrame, check: Check, groupKey: Option[String]): Plan = {
    def failed(name: String, detail: String) = Static(Some(CheckResult(name, passed = false, detail)))
    def absent(name: String, c: String) = failed(name, s"column $c absent")
    val present = df.columns.toSet
    check match {
      case MinRowCount(threshold) =>
        Fused(Seq(Rows), v => {
          val n = v.getAs[Long](Rows.key)
          CheckResult("min_row_count", n >= threshold, s"observed=$n threshold=$threshold")
        })
      case RequiredColumns(columns) =>
        val missing = columns.filterNot(present)
        Static(Some(CheckResult("required_columns", missing.isEmpty,
          if (missing.isEmpty) "all present" else s"missing=${missing.mkString(",")}")))
      case UniqueColumn(c) if !present(c) => absent("unique_column", c)
      case UniqueColumn(c) =>
        def result(dups: Long) = CheckResult("unique_column", dups == 0, s"dup_keys=$dups")
        if (groupKey.contains(c)) Fused(Nil, v => result(v.getAs[Long](DupKeys)))
        else Own(() => result(aggregate(df, Nil, Some(c)).getAs[Long](DupKeys)))
      case SourceExists(path) =>
        val exists = pathExists(df.sparkSession, path)
        Static(Some(CheckResult("source_exists", exists,
          if (exists) s"$path present" else s"$path missing")))
      case NullRatio(c, _, _) if !present(c) => absent("null_ratio", c)
      case NullRatio(c, num, den) =>
        val nonNull = summed(s"non_null:$c", count(column(c)))
        Fused(Seq(Rows, nonNull), v => {
          val n = v.getAs[Long](Rows.key)
          val nulls = n - v.getAs[Long](nonNull.key)
          CheckResult("null_ratio", nulls * den <= num * n, s"nulls=$nulls rows=$n max=$num/$den")
        })
      case ValueRange(c, _, _) if !present(c) => absent("value_range", c)
      case ValueRange(c, _, _) if !df.schema(c).dataType.isInstanceOf[NumericType] =>
        // guard the type up front: under ANSI mode a numeric comparison on a
        // string column throws at the first non-numeric value, which would
        // abort the whole no-throw check suite mid-run.
        failed("value_range", s"column $c not numeric (${df.schema(c).dataType.simpleString})")
      case ValueRange(c, lo, hi) =>
        val bad = summed(s"out_of_range:$c:$lo:$hi", count_if(column(c) < lo || column(c) > hi))
        Fused(Seq(bad), v => {
          val n = v.getAs[Long](bad.key)
          CheckResult("value_range", n == 0, s"violations=$n range=[$lo,$hi]")
        })
      case FkIntegrity(c, _, _) if !present(c) => absent("fk_integrity", c)
      case FkIntegrity(_, parent, parentColumn) if !parent.columns.contains(parentColumn) =>
        // same no-throw contract as the child side: a misspelled parent
        // column is a failed check, not an AnalysisException that aborts
        // the whole suite mid-run.
        failed("fk_integrity", s"parent column $parentColumn absent")
      case FkIntegrity(c, parent, parentColumn) =>
        Own(() => {
          val orphans = df.filter(column(c).isNotNull).select(column(c))
            .join(parent.select(parent(parentColumn).as(c)), Seq(c), "left_anti")
            .count()
          CheckResult("fk_integrity", orphans == 0, s"orphans=$orphans")
        })
      case Freshness(c, _, _) if !present(c) => absent("freshness", c)
      case Freshness(c, _, _) if !dateLike(df.schema(c).dataType) =>
        failed("freshness", s"column $c not a date or timestamp (${df.schema(c).dataType.simpleString})")
      case Freshness(c, asOf, maxAgeDays) =>
        // the newest watermark is the only scalar needed; an unparseable
        // string is no date, not a throw that aborts the fused scan
        val newest = Partial(s"newest:$c", max(try_to_date(column(c))), max(_))
        Fused(Seq(newest), v => {
          val day = v.getAs[java.sql.Date](newest.key)
          val cutoff = java.sql.Date.valueOf(asOf.toLocalDate.minusDays(maxAgeDays.toLong))
          CheckResult("freshness", day != null && !day.before(cutoff),
            s"newest=$day cutoff=$cutoff as_of=$asOf max_age_days=$maxAgeDays")
        })
      case UnknownCheck(t) =>
        // Reference behavior: warn + skip, never fail (data_quality_operator.py:116-117).
        System.err.println(s"[dq] unknown check type '$t' — skipped")
        Static(None)
    }
  }

  private def dateLike(t: DataType): Boolean = t match {
    case DateType | TimestampType | TimestampNTZType | StringType => true
    case _ => false
  }

  /** The one aggregate behind every fused check. Without a grouping key it
    * is a plain global `agg`; with one (the unique check's column) the
    * partials are computed per key and merged by an outer aggregate that
    * also counts the keys seen more than once — GROUP BY keeps one NULL
    * group, so repeated NULLs are a duplicate key.
    */
  private def aggregate(df: DataFrame, parts: Seq[Partial], groupKey: Option[String]): Row = {
    val named = parts.map(p => p.agg.as(p.key))
    groupKey match {
      case None => df.agg(named.head, named.tail: _*).head()
      case Some(k) =>
        val groups = df.groupBy(column(k).as("__dq_key"))
          .agg(count(lit(1)).as("__dq_cnt"), named: _*)
        groups.agg(count_if(col("__dq_cnt") > 1).as(DupKeys),
          parts.map(p => p.merge(column(p.key)).as(p.key)): _*).head()
    }
  }

  /** Compile the checks: every scan-needing check (`min_row_count`,
    * `null_ratio`, `value_range`, `freshness`, and the first `unique_column`
    * on a present column) becomes part of ONE aggregate action, run at most
    * once; `fk_integrity` and any further `unique_column` keep their own
    * queries. Results come back in spec order, nothing short-circuits, and
    * `withRows` adds the row count to the same aggregate.
    */
  private def run(df: DataFrame, checks: Seq[Check], withRows: Boolean): (Seq[CheckResult], Option[Long]) = {
    val groupKey = checks.collectFirst { case UniqueColumn(c) if df.columns.contains(c) => c }
    val plans = checks.map(plan(df, _, groupKey))
    val parts = ((if (withRows) Seq(Rows) else Nil) ++
      plans.collect { case Fused(ps, _) => ps }.flatten).distinctBy(_.key)
    lazy val row = aggregate(df, parts, groupKey)
    val results = plans.flatMap {
      case Static(r) => r
      case Fused(_, verdict) => Some(verdict(row))
      case Own(query) => Some(query())
    }
    (results, if (withRows) Some(row.getAs[Long](Rows.key)) else None)
  }

  /** Compile one check against a DataFrame into a (passed, detail) pair —
    * the one-check case of [[runAll]]. Aggregations execute distributed;
    * only the scalar verdict is collected.
    */
  def evaluate(df: DataFrame, check: Check): Option[CheckResult] =
    runAll(df, Seq(check)).headOption

  /** Path existence via the Hadoop FS API (works for any supported scheme —
    * the direct analogue of the reference's `check_for_key`).
    */
  def pathExists(spark: org.apache.spark.sql.SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Run all checks; failures accumulate in spec order, nothing short-circuits. */
  def runAll(df: DataFrame, checks: Seq[Check]): Seq[CheckResult] =
    run(df, checks, withRows = false)._1

  /** [[runAll]] plus the frame's row count, read from the same aggregate. */
  def runAllCounted(df: DataFrame, checks: Seq[Check]): (Seq[CheckResult], Long) = {
    val (results, rows) = run(df, checks, withRows = true)
    (results, rows.get)
  }

  /** Overall verdict — a value, not an exception (SURVEY.md §7.4 decision 6). */
  def verdict(results: Seq[CheckResult]): Boolean = results.forall(_.passed)

  // ---- Declared oracle-checkable queries ---------------------------------
  // Each compiles the check AS a DataFrame (fully distributed, single-row or
  // small result) so the driver's DuckDB hash-compare can gate it.

  /** dq_min_row_count — COUNT(*) >= 10 over events. */
  def minRowCountQuery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .agg(count(lit(1)).as("observed"))
      .select(lit("min_row_count").as("check_name"),
        ($"observed" >= 10L).as("passed"), $"observed")
  }

  val minRowCountSql: String =
    "SELECT 'min_row_count' AS check_name, count(*) >= 10 AS passed, count(*) AS observed FROM events"

  /** Required-column set used by the declared queries (one name deliberately
    * absent, mirroring the 11-column spec of
    * /root/reference/configs/sources/marketing_api_campaigns.yaml:32).
    */
  val RequiredEventColumns: Seq[String] =
    Seq("event_id", "event_type", "missing_col", "props", "ts", "user_id", "value")

  /** dq_required_columns — missing column names (schema metadata, zero scan). */
  def requiredColumnsQuery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val present = Tables.events(spark, dir).columns.toSet
    val missing = RequiredEventColumns.filterNot(present).sorted
    spark.createDataset(missing).toDF("missing_column").orderBy($"missing_column")
  }

  val requiredColumnsSql: String =
    """SELECT column_name AS missing_column
      |FROM (VALUES ('event_id'),('event_type'),('missing_col'),('props'),('ts'),('user_id'),('value')) req(column_name)
      |EXCEPT
      |SELECT column_name FROM (DESCRIBE SELECT * FROM events)
      |ORDER BY missing_column""".stripMargin

  /** dq_unique_column — duplicate-key groups on orders.o_orderkey. */
  def uniqueColumnQuery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, dir)
      .groupBy($"o_orderkey").agg(count(lit(1)).as("cnt"))
      .filter($"cnt" > 1)
      .agg(count(lit(1)).as("dup_keys"))
      .select(lit("unique_column").as("check_name"),
        ($"dup_keys" === 0L).as("passed"), $"dup_keys")
  }

  val uniqueColumnSql: String =
    """SELECT 'unique_column' AS check_name, count(*) = 0 AS passed, count(*) AS dup_keys
      |FROM (SELECT o_orderkey FROM orders GROUP BY o_orderkey HAVING count(*) > 1) d""".stripMargin

  /** dq_verdict — all three checks folded to per-check rows + overall verdict,
    * the `Dataset[CheckResult] → Verdict` shape (reference O8, made a value).
    */
  def verdictQuery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val presentOk = Seq("event_id", "event_type", "props", "ts", "user_id", "value")
      .forall(Tables.events(spark, dir).columns.toSet)
    val p1 = Tables.events(spark, dir)
      .agg((count(lit(1)) >= 10L).as("p1"))
    val p3 = Tables.orders(spark, dir)
      .groupBy($"o_orderkey").agg(count(lit(1)).as("cnt")).filter($"cnt" > 1)
      .agg((count(lit(1)) === 0L).as("p3"))
    p1.crossJoin(p3)
      .withColumn("p2", lit(presentOk))
      .select(explode(array(
        struct(lit("min_row_count").as("check_name"), $"p1".as("passed")),
        struct(lit("required_columns").as("check_name"), $"p2".as("passed")),
        struct(lit("unique_column").as("check_name"), $"p3".as("passed")),
        struct(lit("verdict").as("check_name"), ($"p1" && $"p2" && $"p3").as("passed"))
      )).as("r"))
      .select($"r.check_name".as("check_name"), $"r.passed".as("passed"))
      .orderBy($"check_name")
  }

  val verdictSql: String =
    """WITH p AS (
      | SELECT (SELECT count(*) >= 10 FROM events) AS p1,
      |        TRUE AS p2,
      |        (SELECT count(*) = 0 FROM (SELECT o_orderkey FROM orders GROUP BY o_orderkey HAVING count(*) > 1) d) AS p3)
      |SELECT 'min_row_count' AS check_name, p1 AS passed FROM p
      |UNION ALL SELECT 'required_columns', p2 FROM p
      |UNION ALL SELECT 'unique_column', p3 FROM p
      |UNION ALL SELECT 'verdict', p1 AND p2 AND p3 FROM p
      |ORDER BY check_name""".stripMargin

  /** dq_null_ratio — NULL fraction of events.value ≤ 1/100, integer
    * cross-multiplied (one pruned-scan aggregate).
    */
  def nullRatioQuery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .agg(count(lit(1)).as("n_rows"), (count(lit(1)) - count($"value")).as("n_nulls"))
      .select(lit("null_ratio").as("check_name"),
        ($"n_nulls" * 100L <= $"n_rows").as("passed"), $"n_nulls", $"n_rows")
  }

  val nullRatioSql: String =
    """SELECT 'null_ratio' AS check_name,
      | (count(*) - count(value)) * 100 <= count(*) AS passed,
      | count(*) - count(value) AS n_nulls, count(*) AS n_rows
      |FROM events""".stripMargin

  /** dq_value_range — lineitem.l_quantity inside [1, 50] (pushable scan
    * filter + count).
    */
  def valueRangeQuery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .filter($"l_quantity" < 1.0 || $"l_quantity" > 50.0)
      .agg(count(lit(1)).as("n_violations"))
      .select(lit("value_range").as("check_name"),
        ($"n_violations" === 0L).as("passed"), $"n_violations")
  }

  val valueRangeSql: String =
    """SELECT 'value_range' AS check_name, count(*) = 0 AS passed, count(*) AS n_violations
      |FROM lineitem WHERE l_quantity < 1.0 OR l_quantity > 50.0""".stripMargin

  /** dq_fk_integrity — orders.o_custkey ⊆ customer.c_custkey via left-anti
    * join (one shuffle; no driver-side key set, so the check scales with the
    * parent table).
    */
  def fkIntegrityQuery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, dir)
      .filter($"o_custkey".isNotNull).select($"o_custkey")
      .join(Tables.customer(spark, dir).select($"c_custkey".as("o_custkey")),
        Seq("o_custkey"), "left_anti")
      .agg(count(lit(1)).as("n_orphans"))
      .select(lit("fk_integrity").as("check_name"),
        ($"n_orphans" === 0L).as("passed"), $"n_orphans")
  }

  val fkIntegritySql: String =
    """SELECT 'fk_integrity' AS check_name, count(*) = 0 AS passed, count(*) AS n_orphans
      |FROM orders o
      |WHERE o.o_custkey IS NOT NULL
      |  AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)""".stripMargin

  /** dq_freshness — events must have data within 7 days of the (pinned)
    * scheduling date 2024-02-05. One pruned `max(ts)` scan; the reference
    * date is explicit so the check is reproducible (a wall-clock check
    * can never be oracle-gated — or trusted in a backfill).
    */
  def freshnessQuery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .agg(max(to_date($"ts")).cast("string").as("newest_day"))
      .select(lit("freshness").as("check_name"),
        ($"newest_day" >= "2024-01-29").as("passed"), $"newest_day")
  }

  val freshnessSql: String =
    """SELECT 'freshness' AS check_name,
      | CAST(max(CAST(ts AS DATE)) AS VARCHAR) >= '2024-01-29' AS passed,
      | CAST(max(CAST(ts AS DATE)) AS VARCHAR) AS newest_day
      |FROM events""".stripMargin

  /** Expected lineitem contract for [[schemaDriftQuery]] — deliberately
    * one column short (no `l_tax`, so the landed file reports it
    * `unexpected`) and one column over (`l_comment`, which the fixture
    * never carries, reporting `missing`), so all three drift statuses are
    * exercised deterministically. Types are DuckDB names — the neutral
    * vocabulary both engines can emit.
    */
  val ExpectedLineitemSchema: Seq[(String, String)] = Seq(
    "l_orderkey" -> "BIGINT", "l_partkey" -> "BIGINT",
    "l_suppkey" -> "BIGINT", "l_linenumber" -> "INTEGER",
    "l_quantity" -> "DOUBLE", "l_extendedprice" -> "DOUBLE",
    "l_discount" -> "DOUBLE",
    // contract drift planted on purpose (see scaladoc):
    "l_returnflag" -> "VARCHAR", "l_linestatus" -> "VARCHAR",
    "l_shipdate" -> "TIMESTAMP", "l_comment" -> "VARCHAR")

  /** Spark type → DuckDB type-name vocabulary for the drift compare. */
  private val SparkToDuck: Map[String, String] = Map(
    "LongType" -> "BIGINT", "IntegerType" -> "INTEGER",
    "DoubleType" -> "DOUBLE", "FloatType" -> "FLOAT",
    "StringType" -> "VARCHAR", "TimestampType" -> "TIMESTAMP",
    // parquet files with no UTC-adjustment flag read as NTZ in Spark 4 and
    // as plain TIMESTAMP in DuckDB — same stored instants, one vocabulary
    "TimestampNTZType" -> "TIMESTAMP",
    "BooleanType" -> "BOOLEAN", "DateType" -> "DATE",
    "BinaryType" -> "BLOB")

  /** dq_schema_drift — the check a scheduled pipeline runs BEFORE trusting
    * a landed file: the actual parquet schema against the pinned contract,
    * one row per column with status `ok` / `type_changed` / `missing`
    * (contracted but absent) / `unexpected` (landed but uncontracted).
    * Spark reads the footer on the driver (a metadata op — no job, no data
    * scan at any size);
    * the oracle derives the same actual schema via DuckDB's DESCRIBE, both
    * normalized to DuckDB's type vocabulary. Pure metadata → identical at
    * every SF, and O(columns) whether the file is 1 MB or 100 TB.
    */
  def schemaDriftQuery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val actual = Tables.lineitem(spark, dir).schema.fields
      .map(f => (f.name, SparkToDuck.getOrElse(f.dataType.toString,
        f.dataType.sql))).toSeq
    val a = actual.toDF("column_name", "actual_type")
    val e = ExpectedLineitemSchema.toDF("column_name", "expected_type")
    e.join(a, Seq("column_name"), "full_outer")
      .select($"column_name",
        coalesce($"expected_type", lit("-")).as("expected_type"),
        coalesce($"actual_type", lit("-")).as("actual_type"),
        when($"expected_type".isNull, "unexpected")
          .when($"actual_type".isNull, "missing")
          .when($"expected_type" === $"actual_type", "ok")
          .otherwise("type_changed").as("status"))
      .orderBy($"column_name")
  }

  val schemaDriftSql: String = {
    val expected = ExpectedLineitemSchema
      .map { case (c, t) => s"('$c', '$t')" }.mkString(", ")
    s"""WITH actual AS (
       | SELECT column_name, column_type AS actual_type
       | FROM (DESCRIBE SELECT * FROM lineitem)),
       |expected AS (
       | SELECT * FROM (VALUES $expected) AS t(column_name, expected_type))
       |SELECT coalesce(e.column_name, a.column_name) AS column_name,
       | coalesce(e.expected_type, '-') AS expected_type,
       | coalesce(a.actual_type, '-') AS actual_type,
       | CASE WHEN e.expected_type IS NULL THEN 'unexpected'
       |      WHEN a.actual_type IS NULL THEN 'missing'
       |      WHEN e.expected_type = a.actual_type THEN 'ok'
       |      ELSE 'type_changed' END AS status
       |FROM expected e FULL OUTER JOIN actual a
       | ON a.column_name = e.column_name
       |ORDER BY column_name""".stripMargin
  }

  /** dq_erasure_scope — the right-to-be-forgotten impact audit: given a
    * deletion cohort (here a deterministic 1/256 md5 slice of customers —
    * the fixture stand-in for an uploaded deletion list), count every
    * surviving reference the purge must reach: direct orders rows, and
    * lineitem rows transitively through those orders. Both legs are
    * semi-join counts against the (broadcastable) cohort — the shape a
    * compliance sweep takes at 100 TB, where the answer must come from
    * join pruning, not a table scan per customer. Run BEFORE a purge to
    * size it and AFTER to prove zeros.
    */
  def erasureScopeQuery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val forgotten = Tables.customer(spark, dir)
      .filter(substring(md5($"c_custkey".cast("string")), 1, 2) === "00")
      .select($"c_custkey")
    val ordersHit = Tables.orders(spark, dir)
      .join(broadcast(forgotten),
        $"o_custkey" === forgotten("c_custkey"), "left_semi")
    val ordersAgg = ordersHit
      .agg(count(lit(1)).as("orders_rows"),
        countDistinct($"o_custkey").as("custs_with_orders"))
    val lineitemRows = Tables.lineitem(spark, dir)
      .join(ordersHit.select($"o_orderkey"),
        $"l_orderkey" === $"o_orderkey", "left_semi")
      .agg(count(lit(1)).as("lineitem_rows"))
    forgotten.agg(count(lit(1)).as("n_forgotten"))
      .crossJoin(ordersAgg)
      .crossJoin(lineitemRows)
      .select($"n_forgotten", $"custs_with_orders",
        $"orders_rows", $"lineitem_rows")
  }

  val erasureScopeSql: String =
    """WITH forgotten AS (
      | SELECT c_custkey FROM customer
      | WHERE substr(md5(CAST(c_custkey AS VARCHAR)), 1, 2) = '00'),
      |oh AS (
      | SELECT o_orderkey, o_custkey FROM orders
      | WHERE o_custkey IN (SELECT c_custkey FROM forgotten)),
      |oa AS (
      | SELECT count(*) AS orders_rows,
      |  count(DISTINCT o_custkey) AS custs_with_orders FROM oh),
      |la AS (
      | SELECT count(*) AS lineitem_rows FROM lineitem
      | WHERE l_orderkey IN (SELECT o_orderkey FROM oh)),
      |nf AS (SELECT count(*) AS n_forgotten FROM forgotten)
      |SELECT nf.n_forgotten, oa.custs_with_orders, oa.orders_rows,
      | la.lineitem_rows
      |FROM nf, oa, la""".stripMargin

  /** dq_table_checksum — order-independent per-partition content checksums,
    * the replication/migration validator (pt-table-checksum's trick, made
    * cross-engine): every row folds to a 60-bit fingerprint from md5 over a
    * CANONICAL integer/string rendering — doubles go through exact cents,
    * timestamps through epoch days, because engine-native float/timestamp
    * formatting is exactly what a cross-system checksum must never depend
    * on — and each order-date day XORs its fingerprints together. XOR is
    * commutative, associative, self-inverse and overflow-free: the fold is
    * one partial+final aggregate in any row order at any parallelism, and
    * two sides of a replication compare day-grain checksums (timespan-sized
    * metadata) instead of shipping rows. A single flipped row flips its
    * day's checksum; the companion row count catches compensating
    * insert+delete pairs.
    */
  /** XOR checksum fold over any (day, fp) fingerprint frame — the
    * frame-parametric core (PropertySpec drives it on generated rows to
    * pin order/partition invariance and single-flip sensitivity).
    */
  def checksumOver(fps: DataFrame): DataFrame = {
    val spark = fps.sparkSession
    import spark.implicits._
    fps.groupBy($"day")
      .agg(count(lit(1)).as("n_rows"), expr("bit_xor(fp)").as("checksum"))
      .orderBy($"day")
  }

  def tableChecksumQuery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    checksumOver(Tables.orders(spark, dir)
      .select(
        datediff(to_date($"o_orderdate"), lit("1970-01-01").cast("date"))
          .cast("long").as("day"),
        conv(substring(md5(concat_ws("|",
          $"o_orderkey".cast("string"),
          $"o_custkey".cast("string"),
          $"o_orderstatus",
          round($"o_totalprice" * 100).cast("long").cast("string"),
          $"o_orderpriority")), 1, 15), 16, 10).cast("long").as("fp")))
  }

  val tableChecksumSql: String =
    """SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS day,
      | count(*) AS n_rows,
      | CAST(bit_xor(CAST('0x' || substr(md5(
      |   CAST(o_orderkey AS VARCHAR) || '|' ||
      |   CAST(o_custkey AS VARCHAR) || '|' ||
      |   o_orderstatus || '|' ||
      |   CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR) || '|' ||
      |   o_orderpriority), 1, 15) AS BIGINT)) AS BIGINT) AS checksum
      |FROM orders
      |GROUP BY 1
      |ORDER BY day""".stripMargin

  /** dq_fd_violation — functional-dependency audit, the profiling check
    * behind "can this column be a dimension key": for each declared FD
    * candidate A → B, the count of A-values mapping to more than one
    * distinct B (violations), the worst fan-out, and the violation ppm.
    * Two candidates with opposite verdicts keep the check non-vacuous:
    * `nation.n_name → n_regionkey` HOLDS (0 ppm — safe to normalize);
    * `lineitem.l_partkey → l_suppkey` is massively violated (a part ships
    * from many suppliers — denormalizing on it would fan out).
    *
    * Scale shape per candidate: one (A, B)-distinct aggregate then an
    * A-grain count — two map-side-combining shuffles on the key being
    * audited, constant-size output. No window, no join.
    */
  def fdViolationQuery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def audit(df: DataFrame, fd: String, lhs: String, rhs: String): DataFrame =
      df.groupBy(col(lhs)).agg(countDistinct(col(rhs)).as("nd"))
        .agg(
          lit(fd).as("fd"),
          count(lit(1)).as("n_lhs"),
          sum(when($"nd" > 1, 1L).otherwise(0L)).as("n_violating"),
          max($"nd").as("max_fanout"))
        .select($"fd", $"n_lhs", $"n_violating", $"max_fanout",
          expr("n_violating * 1000000 div n_lhs").as("violation_ppm"))
    audit(Tables.lineitem(spark, dir), "lineitem.l_partkey->l_suppkey",
      "l_partkey", "l_suppkey")
      .union(audit(Tables.nation(spark, dir), "nation.n_name->n_regionkey",
        "n_name", "n_regionkey"))
      .orderBy($"fd")
  }

  val fdViolationSql: String =
    """WITH li AS (
      | SELECT l_partkey AS lhs, count(DISTINCT l_suppkey) AS nd
      | FROM lineitem GROUP BY 1),
      |na AS (
      | SELECT n_name AS lhs, count(DISTINCT n_regionkey) AS nd
      | FROM nation GROUP BY 1),
      |audits AS (
      | SELECT 'lineitem.l_partkey->l_suppkey' AS fd,
      |  CAST(count(*) AS BIGINT) AS n_lhs,
      |  CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating,
      |  CAST(max(nd) AS BIGINT) AS max_fanout
      | FROM li
      | UNION ALL
      | SELECT 'nation.n_name->n_regionkey',
      |  CAST(count(*) AS BIGINT), CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END)
      |   AS BIGINT), CAST(max(nd) AS BIGINT)
      | FROM na)
      |SELECT fd, n_lhs, n_violating, max_fanout,
      | n_violating * 1000000 // n_lhs AS violation_ppm
      |FROM audits ORDER BY fd""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dq_erasure_scope" -> (erasureScopeQuery _),
    "dq_table_checksum" -> (tableChecksumQuery _),
    "dq_fd_violation" -> (fdViolationQuery _),
    "dq_schema_drift" -> (schemaDriftQuery _),
    "dq_freshness" -> (freshnessQuery _),
    "dq_min_row_count" -> (minRowCountQuery _),
    "dq_required_columns" -> (requiredColumnsQuery _),
    "dq_unique_column" -> (uniqueColumnQuery _),
    "dq_null_ratio" -> (nullRatioQuery _),
    "dq_value_range" -> (valueRangeQuery _),
    "dq_fk_integrity" -> (fkIntegrityQuery _),
    "dq_verdict" -> (verdictQuery _))

  val oracles: Map[String, String] = Map(
    "dq_erasure_scope" -> erasureScopeSql,
    "dq_table_checksum" -> tableChecksumSql,
    "dq_fd_violation" -> fdViolationSql,
    "dq_schema_drift" -> schemaDriftSql,
    "dq_freshness" -> freshnessSql,
    "dq_min_row_count" -> minRowCountSql,
    "dq_required_columns" -> requiredColumnsSql,
    "dq_unique_column" -> uniqueColumnSql,
    "dq_null_ratio" -> nullRatioSql,
    "dq_value_range" -> valueRangeSql,
    "dq_fk_integrity" -> fkIntegritySql,
    "dq_verdict" -> verdictSql)
}
