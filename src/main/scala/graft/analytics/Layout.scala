package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Declared
import graft.io.Tables

/** Data-layout planning: Z-order clustering vs linear (date) clustering,
  * measured by the file-skipping each buys a 2-D box query.
  *
  * At 100 TB the scan you avoid is worth more than the scan you speed up:
  * writers cluster rows into files, readers prune files whose column
  * min/max stats miss the predicate (parquet row groups, Iceberg/Delta
  * file stats — same mechanism). A linear sort prunes ONE dimension
  * perfectly and the other not at all; a Z-order (Morton) curve
  * interleaves the bits of both keys so every file covers a small
  * rectangle, and a box predicate on EITHER or BOTH dimensions skips most
  * files. This op makes that trade measurable: it lays the orders fact
  * out both ways (same file count), simulates stats-based pruning for a
  * fixed customer × date box, and reports scan amplification per layout.
  *
  * Everything is integer arithmetic on both engines: keys are min/max
  * normalized to 16 bits by integer division, the Morton value is a
  * 32-term shift/mask sum, file ids are bit prefixes (`z >> 24` — 256
  * even Z-ranges; `v >> 8` — 256 even date-ranges), and the verdict
  * columns are counts and a permille ratio. The whole query is one scan +
  * one (layout, file) aggregate: layout assignment is a pure projection —
  * the exploded two-layout frame shuffles 2 rows per order, grouped
  * straight down to ≤ 2·256 file-stat rows, then 2 verdict rows.
  * (A real writer would SORT by the file key to actually emit clustered
  * files — a write-once cost the declared query deliberately excludes:
  * pruning effectiveness is a property of the key geometry, and THAT is
  * what needs choosing before any 100 TB rewrite is paid for.)
  */
object Layout {

  /** 2^FileBits even key-ranges per layout. */
  val FileBits = 8
  /** The probe box: customers [CustLo, CustHi] × order days
    * [DateLo, DateHi) — non-vacuous at every fixture SF (57/83/81 rows).
    */
  val CustLo = 20L
  val CustHi = 120L
  val DateLo = "1997-03-01"
  val DateHi = "1997-09-01"
  /** Epoch-day bounds, computed once and interpolated into BOTH engines'
    * predicates so they cannot desynchronize.
    */
  val DayLo: Long = java.time.LocalDate.parse(DateLo).toEpochDay
  val DayHi: Long = java.time.LocalDate.parse(DateHi).toEpochDay

  /** 16-bit × 16-bit Morton interleave: u's bit i lands at 2i, v's at
    * 2i+1. 32 shift/mask terms summed — plain long arithmetic, codegen
    * folds it into straight-line bit ops.
    */
  private def morton(u: Column, v: Column): Column =
    (0 until 16).map { i =>
      shiftleft(shiftright(u, i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(v, i).bitwiseAND(lit(1L)), 2 * i + 1)
    }.reduce(_ + _)

  /** The same 32-term interleave as a SQL expression over `u_n`/`v_n`. */
  private def mortonSql(u: String, v: String): String =
    (0 until 16).map { i =>
      s"((($u >> $i) & 1) << ${2 * i}) + ((($v >> $i) & 1) << ${2 * i + 1})"
    }.mkString(" + ")

  /** The ONE definition of the clustering key space: (customer, epoch-day)
    * per order. Both the layout assignment and the true-matching-rows
    * baseline derive from here — duplicating it would let the pruning
    * verdict silently score file stats against a different key space.
    */
  private def uvBase(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, dir).select(
      $"o_custkey".cast("long").as("u"),
      datediff(to_date($"o_orderdate"), lit("1970-01-01").cast("date"))
        .cast("long").as("v"))
  }

  /** The shared layout assignment: each order row under BOTH layouts with
    * its file id — the frame the declared plan query scores and the
    * executing rewrite [[zorderExecute]] writes.
    */
  private def taggedLayouts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = uvBase(spark, dir)
    val ranges = base.agg(
      min($"u").as("ulo"), max($"u").as("uhi"),
      min($"v").as("vlo"), max($"v").as("vhi"))
    val norm = base.crossJoin(broadcast(ranges))
      .withColumn("u_n", expr("((u - ulo) * 65535) div greatest(uhi - ulo, 1)"))
      .withColumn("v_n", expr("((v - vlo) * 65535) div greatest(vhi - vlo, 1)"))
    norm
      .withColumn("z", morton($"u_n", $"v_n"))
      .select($"u", $"v", explode(array(
        struct(lit("zorder").as("layout"),
          shiftright($"z", 32 - FileBits).as("file")),
        struct(lit("linear").as("layout"),
          shiftright($"v_n", 16 - FileBits).as("file")))).as("lf"))
      .select($"lf.layout".as("layout"), $"lf.file".as("file"), $"u", $"v")
  }

  /** x_zorder_prune — per layout: nonempty files, files a stats-based
    * pruner must read for the box, rows inside those files, true matching
    * rows, and scan amplification (rows_scanned per 1000 matching rows).
    */
  def zorderPrune(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = uvBase(spark, dir)
    val fileStats = taggedLayouts(spark, dir)
      .groupBy($"layout", $"file")
      .agg(count(lit(1)).as("n"),
        min($"u").as("u_min"), max($"u").as("u_max"),
        min($"v").as("v_min"), max($"v").as("v_max"))
      .withColumn("hit",
        !($"u_max" < CustLo || $"u_min" > CustHi ||
          $"v_max" < DayLo || $"v_min" >= DayHi))
    val matching = base
      .filter($"u".between(CustLo, CustHi) && $"v" >= DayLo && $"v" < DayHi)
      .agg(count(lit(1)).as("rows_matching"))
    fileStats.groupBy($"layout")
      .agg(count(lit(1)).as("files_nonempty"),
        sum(when($"hit", 1L).otherwise(0L)).as("files_hit"),
        sum(when($"hit", $"n").otherwise(0L)).as("rows_scanned"))
      .crossJoin(broadcast(matching))
      .select($"layout", $"files_nonempty", $"files_hit", $"rows_scanned",
        $"rows_matching",
        expr("(rows_scanned * 1000) div rows_matching")
          .as("amp_permille"))
      .orderBy($"layout")
  }

  /** EXECUTES both layouts [[zorderPrune]] only scores: writes the orders
    * projection to parquet clustered exactly as the plan's file ids say —
    * one shuffle on (layout, file) and a partitioned write, one data file
    * per (layout, file) directory. Because the executed grouping IS the
    * plan's grouping, the real files' column min/max footprints must
    * reproduce the declared query's `files_hit` / `rows_scanned` numbers
    * exactly — ZorderRoundTripSpec recomputes the pruning verdict from
    * the written files and gates it against [[zorderPrune]]'s own output.
    * At 100 TB this is the writer half of layout maintenance: the scored
    * plan picks the key geometry; this rewrite pays for it once.
    */
  def zorderExecute(spark: SparkSession, dir: String, outPath: String): Unit = {
    import spark.implicits._
    taggedLayouts(spark, dir)
      .repartition($"layout", $"file")
      .write.mode("overwrite").partitionBy("layout", "file").parquet(outPath)
  }

  val zorderPruneSql: String =
    s"""WITH base AS (
       | SELECT CAST(o_custkey AS BIGINT) AS u,
       |  CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS v
       | FROM orders),
       |ranges AS (
       | SELECT min(u) AS ulo, max(u) AS uhi, min(v) AS vlo, max(v) AS vhi
       | FROM base),
       |norm AS (
       | SELECT u, v,
       |  ((u - ulo) * 65535) // greatest(uhi - ulo, 1) AS u_n,
       |  ((v - vlo) * 65535) // greatest(vhi - vlo, 1) AS v_n
       | FROM base, ranges),
       |tagged AS (
       | SELECT 'zorder' AS layout,
       |  (${mortonSql("u_n", "v_n")}) >> ${32 - FileBits} AS file, u, v
       | FROM norm
       | UNION ALL
       | SELECT 'linear' AS layout, v_n >> ${16 - FileBits} AS file, u, v
       | FROM norm),
       |fs AS (
       | SELECT layout, file, count(*) AS n,
       |  min(u) AS u_min, max(u) AS u_max,
       |  min(v) AS v_min, max(v) AS v_max
       | FROM tagged GROUP BY 1, 2),
       |hits AS (
       | SELECT layout, file, n,
       |  NOT (u_max < $CustLo OR u_min > $CustHi
       |       OR v_max < $DayLo OR v_min >= $DayHi) AS hit
       | FROM fs),
       |matching AS (
       | SELECT count(*) AS rows_matching FROM base
       | WHERE u BETWEEN $CustLo AND $CustHi AND v >= $DayLo AND v < $DayHi)
       |SELECT layout, count(*) AS files_nonempty,
       | CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS files_hit,
       | CAST(sum(CASE WHEN hit THEN n ELSE 0 END) AS BIGINT) AS rows_scanned,
       | rows_matching,
       | CAST(sum(CASE WHEN hit THEN n ELSE 0 END) * 1000 // rows_matching
       |  AS BIGINT) AS amp_permille
       |FROM hits, matching
       |GROUP BY layout, rows_matching
       |ORDER BY layout""".stripMargin

  /** Compaction target: bins close once the running byte total passes 4 KiB
    * (fixture-scaled stand-in for the 128 MB–1 GB targets a real table
    * maintenance job uses — the policy, not the constant, is the operator).
    */
  val CompactTargetBytes = 4096L

  /** Per-row byte estimate for an events row: fixed envelope + props. */
  private val RowOverheadBytes = 24L

  /** x_compact_plan — small-file compaction planning, the other half of
    * layout maintenance (Z-order chooses the KEY; this chooses the FILES):
    * hourly ingest lands one file per (day, hour) — 24 small files a day —
    * and the planner assigns them to daily compaction bins by NEXT-FIT over
    * the running byte total (a file whose cumulative-EXCLUSIVE bytes have
    * crossed k·T starts bin k; the straddling file stays with its bin, so
    * bins may exceed T by at most one file — the standard bin-close rule
    * deterministic enough for a hash gate). One row per planned output
    * file: source-file count, rows, bytes.
    *
    * Scale shape: one scan → (day, hour) aggregate (≤ 24·days rows at ANY
    * data size), a running sum windowed PER DAY (parallel across days,
    * ≤ 24 rows per partition), and a (day, bin) re-aggregate. The plan
    * frame is metadata-sized; executing the plan is a partitioned rewrite
    * job keyed by (day, bin) — exactly the shuffle the plan's bin keys
    * co-locate.
    */
  /** The shared bin assignment: one (day, hr) "file" row per ingest hour
    * with its NEXT-FIT bin id. Metadata-sized (≤ 24·days rows) — both the
    * declared plan query and the executing rewrite derive from it.
    */
  private def binnedFiles(spark: SparkSession, dir: String): DataFrame =
    binnedFilesOver(Tables.events(spark, dir))

  /** Same bin assignment over any events-shaped frame — the dirty-input
    * seam: rows with NULL/unparseable ts land in the NULL (day, hr) group,
    * which gets a bin like any other (quarantining bad rows is a DQ
    * decision upstream, not something layout maintenance may silently do).
    */
  private def binnedFilesOver(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val files = events
      .select(
        datediff(to_date($"ts"), lit("1970-01-01").cast("date"))
          .cast("long").as("day"),
        hour($"ts").cast("long").as("hr"),
        (length(coalesce($"props", lit(""))) + RowOverheadBytes).as("bytes"))
      .groupBy($"day", $"hr")
      .agg(count(lit(1)).as("n_rows"), sum($"bytes").as("bytes"))
    val w = Window.partitionBy($"day").orderBy($"hr")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    files
      .withColumn("cum_excl", sum($"bytes").over(w) - $"bytes")
      .withColumn("bin", expr(s"cum_excl div $CompactTargetBytes"))
  }

  def compactPlan(spark: SparkSession, dir: String): DataFrame =
    compactPlanOver(Tables.events(spark, dir))

  /** The declared plan over any events-shaped frame (testing seam). */
  def compactPlanOver(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    binnedFilesOver(events)
      .groupBy($"day", $"bin")
      .agg(count(lit(1)).as("n_files"), sum($"n_rows").as("bin_rows"),
        sum($"bytes").as("bin_bytes"))
      .orderBy($"day", $"bin")
  }

  /** EXECUTES the compaction plan [[compactPlan]] only describes: every
    * event row is routed to its (day, bin) via a broadcast of the
    * metadata-sized assignment frame, then ONE shuffle keyed by exactly
    * the plan's bin keys lands each bin's rows in a single task, and the
    * partitioned write emits ONE file per (day, bin) directory — the
    * small-file rewrite a table-maintenance job runs. This is the shuffle
    * the plan co-locates by construction: bin keys are contiguous in
    * (day, hr), so the rewrite never moves a row across days, and the
    * per-task row count is bounded by the bin target, not by skew in the
    * source layout. CompactRoundTripSpec pins the contract: one data file
    * per bin directory, read-back row multiset identical to the source,
    * per-bin counts identical to the plan's `bin_rows`, and strictly
    * fewer output files than source (day, hr) micro-files.
    */
  def compactExecute(spark: SparkSession, dir: String, outPath: String): Unit =
    compactExecuteOver(Tables.events(spark, dir), outPath)

  /** The executing rewrite over any events-shaped frame (testing seam). */
  def compactExecuteOver(events: DataFrame, outPath: String): Unit = {
    val spark = events.sparkSession
    import spark.implicits._
    // NULL-SAFE route keys: rows with NULL/unparseable ts carry NULL
    // (day, hr), and binnedFilesOver's groupBy keeps that group as a
    // planned bin — an equi-join here would never match NULL = NULL and
    // silently DROP those rows from the compacted table, breaking the
    // "compaction moves bytes, never rows" contract on dirty input. The
    // <=> conditions route them to their planned bin instead (the NULL
    // day lands in the Hive default-partition directory on write).
    val assign = binnedFilesOver(events)
      .select($"day".as("a_day"), $"hr".as("a_hr"), $"bin")
    val rows = events
      .withColumn("day",
        datediff(to_date($"ts"), lit("1970-01-01").cast("date")).cast("long"))
      .withColumn("hr", hour($"ts").cast("long"))
      .join(broadcast(assign), $"day" <=> $"a_day" && $"hr" <=> $"a_hr")
      .drop("a_day", "a_hr", "hr")
    rows.repartition($"day", $"bin")
      .write.mode("overwrite").partitionBy("day", "bin").parquet(outPath)
  }

  val compactPlanSql: String =
    s"""WITH files AS (
       | SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
       |  CAST(hour(ts) AS BIGINT) AS hr,
       |  count(*) AS n_rows,
       |  CAST(sum(length(coalesce(props, '')) + $RowOverheadBytes) AS BIGINT) AS bytes
       | FROM events GROUP BY 1, 2),
       |binned AS (
       | SELECT day, hr, n_rows, bytes,
       |  (CAST(sum(bytes) OVER (PARTITION BY day ORDER BY hr
       |     ROWS UNBOUNDED PRECEDING) AS BIGINT) - bytes)
       |   // $CompactTargetBytes AS bin
       | FROM files)
       |SELECT day, bin, count(*) AS n_files,
       | CAST(sum(n_rows) AS BIGINT) AS bin_rows,
       | CAST(sum(bytes) AS BIGINT) AS bin_bytes
       |FROM binned GROUP BY 1, 2
       |ORDER BY day, bin""".stripMargin

  // ---- Retention / VACUUM -------------------------------------------------

  /** Retention window: day partitions more than this many days behind the
    * table's NEWEST day are expired. Data-derived (max observed day, not
    * wall clock) so the plan is deterministic over a fixed fixture; a
    * production deployment substitutes current_date and nothing else
    * changes.
    */
  val RetentionDays = 14L

  /** Erasure cohort: the deterministic md5 slice of users with a pending
    * right-to-be-forgotten request — the events-side sibling of
    * dq_erasure_scope's customer cohort. One hex digit = 1/16 of the id
    * space; over the fixture's 15-user domain that selects exactly one
    * user, enough to force both `rewrite` and `keep` partitions.
    */
  val ErasePrefix = "1"

  /** TRUE exactly on erasure-cohort rows. NULL user_id yields NULL (md5 of
    * NULL is NULL on both engines), which every consumer below treats as
    * not-erased — an id-less row can't match a deletion list. `private
    * [graft]` so the stress scenario and spec plant/check the SAME cohort
    * the vacuum removes instead of re-deriving the predicate.
    */
  private[graft] def erased(userId: Column): Column =
    substring(md5(userId.cast("string")), 1, ErasePrefix.length) === ErasePrefix

  /** x_retention_plan — the third layout-maintenance op (Z-order chooses
    * the KEY, compaction chooses the FILES, retention chooses what stays):
    * one row per day partition with its action under the combined
    * retention + erasure policy and the rows a vacuum would reclaim.
    *
    *  - `drop`: the whole partition is past the retention window — at
    *    100 TB this is a METADATA delete; the bytes are never read.
    *  - `rewrite`: inside the window but holding erasure-cohort rows — the
    *    only partitions whose bytes the vacuum pays to scan and rewrite.
    *  - `keep`: untouched, byte for byte.
    *
    * NULL-day rows (unparseable ts) can't prove their age, so the policy
    * errs toward retaining them: `rewrite` if they hold erased rows,
    * `keep` otherwise — never silently `drop`.
    *
    * Scale shape: one scan → per-day aggregate (≤ days rows at any data
    * size) joined to a broadcast 1-row max; the plan frame is
    * metadata-sized and the expensive part (the rewrite) touches only the
    * partitions this frame names.
    */
  def retentionPlan(spark: SparkSession, dir: String): DataFrame =
    retentionPlanOver(Tables.events(spark, dir))

  /** The declared plan over any events-shaped frame (testing seam). */
  def retentionPlanOver(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val days = events
      .select(
        datediff(to_date($"ts"), lit("1970-01-01").cast("date"))
          .cast("long").as("day"),
        when(erased($"user_id"), 1L).otherwise(0L).as("erase"))
      .groupBy($"day")
      .agg(count(lit(1)).as("n_rows"), sum($"erase").as("erase_rows"))
    val mx = days.agg(max($"day").as("max_day"))
    days.crossJoin(broadcast(mx))
      .withColumn("action",
        when($"day".isNull,
          when($"erase_rows" > 0, "rewrite").otherwise("keep"))
          .when($"day" <= $"max_day" - RetentionDays, "drop")
          .when($"erase_rows" > 0, "rewrite")
          .otherwise("keep"))
      .withColumn("reclaim_rows",
        when($"action" === "drop", $"n_rows")
          .when($"action" === "rewrite", $"erase_rows")
          .otherwise(lit(0L)))
      .select($"day", $"n_rows", $"erase_rows", $"action", $"reclaim_rows")
      .orderBy($"day")
  }

  val retentionPlanSql: String =
    s"""WITH d AS (
       | SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
       |  count(*) AS n_rows,
       |  CAST(sum(CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1,
       |    ${ErasePrefix.length}) = '$ErasePrefix' THEN 1 ELSE 0 END)
       |   AS BIGINT) AS erase_rows
       | FROM events GROUP BY 1),
       |mx AS (SELECT max(day) AS max_day FROM d)
       |SELECT day, n_rows, erase_rows,
       | CASE WHEN day IS NULL THEN
       |   (CASE WHEN erase_rows > 0 THEN 'rewrite' ELSE 'keep' END)
       |  WHEN day <= max_day - $RetentionDays THEN 'drop'
       |  WHEN erase_rows > 0 THEN 'rewrite' ELSE 'keep' END AS action,
       | CASE WHEN day IS NULL AND erase_rows > 0 THEN erase_rows
       |  WHEN day IS NULL THEN CAST(0 AS BIGINT)
       |  WHEN day <= max_day - $RetentionDays THEN n_rows
       |  WHEN erase_rows > 0 THEN erase_rows
       |  ELSE CAST(0 AS BIGINT) END AS reclaim_rows
       |FROM d, mx ORDER BY day""".stripMargin

  /** Writes the canonical day-partitioned layout of an events frame — the
    * table shape [[retentionVacuum]] maintains. Day derivation is the ONE
    * the plan uses; NULL-ts rows land in the Hive default partition.
    */
  def writeDayPartitioned(events: DataFrame, path: String): Unit = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withColumn("day",
        datediff(to_date($"ts"), lit("1970-01-01").cast("date")).cast("long"))
      .repartition($"day")
      .write.mode("overwrite").partitionBy("day").parquet(path)
  }

  /** What a vacuum run did, partition by partition. `None` is the NULL-day
    * (Hive default) partition.
    */
  final case class RetentionStats(
    droppedDays: Seq[Long],
    rewrittenDays: Seq[Option[Long]],
    keptDays: Seq[Option[Long]])

  private val NullPartDir = "__HIVE_DEFAULT_PARTITION__"

  /** Tombstone prefix for the crash-safe partition swap: the original dir
    * is renamed aside under this name BEFORE the cleaned dir takes its
    * name, so no moment exists where the partition's clean rows live
    * nowhere. A leftover tombstone is repaired by [[recoverVacuum]].
    *
    * LEADING DOT is load-bearing for concurrent READERS: Spark's file
    * index skips dot/underscore-prefixed paths, so a tombstone is
    * invisible to `spark.read.parquet(root)` — a reader that lists the
    * table mid-swap sees a well-formed table (partition discovery and the
    * inferred `day` type unchanged), merely missing the one partition in
    * flight. A `day=X.__vacbak`-style SUFFIX name would instead enter
    * partition inference as a non-numeric `day` value and flip the
    * column's inferred type to string for the duration of the window.
    */
  private val BakPrefix = ".vacbak."

  /** The pre-round-10 tombstone form (`day=X.__vacbak` — a SUFFIX). Still
    * recognized by [[recoverVacuum]] so a table whose vacuum crashed
    * mid-swap under the OLD naming is repaired after an upgrade instead of
    * stranded: the suffix form both escapes the prefix-keyed recovery and
    * MATCHES the `day=` inventory filter, where its non-numeric remainder
    * would abort every subsequent vacuum while the partition's clean rows
    * stay invisible (round-10 code-review finding). Recovery-only — new
    * tombstones are always [[BakPrefix]]-form.
    */
  private val LegacyBakSuffix = ".__vacbak"

  /** Repairs a table a previous vacuum crashed mid-swap, making
    * [[retentionVacuum]] converge under retry instead of losing rows:
    * for each `.vacbak.day=X` tombstone (or legacy `day=X.__vacbak`), if
    * the live `day=X` dir exists the swap had completed (drop the
    * tombstone); if not, the crash hit between rename-aside and rename-in
    * (restore the original — its erased rows reappear and THIS run
    * re-cleans them, which is the safe direction). A stale `_vacstage`
    * dir is dropped either way: its contents are recomputed from live
    * data.
    */
  private def recoverVacuum(
      fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Unit = {
    fs.listStatus(root)
      .filter(s => s.isDirectory && {
        val n = s.getPath.getName
        n.startsWith(BakPrefix) || n.endsWith(LegacyBakSuffix)
      })
      .foreach { s =>
        val n = s.getPath.getName
        val liveName =
          if (n.startsWith(BakPrefix)) n.stripPrefix(BakPrefix)
          else n.stripSuffix(LegacyBakSuffix)
        val live = new org.apache.hadoop.fs.Path(root, liveName)
        if (fs.exists(live)) fs.delete(s.getPath, true)
        else require(fs.rename(s.getPath, live),
          s"vacuum recovery: cannot restore ${s.getPath} to $live")
      }
    val stage = new org.apache.hadoop.fs.Path(
      root.getParent, root.getName + "_vacstage")
    if (fs.exists(stage)) fs.delete(stage, true)
  }

  /** EXECUTES the retention plan against a day-partitioned parquet table,
    * IN PLACE, with the cost profile the plan promises:
    *
    *  1. partition values come from the DIRECTORY LISTING — no data read;
    *  2. expired partitions are deleted as filesystem metadata ops — their
    *     bytes are never scanned;
    *  3. erasure detection scans ONLY retained partitions (partition
    *     pruning) and ONLY the user_id column (column pruning);
    *  4. only partitions that actually hold erased rows are rewritten —
    *     new files staged beside the table, then swapped in per-directory,
    *     so `keep` partitions keep their exact original files.
    *
    * Idempotent: a second run finds nothing expired and nothing erased.
    * Crash-safe: each swap renames the original dir to a tombstone BEFORE
    * the cleaned dir takes its name, and a leftover tombstone from a
    * killed run is repaired on the next call ([[recoverVacuum]]) — retry
    * converges, never loses clean rows. RetentionRoundTripSpec pins all
    * four cost properties plus plan/execute row-count agreement;
    * crash-window recovery and the NULL-day-only table are spec-pinned
    * there too.
    *
    * ISOLATION CONTRACT (spec-pinned in VacuumReaderSpec): single WRITER —
    * concurrent vacuums of one table require external coordination (there
    * is no lock; two interleaved runs can race the same tombstone).
    * Concurrent READERS via `spark.read.parquet(root)` get per-partition
    * — not snapshot — consistency: every intermediate state of a swap is
    * a well-formed table (tombstones are dot-prefixed and the staging dir
    * lives OUTSIDE the table root, so Spark's file index never sees
    * either; partition discovery and the inferred `day` type are stable
    * throughout), and a partition mid-swap is observed as either its old
    * rows, its new rows, or — in the two-rename tombstone window —
    * MISSING ENTIRELY. A reader needing all partitions present must
    * therefore retry when the listing shrinks mid-scan, or read through a
    * manifest-backed table format; that snapshot layer is deliberately
    * out of scope here (it is what Delta/Iceberg ARE — file:line of the
    * design note in SURVEY.md §2.4's layout row). The expired-partition
    * drop has the same reader semantics as the swap's missing window: an
    * expiry racing a scan is indistinguishable from the scan starting a
    * moment later.
    */
  def retentionVacuum(spark: SparkSession, tablePath: String): RetentionStats = {
    import spark.implicits._
    val root = new org.apache.hadoop.fs.Path(tablePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)

    // 0. Repair any tombstone/stage a killed predecessor left behind so
    //    the inventory below sees only live partitions.
    recoverVacuum(fs, root)

    // 1. Partition inventory from the listing (metadata-only, like a table
    //    format's manifest read). NULL-day partition parses to None.
    val partDays: Seq[Option[Long]] = fs.listStatus(root)
      .filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.startsWith("day="))
      .map(_.stripPrefix("day=") match {
        case NullPartDir => None
        case n => Some(n.toLong)
      }).toSeq
    if (partDays.isEmpty) return RetentionStats(Nil, Nil, Nil)
    val numericDays = partDays.flatten
    // No numeric day ⇒ nothing can prove its age ⇒ nothing expires, but
    // the erasure scan below MUST still run: a NULL-day-only table can
    // hold cohort rows the plan marks `rewrite` (age-unprovable rows are
    // retained, never exempted from erasure).
    val cutoff: Option[Long] = numericDays.sorted.lastOption
      .map(_ - RetentionDays)

    // 2. DROP: pure metadata deletes; NULL-day partitions never expire.
    val expired =
      cutoff.map(c => numericDays.filter(_ <= c).sorted).getOrElse(Nil)
    expired.foreach { d =>
      val p = new org.apache.hadoop.fs.Path(root, s"day=$d")
      require(fs.delete(p, true), s"vacuum: cannot drop expired $p")
    }

    // 3. Find rewrite partitions: retained days only, user_id column only.
    val t = spark.read.parquet(tablePath)
    val retainedPred = cutoff
      .map(c => $"day".isNull || $"day".cast("long") > c)
      .getOrElse(lit(true))
    val rewriteDays: Seq[Option[Long]] = t
      .filter(retainedPred)
      .filter(erased($"user_id"))
      .select($"day".cast("long")).distinct().collect()
      .map(r => if (r.isNullAt(0)) None else Some(r.getLong(0))).toSeq

    // 4. Rewrite ONLY those partitions: stage cleaned files, swap per-dir.
    if (rewriteDays.nonEmpty) {
      val numeric = rewriteDays.flatten
      val numericPred =
        if (numeric.nonEmpty) $"day".cast("long").isin(numeric: _*)
        else lit(false)
      val rewritePred =
        if (rewriteDays.contains(None)) numericPred || $"day".isNull
        else numericPred
      val stage =
        new org.apache.hadoop.fs.Path(root.getParent, root.getName + "_vacstage")
      t.filter(rewritePred)
        // keep rows where `erased` is not TRUE — NULL user_id stays.
        .filter(!(erased($"user_id") <=> lit(true)))
        // a table whose ONLY partition is the NULL-day one infers the
        // partition column as VOID on read — re-type it or partitionBy
        // refuses to write the staged dirs
        .withColumn("day", $"day".cast("long"))
        .repartition($"day")
        .write.mode("overwrite").partitionBy("day").parquet(stage.toString)
      rewriteDays.foreach { d =>
        val name = d.map(v => s"day=$v").getOrElse(s"day=$NullPartDir")
        val live = new org.apache.hadoop.fs.Path(root, name)
        val bak = new org.apache.hadoop.fs.Path(root, BakPrefix + name)
        val staged = new org.apache.hadoop.fs.Path(stage, name)
        // CRASH-SAFE swap: rename the original ASIDE (tombstone), rename
        // the cleaned dir IN, only then drop the tombstone — at no point
        // do the partition's clean rows live nowhere, and every rename's
        // result is checked so a failed FS op aborts loudly instead of
        // reporting a rewrite that didn't happen. A crash in the window
        // leaves a tombstone the next run repairs (recoverVacuum).
        require(fs.rename(live, bak), s"vacuum: cannot move $live aside")
        // a partition whose every row was erased has no staged dir — the
        // tombstone drop below removes it from the table, correctly.
        if (fs.exists(staged))
          require(fs.rename(staged, live), s"vacuum: cannot land $staged")
        require(fs.delete(bak, true), s"vacuum: cannot drop tombstone $bak")
      }
      fs.delete(stage, true)
    }

    val retained =
      partDays.filterNot(pd => cutoff.exists(c => pd.exists(_ <= c)))
    RetentionStats(
      expired,
      rewriteDays.sortBy(_.getOrElse(Long.MaxValue)),
      retained.diff(rewriteDays).sortBy(_.getOrElse(Long.MaxValue)))
  }

  val declared: Seq[Declared] = Seq(
    Declared("x_zorder_prune", zorderPrune, Some(zorderPruneSql)),
    Declared("x_compact_plan", compactPlan, Some(compactPlanSql)),
    Declared("x_retention_plan", retentionPlan, Some(retentionPlanSql)))
}
