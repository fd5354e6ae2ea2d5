package graft.io

import java.io.FileNotFoundException

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Loaders for the harness parquet tables (see TESTDATA.md).
  *
  * All engine queries read through here so scan options stay in one place.
  * Parquet is in Spark's default `spark.sql.sources.useV1SourceList`, so
  * scans run on the V1 `FileSourceScanExec` with the vectorized reader,
  * column pruning and predicate pushdown. Each table load reads one parquet
  * footer on the driver (see [[parquet]]) and starts no Spark job; at the
  * 100 TB design point the same call reads a partitioned table directory
  * instead of a single file.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Every named load — including `apply(_, _, "events")` — goes through the
    * table's canonical loader, so no path hands out an inconsistent view of
    * the ns-timestamp table.
    */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir) else raw(spark, dir, name)

  private def raw(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  /** `spark.read.parquet(path)` without its schema-inference job. Spark's
    * non-merging inference reads the footer of one data file inside a
    * one-task job; this reads the same footer on the driver and converts it
    * the same way (Spark's row-metadata schema when present, and the
    * session's binary-as-string, INT96, `inferTimestampNTZ` and
    * `nanosAsLong` settings as they are at call time). Nothing is cached,
    * so a rewritten file is seen on the next call.
    *
    * When no single data file decides the schema (missing path, empty
    * directory, partition subdirectories, summary files, an unreadable
    * footer) this is plain `spark.read.parquet(path)`, so Spark's own
    * errors and partition discovery are unchanged.
    */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val schema = firstDataFile(new Path(path), conf).flatMap { f =>
      try {
        val meta = ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(f, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS)
        Some(ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, meta),
          new ParquetToSparkSchemaConverter(spark.sessionState.conf)))
      } catch { case NonFatal(_) => None }
    }
    schema match {
      case Some(s) => spark.read.schema(s).parquet(path)
      case None => spark.read.parquet(path)
    }
  }

  /** The file Spark's non-merging inference would read: the path itself, or
    * for a flat directory the first data file by path, skipping the `_` and
    * `.` names Spark's file index skips. None when that is not decidable
    * from one listing.
    */
  private def firstDataFile(path: Path, conf: Configuration): Option[FileStatus] = {
    val fs = path.getFileSystem(conf)
    val status =
      try Some(fs.getFileStatus(path))
      catch { case _: FileNotFoundException => None }
    status.flatMap { s =>
      if (s.isFile) Some(s)
      else {
        val children = fs.listStatus(path).toSeq
        def name(c: FileStatus) = c.getPath.getName
        // Spark prefers a summary file's schema over any data file's.
        if (children.exists(c => name(c).startsWith("_metadata") || name(c).startsWith("_common_metadata"))) None
        else {
          val data = children.filterNot(c => name(c).startsWith("_") || name(c).startsWith("."))
          if (data.exists(_.isDirectory)) None else data.sortBy(_.getPath.toString).headOption
        }
      }
    }
  }

  /** Register every harness table as a temp view so users can `spark.sql`
    * against the engine directly (the SQL face of the library). `events`
    * goes through its ns-timestamp-safe loader.
    */
  def registerViews(spark: SparkSession, dir: String): Unit =
    names.foreach { n =>
      val df = if (n == "events") events(spark, dir) else apply(spark, dir, n)
      df.createOrReplaceTempView(n)
    }

  def region(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "lineitem")
  /** `events.ts` is parquet TIMESTAMP(NANOS), which Spark 4 refuses to read
    * as a timestamp. Read nanos as long (`legacy.parquet.nanosAsLong`) and
    * truncate to microseconds with integer division — the same truncation
    * DuckDB applies when narrowing ns→µs, so oracle comparisons agree.
    *
    * NOTE the conf is deliberately SESSION-level (no per-read option
    * exists): after the first events() call, other ns-timestamp parquet in
    * the same session also reads as long instead of erroring. This library
    * has exactly one ns table, and a long column is strictly more
    * recoverable than Spark 4's refusal — but it is a session-wide effect,
    * recorded here.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val r = raw(spark, dir, "events")
    r.schema("ts").dataType match {
      case LongType =>
        r.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // timestamp[us] without timezone (the regenerated fixtures) reads as
        // TIMESTAMP_NTZ, which `unix_micros`/`window` reject. Cast to the
        // session-zone TIMESTAMP; every entry point pins
        // spark.sql.session.timeZone=UTC, so the wall-clock is preserved and
        // epoch arithmetic agrees with DuckDB's naive-as-UTC interpretation.
        r.withColumn("ts", col("ts").cast("timestamp"))
      case _ => r
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "embeddings")
}
