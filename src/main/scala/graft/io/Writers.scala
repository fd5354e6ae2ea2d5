package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Batch sink/source surface beyond the parquet tables: ORC, CSV, and
  * JSON-lines, all partitioned overwrites in dynamic mode, so re-running a
  * partition replaces it instead of appending duplicates.
  *
  * Scale notes: every writer takes explicit partition columns — at 100 TB an
  * unpartitioned sink is unprunable for every downstream reader. CSV/JSON
  * readers take an explicit schema: schema inference is a full extra pass
  * over the data and non-deterministic under sampling, acceptable only for
  * exploratory reads (`inferCsv`).
  *
  * (No Avro or Kafka writers: the container ships no spark-avro / kafka
  * connector jars — the builder-side seam is the same `format(...)` call,
  * documented here rather than shipped untestable.)
  */
object Writers {

  private def writer(df: DataFrame, partitionCols: Seq[String]) = {
    val w = df.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
    if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w
  }

  def writeParquet(df: DataFrame, path: String, partitionCols: Seq[String] = Nil): Unit =
    writer(df, partitionCols).parquet(path)

  def writeOrc(df: DataFrame, path: String, partitionCols: Seq[String] = Nil): Unit =
    writer(df, partitionCols).orc(path)

  def writeCsv(df: DataFrame, path: String, partitionCols: Seq[String] = Nil): Unit =
    writer(df, partitionCols).option("header", "true").csv(path)

  def writeJsonl(df: DataFrame, path: String, partitionCols: Seq[String] = Nil): Unit =
    writer(df, partitionCols).json(path)

  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** Schema-first CSV read (header consumed, types from the schema). */
  def readCsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.option("header", "true").schema(schema).csv(path)

  /** Exploratory CSV read — schema inferred (extra pass; not for pipelines). */
  def inferCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").option("inferSchema", "true").csv(path)

  def readJsonl(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** Read a parquet table whose files span SCHEMA VERSIONS (columns added
    * over time): footer schemas are merged, rows from older files carry
    * NULL in the added columns. This is the additive-evolution contract a
    * long-lived 100 TB table needs — new ingest code adds columns, old
    * files stay valid, no rewrite. mergeSchema is opt-in because it reads
    * every file's footer (a metadata pass, worth it only on evolved
    * tables); renames/retypes are NOT evolution and must go through a
    * rewrite.
    */
  def readEvolved(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)
}
