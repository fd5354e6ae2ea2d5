package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Ingestion operators — the engine-side analogues of the reference's
  * HTTP→S3 raw-zone path (ref /root/reference/operators/api_to_s3.py:50-77)
  * and JSON payload parsing (ref /root/reference/operators/data_quality_operator.py:69).
  *
  * The impure HTTP fetch stays out of declared queries (SURVEY.md §7.4-7);
  * `fromJsonPayload` is the seam: any payload string (fetched, fixture, or
  * Kafka value) becomes a DataFrame through the same inferred-schema contract
  * the reference relies on.
  */
object Ingest {

  /** Parse a raw JSON payload (array-of-records or NDJSON) into a DataFrame,
    * schema inferred — the reference's `pd.read_json` contract.
    *
    * NDJSON must be split into one dataset row per line: handed to the JSON
    * reader as ONE row, only the first record parses and the rest are
    * silently dropped. The payload is NDJSON only when EVERY non-empty line
    * is a complete object — arrays AND pretty-printed single objects (whose
    * first line is a bare '{') stay one row, which the reader parses whole.
    */
  def fromJsonPayload(spark: SparkSession, payload: String): DataFrame = {
    import spark.implicits._
    val lines = payload.split("\n").map(_.trim).filter(_.nonEmpty)
    val rows =
      if (lines.length > 1 && lines.forall(l => l.startsWith("{") && l.endsWith("}")))
        lines.toSeq
      else Seq(payload)
    spark.read.json(spark.createDataset(rows))
  }

  /** Write a raw-zone date partition, overwrite-on-conflict — the reference's
    * `load_string(replace=True)` + keyed-path semantics (api_to_s3.py:68-73),
    * expressed as a partitioned parquet overwrite so partition pruning works
    * downstream.
    */
  def writeRawZone(df: DataFrame, root: String, ds: String): Unit = {
    // Dynamic overwrite replaces only the partitions that receive rows, so
    // an empty rerun would leave the earlier run's ds= directory in place.
    val partition = new Path(s"$root/ds=$ds")
    partition.getFileSystem(df.sparkSession.sessionState.newHadoopConf()).delete(partition, true)
    Writers.writeParquet(df.withColumn("ds", lit(ds)), root, Seq("ds"))
  }

  /** Read back one raw-zone date partition written by [[writeRawZone]]:
    * its directory alone, with the schema the frame was written with (any
    * ingested `ds` column is the partition key, so it is dropped) — no
    * schema-inference job and no listing of the other dates' partitions.
    * A zero-row write creates no partition directory; that reads as an
    * empty frame of the same schema, so checks fail as verdicts instead of
    * the read throwing.
    */
  def readRawZone(spark: SparkSession, root: String, ds: String, written: StructType): DataFrame = {
    val schema = StructType(written.filterNot(_.name.equalsIgnoreCase("ds")))
    val partition = s"$root/ds=$ds"
    if (graft.dq.DataQuality.pathExists(spark, partition)) spark.read.schema(schema).parquet(partition)
    else spark.createDataFrame(java.util.List.of[Row](), schema)
  }

  /** ingest_json_raw — JSON scalar extraction from the events `props` payload:
    * the declared, oracle-checkable face of the JSON parse path.
    */
  def ingestJsonRaw(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // orderBy below the projection: the range-sampling pass then touches only
    // event_id instead of running the JSON parse twice (see scalarFns).
    Tables.events(spark, dir)
      .orderBy($"event_id")
      .select($"event_id",
        get_json_object($"props", "$.k").cast("long").as("k"))
  }

  val ingestJsonRawSql: String =
    """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      |FROM events
      |ORDER BY event_id""".stripMargin

  /** csv_replay_limit — to_json envelope over the first n rows in key order:
    * the deterministic batch analogue of the reference's CSV→Kafka replay
    * (kafka_stream.pyc @ 68-74: first n rows, JSON-serialized).
    *
    * The envelope is CANONICAL so the DuckDB oracle reproduces it
    * byte-for-byte (round-1 gap closed — this was the one rows-only query):
    * fixed field order, timestamp pre-formatted ISO-8601 with microseconds,
    * money as integer cents (engine-controlled number formatting — a raw
    * double would hit each engine's float-printing rules). The reference's
    * own payloads are all strings (kafka_stream.pyc @ 32-37), so a canonical
    * envelope is parity, not a restriction.
    */
  def csvReplayLimit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .orderBy($"event_id")
      .limit(100)
      .select($"event_id", to_json(struct(
        $"event_id",
        date_format($"ts", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'").as("ts"),
        $"user_id",
        $"event_type",
        graft.util.Det.cents($"value").as("value_cents"),
        $"props")).as("value"))
  }

  /** Oracle: the same envelope via string concatenation (DuckDB has no
    * field-ordered struct→JSON with these exact formats). Escaping matches
    * Jackson: BACKSLASH FIRST, then quotes — quote-only escaping would
    * corrupt any props containing a backslash (`\"` inside a single-quoted
    * SQL literal is two characters; standard SQL strings do not process
    * backslash escapes).
    */
  val csvReplayLimitSql: String =
    """SELECT event_id,
      | '{"event_id":' || event_id ||
      | ',"ts":"' || strftime(ts, '%Y-%m-%dT%H:%M:%S.%fZ') ||
      | '","user_id":' || user_id ||
      | ',"event_type":"' || event_type ||
      | '","value_cents":' || CAST(round(value * 100) AS BIGINT) ||
      | ',"props":"' || replace(replace(props, '\', '\\'), '"', '\"') || '"}' AS value
      |FROM events
      |ORDER BY event_id
      |LIMIT 100""".stripMargin

  /** ingest_variant — the same JSON extraction through Spark 4's VARIANT
    * type (`parse_json` → `variant_get`): the modern shredded-semi-structured
    * path. Unlike `get_json_object` (per-call string re-parse), a VARIANT
    * column parses once into a binary-encoded tree that every downstream
    * `variant_get` navigates directly — the shape that matters when a 100 TB
    * corpus has many extractions per payload. Aggregated so the gate checks
    * VALUES while output stays bounded.
    */
  def ingestVariant(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // try_parse_json, not parse_json: one malformed payload in a crawl-scale
    // corpus must yield a NULL row, not kill the job (matching
    // get_json_object's and the oracle's null-on-malformed semantics).
    Tables.events(spark, dir)
      .select(expr("variant_get(try_parse_json(props), '$.k', 'long')").as("k"))
      .agg(count(lit(1)).as("n_rows"), count($"k").as("n_k"),
        sum($"k").as("sum_k"), min($"k").as("min_k"), max($"k").as("max_k"))
  }

  val ingestVariantSql: String =
    """SELECT count(*) AS n_rows, count(k) AS n_k,
      | CAST(sum(k) AS BIGINT) AS sum_k, min(k) AS min_k, max(k) AS max_k
      |FROM (SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      |      FROM events) t""".stripMargin

  /** x_json_props — the DECLARED-schema JSON path: `from_json` with a
    * pinned struct schema (vs `ingest_variant`'s schemaless VARIANT and
    * `get_json_object`'s stringly per-call parse — the third of the three
    * semi-structured idioms, and the one that vectorizes best when the
    * payload shape is known). Malformed payloads yield NULL fields by
    * `from_json` contract, counted per group so the gate pins that
    * semantics. One map-only parse + one grouped aggregate.
    */
  def jsonProps(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .select($"event_type",
        from_json($"props", org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("k",
            org.apache.spark.sql.types.LongType)))).getField("k").as("k"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), count($"k").as("n_k"),
        coalesce(sum($"k"), lit(0L)).as("s_k"),
        min($"k").as("min_k"), max($"k").as("max_k"))
      .orderBy($"event_type")
  }

  val jsonPropsSql: String =
    """SELECT event_type, count(*) AS n, count(k) AS n_k,
      | CAST(coalesce(sum(k), 0) AS BIGINT) AS s_k,
      | min(k) AS min_k, max(k) AS max_k
      |FROM (SELECT event_type,
      |        CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      |      FROM events) t
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ingest_json_raw" -> (ingestJsonRaw _),
    "ingest_variant" -> (ingestVariant _),
    "x_json_props" -> (jsonProps _),
    "csv_replay_limit" -> (csvReplayLimit _))

  val oracles: Map[String, String] = Map(
    "ingest_json_raw" -> ingestJsonRawSql,
    "ingest_variant" -> ingestVariantSql,
    "x_json_props" -> jsonPropsSql,
    "csv_replay_limit" -> csvReplayLimitSql)
}
