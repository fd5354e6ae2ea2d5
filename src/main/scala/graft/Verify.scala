package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each declared query's result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Optional third arg: comma-separated query-name filter for fast local
  * iteration on a single query (`runMain graft.Verify <sf> <out> q1_agg`);
  * the driver passes no filter and always dumps everything.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").map(_.trim).toSet) else None
    val spark = graft.util.Harness.session()
    new java.io.File(outDir).mkdirs()
    // A failed query must be VISIBLE to the gate, not just a stderr line: a
    // missing result dir could read as "not declared" downstream. Record
    // failures in failures.json and in the summary line.
    val failures = scala.collection.mutable.Buffer.empty[String]
    val selected = SparkEntry.declared.filter(d => only.forall(_.contains(d.name)))
    selected.foreach { case Declared(name, build, _) =>
      // Drop the previous query's dead localCheckpoint blocks (see Bench):
      // ~15 queries pin lineage-truncation storage, and at sf0.01×131
      // queries the accumulated blocks otherwise slow the tail of the run.
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      try build(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failures += name
        // a PREVIOUS run's result dir must not survive this failure — the
        // gate would compare stale data and pass a broken query.
        val dir = Paths.get(s"$outDir/$name")
        if (Files.exists(dir))
          Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
            .forEach(p => Files.delete(p))
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // Only the attempted queries' oracles: the gate treats an oracle key
    // with no result dir as a FAILURE, so a filtered dump must not carry
    // the full map.
    val json = selected.flatMap(d => d.oracleSql.map(sql => s"${q(d.name)}: ${q(sql)}"))
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Files.writeString(Paths.get(s"$outDir/failures.json"),
      failures.map(q).mkString("[", ",", "]"))
    println(s"[verify] done: ${failures.size} failed" +
      (if (failures.nonEmpty) s" (${failures.mkString(", ")})" else ""))
    spark.stop()
  }
}
