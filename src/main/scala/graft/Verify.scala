package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** The JSON string literal of `s` for the two JSON artifacts
    * (`oracle_sql.json` here, `BENCH_SELF.json` in [[Bench]]): backslash,
    * quote, and ALL control chars (<0x20) escaped — a tab or CR in an
    * oracle SQL string would otherwise make the reader's json.load fail
    * and silently zero the correctness record.
    */
  private[graft] def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [queryName...] — trailing names restrict the
    // dump to those queries (local iteration); the driver passes only two.
    val (Array(sfDir, outDir), only) = args.splitAt(2)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(s"local[$cpus]", cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val selected =
      if (only.isEmpty) SparkEntry.queries
      else SparkEntry.queries.view.filterKeys(only.contains).toMap
    // A failing query must leave a TRACE, not a hole: in round 11 two broken
    // families simply vanished from the driver's CORRECTNESS record because
    // their parquet dirs were never written, and the round read as fully
    // green (ADVICE r11). Now every failure is collected, dumped to
    // verify_errors.json beside the outputs, echoed in one summary line,
    // and the process exits non-zero so the round record can't look clean.
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        errors(name) = msg.take(500)
        System.err.println(s"[verify] $name failed: $msg")
      }
      finally spark.catalog.clearCache() // release per-query persist()s
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"), errJson)
    if (errors.nonEmpty)
      System.err.println(
        s"[verify] ${errors.size}/${selected.size} queries FAILED: " +
          errors.keys.mkString(", "))
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }
}
