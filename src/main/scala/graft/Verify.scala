package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional trailing names: dump only those queries (and only their
    // oracle entries) — local iteration aid; the driver passes none.
    val only = args.drop(2).toSet
    def wanted(name: String): Boolean = only.isEmpty || only(name)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // canonical graft session (AQE, UTC, extensions, nanosAsLong) — the
    // correctness gate runs the same config a deployment would.
    // Keep the INT96 timestamp write default: readers see tz-NAIVE values,
    // matching the DuckDB oracle's TIMESTAMP; TIMESTAMP_MICROS would
    // surface as tz-aware (isAdjustedToUTC) and break naive compares.
    val spark = Sessions.builder(s"local[$cpus]", cpus.toInt)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    def failed(what: String, e: Throwable): Unit =
      System.err.println(s"[verify] $what failed: ${e.getClass.getName}: ${e.getMessage}")
    SparkEntry.queries
      .filter { case (name, _) => wanted(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable => failed(name, e) }
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
    // generated oracles render after the queries ran, each on its own:
    // one that throws is left out of oracle_sql.json, its cause printed
    val generated = SparkEntry.generatedOracleSql
      .filter { case (k, _) => wanted(k) }
      .flatMap { case (k, render) =>
        try Some(k -> render(spark, sfDir))
        catch { case e: Throwable => failed(s"$k oracle", e); None }
      }
    val json = (SparkEntry.oracleSql.filter { case (k, _) => wanted(k) } ++ generated)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
