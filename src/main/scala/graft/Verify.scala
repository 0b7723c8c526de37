package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Bench.session()
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // auxiliary oracle inputs (e.g. the MinHash pair table DuckDB's
    // recursive-CTE component oracle reads) — exported BEFORE the query
    // dumps so a mid-run crash cannot leave oracle_sql.json referencing
    // a missing table
    try PipelineQueries.exportOracleAux(spark, sfDir)
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[verify] oracle aux export failed: ${e.getMessage}")
    }
    SparkEntry.queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // a failed query must not leave a PREVIOUS run's dump behind —
        // a stale parquet in a reused outDir would hash-match the oracle
        // and grade the broken query green
        try {
          val d = new java.io.File(outDir, name)
          if (d.exists()) { new scala.reflect.io.Directory(d).deleteRecursively(); () }
        } catch { case _: Exception => () }
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Verify.q(k)}: ${Verify.q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Artifacts.clear()
    spark.stop()
  }

  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in builder-authored SQL (or an env-provided path in
    * Bench's output line) would otherwise make the driver's json.load
    * fail and silently zero the round's results. Shared by Verify and
    * Bench so the two emitters cannot drift. */
  private[graft] def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
