package graft
import java.nio.file.{Files, Paths}
/** Correctness dump: each [[SparkEntry.all]] query's result → parquet,
  * plus oracle_sql.json (every query's oracle, by name), for the DuckDB
  * compare (`tools/oracle_check.py`). */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = LocalSession("graft-verify", cpus)
    new java.io.File(outDir).mkdirs()
    SparkEntry.all.foreach { q =>
      try q.build(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${q.name}")
      catch { case e: Throwable =>
        System.err.println(s"[verify] ${q.name} failed: ${e.getMessage}")
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson(SparkEntry.all))
    spark.stop()
  }

  /** `{name: oracle, …}` for `queries`, as JSON. */
  def oracleJson(queries: Seq[SparkEntry.Query]): String = {
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
    queries.map(x => s"${q(x.name)}: ${q(x.oracle)}").mkString("{", ",", "}")
  }
}
