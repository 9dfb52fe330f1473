package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Both cover the
  * selected queries only (all of them unless SPARK_GRAFT_ONLY names a
  * subset), so a selected query that fails is missing from the outputs
  * but not from the oracles — the compare counts it as failed. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.local(cpus)
    new java.io.File(outDir).mkdirs()
    // Local-iteration filter: SPARK_GRAFT_ONLY=a,b,c runs a subset.
    // Unset (the driver's invocation) → full surface.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(',').map(_.trim).toSet)
    def selected(name: String): Boolean = only.forall(_.contains(name))
    def delete(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(delete))
      f.delete()
    }
    SparkEntry.queries.filter { case (name, _) => selected(name) }
      .foreach { case (name, fn) =>
      // a query that fails leaves no output, never an earlier run's
      // output for the compare to pass
      delete(new java.io.File(s"$outDir/$name"))
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
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
    val json = SparkEntry.oracleSql.filter { case (k, _) => selected(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
