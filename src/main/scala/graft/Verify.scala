package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // Optional trailing names restrict the dump (dev iteration); the
    // driver's 2-arg invocation dumps everything.
    val Array(sfDir, outDir) = args.take(2)
    val only = args.drop(2).toSet
    val spark = GraftSession.local("graft-verify")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      // Clear the previous run's dump first: a query that throws while its
      // plan is built never reaches .write, and a stale dump left in place
      // would be compared as if it were this run's result.
      val out = new org.apache.hadoop.fs.Path(s"$outDir/$name")
      out.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(out, true)
      try fn(spark, sfDir).coalesce(1).write.parquet(out.toString)
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: $e")
        e.printStackTrace()
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
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
