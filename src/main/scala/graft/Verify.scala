package graft
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json (the oracles of the queries run), for the DuckDB
  * compare in tools/check_oracle.py. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query names (a subset run,
    // whose oracle_sql.json then holds only those queries' oracles)
    val (sfDir, outDir, only) = args match {
      case Array(s, o)    => (s, o, None)
      case Array(s, o, f) => (s, o, Some(f.split(",").toSet))
    }
    val spark = Sessions.local()
    new java.io.File(outDir).mkdirs()
    def wanted(name: String): Boolean = only.forall(_.contains(name))
    SparkEntry.queries
      .filter { case (name, _) => wanted(name) }
      .foreach { case (name, fn) =>
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
        // drop whatever the query left persisted (operator-internal
        // caches now deliberately outlive the query fn so the write
        // above reuses them — see q63/q85/q88): 132 queries in one
        // session would otherwise accumulate storage blocks
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
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
      .filter { case (name, _) => wanted(name) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
