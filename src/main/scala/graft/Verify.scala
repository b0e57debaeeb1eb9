package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = LocalSession.build(LocalSession.envCores)
    new java.io.File(outDir).mkdirs()
    var failed = 0
    SparkEntry.queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failed += 1
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // remove any stale dump from a previous run so the oracle compare
        // fails loudly instead of silently passing on old output
        val dir = new java.io.File(s"$outDir/$name")
        if (dir.exists()) {
          dir.listFiles().foreach(_.delete()); dir.delete()
        }
      }
    }
    if (failed > 0) System.err.println(s"[verify] $failed quer(ies) FAILED")
    val sql = SparkEntry.oracleSql
      .map { case (k, v) => s"${json(k)}: ${json(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), sql)
    spark.stop()
  }

  /** JSON string literal: escapes backslash, quote, and ALL control chars
   * (<0x20) — a tab or CR in a query's oracle SQL would otherwise make
   * oracle_sql.json unreadable to the oracle compare. */
  def json(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
