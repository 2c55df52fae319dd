package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional third arg: regex searched for in query names
    // (SparkEntry.nameFilter), for fast local iteration on a subset.
    // `^$` selects no query on purpose: the oracle-only run, which just
    // rewrites oracle_sql.json.
    val nameRegex = if (args.length > 2) args(2) else ".*"
    val oracleOnly = nameRegex == "^$"
    val keep = SparkEntry.nameFilter(nameRegex)
    val selected = SparkEntry.queries.filter { case (name, _) => keep(name) }
    println(s"[verify] filter '$nameRegex' selects ${selected.size}/${SparkEntry.queries.size} queries")
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    val failed = scala.collection.mutable.ListBuffer.empty[String]
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failed += name
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
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Trailing one-line summary so a partial outage is visible in a tail
    // capture (round 9's 51 missing queries only showed as per-query
    // stderr lines buried mid-log).
    val total = selected.size
    println(s"[verify] dumped ${total - failed.size}/$total" +
      (if (failed.isEmpty) ", 0 failed"
       else s", ${failed.size} FAILED: ${failed.sorted.mkString(",")}"))
    spark.stop()
    // Every dump and the oracle file are written first, so a partial run
    // still leaves everything that did succeed; the exit code is what a
    // script or CI step checks. Any other filter that selects nothing
    // is a failed run too (a mistyped name would otherwise pass
    // silently).
    if (failed.nonEmpty || (selected.isEmpty && !oracleOnly)) sys.exit(1)
  }
}
