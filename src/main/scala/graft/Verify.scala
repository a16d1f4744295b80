package graft
import graft.core.GraftSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg, for local iteration: only run queries whose name
    // starts with one of these comma-separated prefixes (the correctness
    // contract is the two-argument form)
    val (sfDir, outDir) = (args(0), args(1))
    val only = args.lift(2).getOrElse("")
    val spark = GraftSession.forMain("graft-verify")
    new java.io.File(outDir).mkdirs()
    val names = SparkEntry.eachQuery(spark, only) { (name, fn) =>
      fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
    }.map { case (name, r) =>
      r.failed.foreach(e => System.err.println(s"[verify] $name failed: ${e.getMessage}"))
      name
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
    val oracles = SparkEntry.oracleSql
    val json = names.map(k => s"${q(k)}: ${q(oracles(k))}").mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
