package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd/4th args (local iteration only; the driver passes two):
    // a comma-separated list of query-name prefixes to dump, and a
    // comma-separated list of prefixes to SKIP ("-" third arg = no filter).
    // The skip list exists for large-scale replays: q70's raw id-level pair
    // dump is quadratic in dup-group size (~1.3B rows at sf1), so sf1 runs
    // exclude it and exact-check it at smaller sf instead — mirrors
    // tools/compare.py's 4th arg.
    val (sfDir, outDir) = (args(0), args(1))
    val selected = Harness.select(SparkEntry.queries.keys, args.lift(2), args.lift(3))
    val spark = Harness.session()
    new java.io.File(outDir).mkdirs()
    val failed = selected.count { name =>
      try {
        SparkEntry.queries(name)(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        false
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getClass.getName}: ${e.getMessage}")
        true
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${escapeJson(k)}: ${escapeJson(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    System.err.println(s"[verify] attempted=${selected.size} failed=$failed")
    spark.stop()
  }

  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in builder-authored SQL would otherwise make the
    * driver's json.load fail and silently zero the round's correctness.
    * Public so the spec can round-trip every oracle entry through a real
    * JSON parser before the driver ever sees the file. */
  def escapeJson(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
