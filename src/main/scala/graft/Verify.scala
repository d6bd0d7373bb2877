package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Hardened after round 17's driver artifact landed empty (`{}`) with no
  * recorded cause: `oracle_sql.json` is written FIRST — before the
  * SparkSession even starts — so a mid-run kill, timeout, or Spark
  * startup failure still leaves the oracle side of the compare on disk
  * next to whatever result parquet completed; and every query logs a
  * start/done line with wall time to stderr so a truncated driver log
  * shows exactly where a run died. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query-name filter, for iterating
    // on one query locally (the driver always passes two args → full run)
    val keep: String => Boolean =
      if (args.length > 2) args(2).split(",").toSet else (_: String) => true
    new java.io.File(outDir).mkdirs()
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
    val oracle = SparkEntry.oracleSql.filter(e => keep(e._1))
    val json = oracle.map { case (k, v) => s"${q(k)}: ${q(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    System.err.println(s"[verify] oracle_sql.json written: ${oracle.size} " +
      s"entries -> $outDir")
    // large-SF materialization hints for check_oracle --use-hints (the
    // 10×-probe spill fix); driver compare never reads this file
    val hints = SparkEntry.oracleHints.filter(e => keep(e._1))
    if (hints.nonEmpty) {
      val hjson = hints.map { case (k, (setup, sql)) =>
        s"${q(k)}: {${q("setup")}: ${q(setup)}, ${q("sql")}: ${q(sql)}}"
      }.mkString("{", ",", "}")
      Files.writeString(Paths.get(s"$outDir/oracle_hints.json"), hjson)
    }
    val spark = GraftSession.fromEnv()
    val names = SparkEntry.queries.filter(e => keep(e._1))
    var done = 0
    var failed = 0
    val t0 = System.nanoTime()
    names.foreach { case (name, fn) =>
      val tq = System.nanoTime()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        done += 1
        System.err.println(f"[verify] $done%3d/${names.size} $name ok " +
          f"(${(System.nanoTime() - tq) / 1e9}%.1fs)")
      } catch { case e: Throwable =>
        failed += 1
        System.err.println(s"[verify] $name FAILED: ${e.getMessage}")
      } finally {
        spark.catalog.clearCache() // no persist leak across queries
        System.gc() // drain dead checkpoint/broadcast blocks (Bench rule)
      }
    }
    System.err.println(f"[verify] complete: $done ok, $failed failed, " +
      f"${(System.nanoTime() - t0) / 1e9}%.0fs total")
    spark.stop()
  }
}
