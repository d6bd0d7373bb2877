package graft

import java.nio.file.{Files, Paths}

/** Plan-capture tool (optimization rounds): writes the
  * `.explain("formatted")` output of named `SparkEntry.queries` entries
  * to `<outDir>/<name>.txt`. Usage:
  *
  *   runMain graft.PlanDump <sfDir> <outDir> <name1,name2,...>
  *
  * Runs under the same session configuration as `graft.Bench` so the
  * captured plans are the ones the bench actually executes. The plan is
  * captured from the DataFrame the query returns — for at-rest serving
  * queries that is the serve plan (the build happens inside the query
  * function before the frame is returned, exactly as in the bench).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <sfDir> <outDir> <names>")
    val Array(sfDir, outDir, names) = args.take(3)
    val spark = GraftSession.fromEnv()
    Files.createDirectories(Paths.get(outDir))
    val wanted = names.split(",").map(_.trim).filter(_.nonEmpty)
    val qs = SparkEntry.queries
    for (name <- wanted) qs.get(name) match {
      case Some(fn) =>
        spark.sparkContext.setJobDescription(s"plandump: $name")
        try {
          val df = fn(spark, sfDir)
          val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          Files.write(Paths.get(outDir, s"$name.txt"),
            txt.getBytes("UTF-8"))
          println(s"[plandump] wrote $name (${txt.length} chars)")
        } catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"[plandump] $name FAILED: ${e.getMessage}")
        } finally spark.catalog.clearCache()
      case None => System.err.println(s"[plandump] unknown query: $name")
    }
    spark.stop()
  }
}
