package graft

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Per-job diagnostic runner (optimization rounds): runs named
  * `SparkEntry.queries` entries once under the bench session config and
  * prints every Spark job's wall time and description, plus totals — the
  * local-mode stand-in for the Spark UI's job table (the UI is disabled
  * in bench runs). Usage:
  *
  *   runMain graft.QueryDiag <sfDir> <name1,name2,...>
  */
object QueryDiag {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: QueryDiag <sfDir> <names>")
    val Array(sfDir, names) = args.take(2)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val starts = new ConcurrentHashMap[Int, (Long, String, Seq[Int])]()
    val stages = new ConcurrentHashMap[Int, String]()
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties)
          .map(_.getProperty("spark.job.description", "")).getOrElse("")
        starts.put(js.jobId, (System.nanoTime(), desc, js.stageIds.map(_.toInt)))
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val dur = (for (a <- si.completionTime; b <- si.submissionTime)
          yield a - b).getOrElse(-1L)
        stages.put(si.stageId,
          f"    stage ${si.stageId}%4d $dur%6d ms ${si.numTasks}%4dt ${si.name.take(90)}")
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(starts.remove(je.jobId)).foreach { case (t0, desc, sids) =>
          val ms = (System.nanoTime() - t0) / 1e6
          lines.add(f"job ${je.jobId}%4d ${ms}%9.1f ms  $desc")
          if (ms > 300)
            sids.sorted.foreach(sid =>
              Option(stages.get(sid)).foreach(lines.add))
        }
      }
    })
    for (name <- names.split(",").map(_.trim).filter(_.nonEmpty)) {
      SparkEntry.queries.get(name) match {
        case Some(fn) =>
          lines.clear()
          stages.clear()
          val t0 = System.nanoTime()
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          val total = (System.nanoTime() - t0) / 1e9
          spark.catalog.clearCache()
          // listener delivery is async: wait until every queued event
          // has reached the listener
          org.apache.spark.ListenerBusDrain.drain(spark.sparkContext)
          // stage lines of slow jobs share the queue; count the jobs only
          val jobs = lines.stream().filter(_.startsWith("job ")).count()
          println(s"===== $name total ${f"$total%.2f"} s, $jobs jobs =====")
          lines.forEach(l => println(l))
        case None => System.err.println(s"[diag] unknown query: $name")
      }
    }
    spark.stop()
  }
}
