package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Per-job diagnostic runner (optimization rounds): runs named
  * `SparkEntry.queries` entries once under the bench session config and
  * prints every Spark job's wall time and description, the stages of
  * each query's three slowest jobs, plus totals (jobs, completed stages
  * and their tasks) — the local-mode stand-in for the Spark UI's job
  * table (the UI is disabled in bench runs). Usage:
  *
  *   runMain graft.QueryDiag <sfDir> <name1,name2,...>
  */
object QueryDiag {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: QueryDiag <sfDir> <names>")
    val Array(sfDir, names) = args.take(2)
    val spark = GraftSession.fromEnv()
    val starts = new ConcurrentHashMap[Int, (Long, String, Seq[Int])]()
    val stages = new ConcurrentHashMap[Int, String]()
    // completed (stage id, task count) pairs: the query's stage and
    // task totals, however its jobs split them
    val stageTasks = new ConcurrentHashMap[Int, Int]()
    // (job id, wall ms, description, stage ids) in completion order
    val jobs = new ConcurrentLinkedQueue[(Int, Double, String, Seq[Int])]()
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
        stageTasks.put(si.stageId, si.numTasks)
        stages.put(si.stageId,
          f"    stage ${si.stageId}%4d $dur%6d ms ${si.numTasks}%4dt ${si.name.take(90)}")
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(starts.remove(je.jobId)).foreach { case (t0, desc, sids) =>
          jobs.add((je.jobId, (System.nanoTime() - t0) / 1e6, desc, sids))
        }
      }
    })
    for (name <- names.split(",").map(_.trim).filter(_.nonEmpty)) {
      SparkEntry.queries.get(name) match {
        case Some(fn) =>
          jobs.clear()
          stages.clear()
          stageTasks.clear()
          val t0 = System.nanoTime()
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          val total = (System.nanoTime() - t0) / 1e9
          spark.catalog.clearCache()
          // listener delivery is async: wait until every queued event
          // has reached the listener
          org.apache.spark.ListenerBusDrain.drain(spark.sparkContext)
          val done = jobs.toArray(Array.empty[(Int, Double, String, Seq[Int])])
          // the stage view of the query's slowest jobs, however fast
          // the query is
          val slowest = done.sortBy(-_._2).take(3).map(_._1).toSet
          val nTasks = stageTasks.values.asScala.sum
          println(s"===== $name total ${f"$total%.2f"} s, ${done.length} jobs, " +
            s"${stageTasks.size} stages, $nTasks tasks =====")
          done.foreach { case (id, ms, desc, sids) =>
            println(f"job $id%4d $ms%9.1f ms  $desc")
            if (slowest(id))
              sids.sorted.foreach(sid => Option(stages.get(sid)).foreach(println))
          }
        case None => System.err.println(s"[diag] unknown query: $name")
      }
    }
    spark.stop()
  }
}
