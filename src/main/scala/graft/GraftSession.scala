package graft

import org.apache.spark.sql.SparkSession

/** The one session configuration, shared by Bench, Verify, QueryDiag,
  * PlanDump and the test session, so a diagnosis runs under the config
  * the bench measures.
  *
  * Driver-state hygiene (the driver should hold almost nothing): even
  * with the UI off, the live status stores retain the last 1000 SQL
  * executions' full plan graphs + metrics and the last 100k task rows —
  * over a 264-query × multi-rep run that is hundreds of MB of driver
  * heap (heap histogram mid-bench: 557k SQLPlanMetric instances), pure
  * GC ballast that competes with the running tasks. The caps bound the
  * measurement process's own state; none of them changes what any query
  * computes. */
object GraftSession {

  def builder(cpus: Int): SparkSession.Builder = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.ui.retainedExecutions", "20")
    .config("spark.ui.retainedJobs", "100")
    .config("spark.ui.retainedStages", "200")
    .config("spark.ui.retainedTasks", "5000")

  /** The runners' session: `SPARK_GRAFT_CPUS` cores, or all of this
    * machine's when it is unset. */
  def fromEnv(): SparkSession = {
    val cpus = sys.env.get("SPARK_GRAFT_CPUS")
      .fold(Runtime.getRuntime.availableProcessors())(_.trim.toInt)
    val spark = builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
