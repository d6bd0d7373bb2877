package graft

/** Jobs, submitted stages, finished tasks and the descriptions of the SQL
  * executions (by default the call site of the action, e.g. "count at
  * X.scala:12") per job group, for groups whose id starts with `prefix`. */
class JobCounter(prefix: String) extends org.apache.spark.scheduler.SparkListener {
  import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
  import org.apache.spark.scheduler._
  import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
  val jobs = new ConcurrentHashMap[String, Integer]()
  val stages = new ConcurrentHashMap[String, Integer]()
  val tasks = new ConcurrentHashMap[String, Integer]()
  private val descriptions = new ConcurrentHashMap[String, ConcurrentLinkedQueue[String]]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()

  private def bump(m: ConcurrentHashMap[String, Integer], group: String): Unit =
    m.merge(group, 1, (a: Integer, b: Integer) => a + b)

  /** The descriptions of the group's SQL executions, in start order. */
  def executions(group: String): Seq[String] =
    Option(descriptions.get(group))
      .map(q => q.toArray(Array.empty[String]).toSeq).getOrElse(Nil)

  override def onJobStart(js: SparkListenerJobStart): Unit =
    Option(js.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith(prefix)).foreach { g =>
        bump(jobs, g)
        js.stageIds.foreach(sid => stageGroup.put(sid, g))
      }
  override def onStageSubmitted(ss: SparkListenerStageSubmitted): Unit =
    Option(stageGroup.get(ss.stageInfo.stageId)).foreach(bump(stages, _))
  override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
    Option(stageGroup.get(te.stageId)).foreach(bump(tasks, _))
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      s.jobGroupId.filter(_.startsWith(prefix)).foreach(g =>
        descriptions.computeIfAbsent(g, _ => new ConcurrentLinkedQueue[String]())
          .add(s.description))
    case _ =>
  }
}
