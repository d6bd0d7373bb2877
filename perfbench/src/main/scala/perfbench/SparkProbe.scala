package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark counters of one operation. */
final class SparkCounters {
  var actions, jobs, stages, tasks = 0L
  var planMs, jobWallMs, taskRunMs, taskWaitMs = 0.0
  var shuffleReadB, shuffleWriteB, spillB, inputB, outputB = 0L
  var actionMs = 0.0
}

/** Counts the Spark work beneath each benchmark operation.
  *
  * Jobs, stages and tasks are attributed by the [[SparkProbe.OpKey]] local
  * property the benchmark sets before it calls into a layer; a job without
  * it (for example one submitted from a thread pool created before the
  * property was set) is counted as unattributed. Query executions carry no
  * local property on the listener thread, so they go to the operation that
  * is open while their events are delivered: the benchmark drains the
  * listener bus before it closes an operation, and runs one operation at
  * a time. */
final class SparkProbe(spark: SparkSession, tracer: Tracer)
    extends SparkListener with QueryExecutionListener {
  import SparkProbe._

  private val byOp = mutable.Map.empty[Long, SparkCounters]
  private val stageOp = mutable.Map.empty[Int, Long]
  private val stageSubmitted = mutable.Map.empty[Int, Long]
  private val jobStart = mutable.Map.empty[Int, (Long, Long)]
  @volatile private var open: (Long, Long) = (0L, 0L) // (op id, op span id)
  @volatile var unattributedJobs = 0L

  def install(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def uninstall(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  def drain(): Unit = org.apache.spark.ListenerBusAccess.drain(spark.sparkContext)

  /** Opens an operation: tags this thread's jobs with `op`. */
  def begin(op: Long, spanId: Long): Unit = {
    open = (op, spanId)
    spark.sparkContext.setLocalProperty(OpKey, op.toString)
  }

  /** Drains every event of the operation, closes it and returns its counters. */
  def end(op: Long): SparkCounters = {
    drain()
    spark.sparkContext.setLocalProperty(OpKey, null)
    open = (0L, 0L)
    synchronized(byOp.remove(op).getOrElse(new SparkCounters))
  }

  private def counters(op: Long): SparkCounters = byOp.getOrElseUpdate(op, new SparkCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(OpKey)))
      .map(_.toLong)
    tag match {
      case Some(op) =>
        counters(op).jobs += 1
        e.stageIds.foreach(s => stageOp(s) = op)
        jobStart(e.jobId) = (op, e.time)
      case None => unattributedJobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (op, t0) =>
      counters(op).jobWallMs += e.time - t0
      val parent = if (open._1 == op) open._2 else 0L
      tracer.add(Span(tracer.nextId(), parent, op, "spark.job", t0 * 1000, e.time * 1000))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val id = e.stageInfo.stageId
    stageOp.get(id).foreach { op =>
      counters(op).stages += 1
      stageSubmitted(id) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageSubmitted.remove(e.stageInfo.stageId)
    stageOp.remove(e.stageInfo.stageId)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOp.get(e.stageId).foreach { op =>
      val c = counters(op)
      c.tasks += 1
      stageSubmitted.get(e.stageId).foreach(t => c.taskWaitMs += math.max(0L, e.taskInfo.launchTime - t))
      Option(e.taskMetrics).foreach { m =>
        c.taskRunMs += m.executorRunTime
        c.shuffleReadB += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
        c.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        c.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
        c.inputB += m.inputMetrics.bytesRead
        c.outputB += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    action(qe, durationNs)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    action(qe, 0L)

  private def action(qe: QueryExecution, durationNs: Long): Unit = synchronized {
    val op = open._1
    if (op != 0L) {
      val c = counters(op)
      c.actions += 1
      c.actionMs += durationNs / 1e6
      c.planMs += qe.tracker.phases.collect {
        case (phase, s) if PlanPhases(phase) => s.durationMs.toDouble }.sum
    }
  }
}

object SparkProbe {
  val OpKey = "perfbench.op"
  private val PlanPhases = Set("analysis", "optimization", "planning")

  /** Cached RDD storage (memory plus disk) still held, in bytes. */
  def residentBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
}
