package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One measured operation. */
final case class Sample(name: String, group: String, ms: Double, ok: Boolean,
                        layers: Map[String, Double], spark: Option[SparkCounters])

/** Benchmark process: sets up one workload several times, warms it with
  * one checked pass, then runs timed passes for the requested seconds and
  * writes a JSON result file.
  *
  * Usage: perfbench.Main <workload> <seed> <seconds> <trace 0|1> <work dir> <result file>
  */
object Main {
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val Array(workloadName, seedArg, secondsArg, traceArg, work, resultPath) = args
    val seed = seedArg.toLong
    val seconds = secondsArg.toDouble
    val trace = traceArg == "1"
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "200")
      .config("spark.ui.retainedTasks", "5000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    log(f"session ready in $sessionS%.2f s")
    val tracer = new Tracer

    val workload = Workloads(workloadName, spark, seed, cores)
    val setupS = (0 until SetupReps).map { k =>
      val s0 = System.nanoTime()
      workload.setup(s"$work/data/s$k")
      (System.nanoTime() - s0) / 1e9
    }
    log(f"setup ${setupS.map(s => f"$s%.2f").mkString(" ")} s")
    // after the set-ups, which pay the JVM's and Spark's first-job costs
    val calibStart = calibrate(spark)

    val runner = new Runner(spark, workload, tracer, new File(System.getProperty("java.io.tmpdir")))
    // warm-up: one pass, the checked one. Pass times keep falling for
    // several passes in a fresh JVM, but a run cannot afford more; a fixed
    // count keeps every run, and every version of the program, at the
    // same point of that curve.
    val checkDir = s"$work/check"
    val warm = runner.pass(-1, traced = false, check = Some(checkDir))
    val warmS = warm.wallS
    log(f"warm $warmS%.2f s; slowest checked ops: " +
      warm.samples.sortBy(-_.ms).take(5).map(s => f"${s.name} ${s.ms}%.0f ms").mkString(", "))

    // timed passes: whole passes until the time is up, and at least the
    // workload's minimum (in a traced run, untraced and traced passes
    // alternate, at least one of each), so every operation of the list
    // weighs the same in the per-operation figures
    val timed = ArrayBuffer.empty[PassResult]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val minPasses = math.max(workload.timedPasses, if (trace) 2 else 1)
    var k = 0
    while (k < minPasses || System.nanoTime() < deadline) {
      timed += runner.pass(k, traced = trace && k % 2 == 1, check = None)
      k += 1
    }
    val heapMb = retainedHeapMb()
    val calibEnd = calibrate(spark)

    val plain = timed.filterNot(_.traced).toSeq
    val tracedPasses = timed.filter(_.traced).toSeq
    val opsPlain = plain.flatMap(_.samples)
    val (tailP, tailMs) = Stats.tail(opsPlain.map(_.ms))
    log("timed pass s: " + timed.map(p => f"${p.wallS}%.2f${if (p.traced) " (traced)" else ""}")
      .mkString(" "))
    log(f"timed ${plain.size} untraced + ${tracedPasses.size} traced passes, " +
      f"${opsPlain.size} ops; tail percentile p${tailP * 100}%.0f over ${opsPlain.size} samples")
    // per group (question domain, family module) of operations, the median
    // latency; the groups differ in cost, so the median over all
    // operations would fall in a gap between them and jump across it
    val groupP50 = opsPlain.groupBy(_.group).toSeq.sortBy(_._1)
      .map { case (g, ss) => g -> Stats.median(ss.map(_.ms)) }
    log("untraced op median by group, ms: " +
      groupP50.map { case (g, ms) => f"$g $ms%.0f" }.mkString(", "))
    val allTimed = timed.flatMap(_.samples).toSeq
    val failed = allTimed.count(!_.ok)

    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(
        ("setup_s", Stats.median(setupS), "s"),
        ("pass_s", Stats.median(plain.map(_.wallS)), "s"),
        ("op_p50_ms", Stats.median(groupP50.map(_._2)), "ms"),
        ("op_tail_ms", tailMs, "ms"),
        ("retained_heap_mb", heapMb, "MB"))
      else {
        val table = Layers.table(workload, tracedPasses, tracer, warmS, sessionS,
          calibStart, calibEnd, plain, runner.probe.unattributedJobs,
          failed.toDouble / math.max(1, allTimed.size))
        val spansPath = Paths.get(s"$resultPath.spans.jsonl")
        tracer.write(spansPath)
        val text = Layers.render(workloadName, table, tracer)
        System.err.print(text)
        Files.write(Paths.get(s"$resultPath.layers.txt"), text.getBytes("UTF-8"))
        table
      }
    spark.stop()
    log("session stopped")

    val failedOps = allTimed.filter(!_.ok).map(_.name).distinct.take(20)
    if (failedOps.nonEmpty) log("failed: " + failedOps.mkString("; "))
    val timedRuns = allTimed.groupBy(_.name).map { case (n, s) => n -> s.size }
    val checks = warm.samples.filter(_.ok).map(_.name).distinct
      .filter(graft.SparkEntry.oracleSql.contains)
    val json = new StringBuilder
    json ++= s"""{"workload":${Json.str(workloadName)},"seed":$seed,"trace":$trace,"""
    json ++= s""""attempted":${allTimed.size},"failed":$failed,"""
    json ++= s""""warm_failed":${warm.samples.count(!_.ok)},"""
    json ++= s""""failed_ops":${Json.arr(failedOps.map(Json.str))},"""
    json ++= s""""metrics":${Json.obj(metrics.map { case (n, v, u) =>
      n -> s"""{"value":${Json.num(v)},"unit":${Json.str(u)}}""" })},"""
    json ++= s""""check_dir":${Json.str(checkDir)},"""
    json ++= s""""data_dir":${Json.str(s"$work/data/s${SetupReps - 1}")},"""
    json ++= s""""checks":${Json.obj(checks.map(n => n -> Json.obj(Seq(
      "sql" -> Json.str(graft.SparkEntry.oracleSql(n)),
      "timed_runs" -> timedRuns.getOrElse(n, 0).toString))))}}"""
    Files.write(Paths.get(resultPath), json.toString.getBytes("UTF-8"))
  }

  /** A fixed CPU-only Spark job: the best of three timings, in ms. */
  def calibrate(spark: SparkSession): Double =
    (0 until 3).map { _ =>
      val t0 = System.nanoTime()
      spark.range(0, 4000000, 1, 4).selectExpr("sum((id * 7) % 13) AS s").collect()
      (System.nanoTime() - t0) / 1e6
    }.min

  /** Heap in use after full GCs, in MB. Spark's ContextCleaner frees
    * broadcast, shuffle and cached state on its own thread after a GC has
    * dropped the last reference to it, so the heap right after one GC
    * holds that state or not depending on the cleaner's timing. GCs
    * repeat, 100 ms apart, until the heap stops shrinking by more than
    * 0.5 MB (at most 20 times). */
  def retainedHeapMb(): Double = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    def used(): Double = { System.gc(); mx.getHeapMemoryUsage.getUsed / 1048576.0 }
    val readings = ArrayBuffer(used())
    def shrinking = readings.size < 2 || readings(readings.size - 2) - readings.last > 0.5
    while (shrinking && readings.size < 20) { Thread.sleep(100); readings += used() }
    log("heap after GCs, MB: " + readings.map(r => f"$r%.1f").mkString(" "))
    readings.last
  }

  private val started = System.nanoTime()

  /** Logs to stderr with the seconds since the process started. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - started) / 1e9}%6.1fs $msg")
}

final case class PassResult(traced: Boolean, wallS: Double, samples: Seq[Sample])

/** Runs passes of a workload, one operation at a time. */
final class Runner(spark: SparkSession, workload: Workload, tracer: Tracer, tmpDir: File) {
  val probe = new SparkProbe(spark, tracer)
  private var nextOp = 0L

  /** Runs every operation of pass `k`. */
  def pass(k: Int, traced: Boolean, check: Option[String]): PassResult = {
    if (traced) probe.install()
    val ops = workload.ops(k)
    val t0 = System.nanoTime()
    val samples = ops.map(run(_, traced, check))
    val wallS = (System.nanoTime() - t0) / 1e9
    if (traced) probe.uninstall()
    System.gc()
    PassResult(traced, wallS, samples)
  }

  private def run(op: Op, traced: Boolean, check: Option[String]): Sample = {
    nextOp += 1
    val id = nextOp
    val side = if (traced) workload.sideLayers(op) else Map.empty[String, Double]
    val tmpBefore = if (traced) Workloads.dirBytes(tmpDir) else 0L
    val spanId = tracer.nextId()
    val ctx = new OpContext(tracer, traced, id, spanId, check)
    if (traced) probe.begin(id, spanId)
    val startUs = tracer.nowUs()
    val t0 = System.nanoTime()
    val ok = try op.run(ctx) catch { case NonFatal(e) =>
      Main.log(s"${op.name} failed: ${e.getMessage}")
      false
    }
    val ms = (System.nanoTime() - t0) / 1e6
    if (traced) tracer.add(Span(spanId, 0L, id, s"op.${op.group}", startUs, tracer.nowUs()))
    val counters = if (traced) {
      val c = probe.end(id)
      tracer.nest(id, "spark.job")
      Some(c)
    } else None
    val extra = if (traced) Map(
      "spark.resident_kb_after" -> SparkProbe.residentBytes(spark) / 1024.0,
      "streaming.tmp_left_kb" -> (Workloads.dirBytes(tmpDir) - tmpBefore) / 1024.0)
    else Map.empty[String, Double]
    workload.afterOp()
    Sample(op.name, op.group, ms, ok, side ++ extra ++ ctx.layers.flatMap { case (l, (t, n)) =>
      Seq(s"$l.ms" -> t, s"$l.calls" -> n.toDouble) }, counters)
  }
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "0" else v.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
