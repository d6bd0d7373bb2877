package perfbench

/** The per-layer metrics of a traced run, per operation unless noted. */
object Layers {

  val SparkMetrics: Seq[(String, String, SparkCounters => Double)] = Seq(
    ("spark.actions", "count", _.actions.toDouble),
    ("spark.plan_ms", "ms", _.planMs),
    ("spark.jobs", "count", _.jobs.toDouble),
    ("spark.stages", "count", _.stages.toDouble),
    ("spark.tasks", "count", _.tasks.toDouble),
    ("spark.job_wall_ms", "ms", _.jobWallMs),
    ("spark.task_run_ms", "ms", _.taskRunMs),
    ("spark.task_wait_ms", "ms", _.taskWaitMs),
    ("spark.shuffle_read_kb", "KB", _.shuffleReadB / 1024.0),
    ("spark.shuffle_write_kb", "KB", _.shuffleWriteB / 1024.0),
    ("spark.spill_kb", "KB", _.spillB / 1024.0),
    ("spark.input_kb", "KB", _.inputB / 1024.0),
    ("spark.output_kb", "KB", _.outputB / 1024.0))

  def table(workload: Workload, traced: Seq[PassResult], tracer: Tracer,
            warmS: Double, sessionS: Double, calibStart: Double, calibEnd: Double,
            plain: Seq[PassResult], unattributed: Long,
            failFrac: Double): Seq[(String, Double, String)] = {
    val ops = traced.flatMap(_.samples)
    def mean(f: Sample => Double): Double =
      if (ops.isEmpty) 0.0 else ops.map(f).sum / ops.size
    def layer(key: String)(s: Sample): Double = s.layers.getOrElse(key, 0.0)
    def spark(f: SparkCounters => Double)(s: Sample): Double = s.spark.map(f).getOrElse(0.0)
    def perPass(select: Sample => Boolean): Double =
      if (traced.isEmpty) 0.0
      else Stats.median(traced.map(_.samples.filter(select).map(_.ms).sum / 1000))

    val sparkRows = SparkMetrics.map { case (n, u, f) => (n, mean(spark(f)), u) } ++ Seq(
      ("spark.resident_kb_after", mean(layer("spark.resident_kb_after")), "KB"),
      ("spark.unattributed_jobs", unattributed.toDouble, "count"))
    val isNl = workload.isInstanceOf[NlQa]
    val nlRows = Seq(
      ("nlp.parse_us", mean(layer("nlp.parse_us")), "us"),
      ("answer.llm_calls", mean(layer("answer.llm.calls")), "count"),
      ("answer.llm_ms", mean(layer("answer.llm.ms")), "ms"),
      ("engine.self_ms", if (!isNl) 0.0 else
        mean(s => s.ms - spark(_.actionMs)(s) - layer("answer.llm.ms")(s)), "ms"))
    val queryRows = Seq(
      ("queries.build_ms", mean(layer("queries.build.ms")), "ms"),
      ("queries.serve_ms", mean(layer("queries.serve.ms")), "ms")) ++
      BatchMix.Modules.map { m =>
        (s"queries.${m}_s", if (workload.isInstanceOf[BatchMix]) perPass(_.group == m) else 0.0, "s")
      }
    val streamRows = BatchMix.Streaming.map { q =>
      (s"streaming.${q}_s", if (workload.isInstanceOf[BatchMix]) perPass(_.name == q) else 0.0, "s")
    } :+ ("streaming.tmp_left_kb", mean(layer("streaming.tmp_left_kb")), "KB")
    val plainPass = if (plain.isEmpty) 0.0 else Stats.median(plain.map(_.wallS))
    val tracedPass = if (traced.isEmpty) 0.0 else Stats.median(traced.map(_.wallS))
    val benchRows = Seq(
      ("bench.calib_ms", calibEnd, "ms"),
      ("bench.calib_start_ms", calibStart, "ms"),
      ("bench.trace_overhead_pct",
        if (plainPass > 0) (tracedPass / plainPass - 1) * 100 else 0.0, "%"),
      ("bench.warm_s", warmS, "s"),
      ("bench.session_s", sessionS, "s"),
      ("bench.fail_frac", failFrac, "fraction"),
      ("bench.traced_ops", ops.size.toDouble, "count"))
    sparkRows ++ nlRows ++ queryRows ++ streamRows ++ benchRows
  }

  /** The metric table and the span self-time table, as text. */
  def render(workload: String, rows: Seq[(String, Double, String)], tracer: Tracer): String = {
    val b = new StringBuilder(s"per-layer metrics, $workload (per operation unless noted)\n")
    rows.foreach { case (n, v, u) => b ++= f"  $n%-34s $v%14.3f $u\n" }
    val spans = tracer.all
    val children = spans.groupBy(_.parent).withDefaultValue(Vector.empty)
    b ++= "spans: name, count, total ms, self ms\n"
    spans.groupBy(_.name).toSeq.sortBy(_._1).foreach { case (n, ss) =>
      val total = ss.map(_.durUs).sum / 1000.0
      val self = ss.map(s => Tracer.selfUs(s, children(s.id))).sum / 1000.0
      b ++= f"  $n%-34s ${ss.size}%8d $total%12.1f $self%12.1f\n"
    }
    b.toString
  }
}
