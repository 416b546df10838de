package perfbench

/** Per-layer metrics of a traced segment, from its spans and Spark
  * events. Counts, bytes and times are per op unless the name is a
  * fraction or a rate. */
object Layers {
  /** `codegen`: (compile nanos, generated classes) during the segment. */
  def compute(ctx: Ctx, w: Workload, ops: Seq[OpRecord], codegen: (Long, Long)): Map[String, Double] = {
    val n = math.max(ops.size, 1).toDouble
    val ev = ctx.events
    ev.attributeActions(ops.map(o => (o.id, o.startUs, o.endUs)))
    val cs = ops.map(o => ev.counters.getOrElse(o.id, new OpCounters))
    def perOp(f: OpCounters => Long): Double = cs.map(f).sum / n
    val jobsByOp = ev.jobSpans.groupBy(_.op)
    val spansByOp = ctx.spans.groupBy(_.op)
    val self = scala.collection.mutable.Map[String, Double]().withDefaultValue(0.0)
    var gapUs = 0L
    ops.foreach { o =>
      val jobs = jobsByOp.getOrElse(o.id, Nil).map(s => (s.startUs, s.endUs))
      val children = spansByOp.getOrElse(o.id, Nil).filter(_.parent == "op")
      val jobUs = Intervals.unionLen(jobs, o.startUs, o.endUs)
      gapUs += (o.endUs - o.startUs) - jobUs
      self("op") += (o.endUs - o.startUs) - Intervals.unionLen(children.map(c => (c.startUs, c.endUs)), o.startUs, o.endUs)
      children.foreach(c => self(c.name) += c.durUs - Intervals.unionLen(jobs, c.startUs, c.endUs))
      self("spark_jobs") += jobUs
    }
    val wallS = ops.map(_.ms).sum / 1000.0
    val runMs = cs.map(_.runMs).sum
    val fs = ops.map(o => ctx.fsCalls.getOrElse(o.id, Seq.fill(CountingLocalFs.names.size)(0L)))
    val fsMetrics = CountingLocalFs.names.zipWithIndex.map { case (name, i) =>
      s"fs.${name}_calls_per_op" -> fs.map(_(i)).sum / n
    }
    Map(
      "spark.actions_per_op" -> perOp(_.actions),
      "spark.jobs_per_op" -> perOp(_.jobs),
      "spark.stages_per_op" -> perOp(_.stages),
      "spark.tasks_per_op" -> perOp(_.tasks),
      "driver.gap_ms_per_op" -> gapUs / 1000.0 / n,
      "exec.task_cpu_s" -> cs.map(_.cpuNs).sum / 1e9 / n,
      "exec.task_run_s" -> runMs / 1000.0 / n,
      "exec.gc_s" -> cs.map(_.gcMs).sum / 1000.0 / n,
      "exec.busy_frac" -> (if (wallS > 0) runMs / 1000.0 / (wallS * ctx.args.cpus) else 0.0),
      "shuffle.write_bytes" -> perOp(_.shuffleWrite),
      "shuffle.read_bytes" -> perOp(_.shuffleRead),
      "shuffle.fetch_wait_ms" -> perOp(_.fetchWaitMs),
      "spill.bytes" -> perOp(_.spill),
      "scan.input_bytes" -> perOp(_.inputBytes),
      "plan.analysis_ms" -> perOp(_.analysisMs),
      "plan.optimization_ms" -> perOp(_.optimizationMs),
      "plan.planning_ms" -> perOp(_.planningMs),
      "codegen.compile_ms" -> codegen._1 / 1e6 / n,
      "codegen.classes" -> codegen._2 / n,
      "trace.spans_per_op" -> (ctx.spans.size + ev.jobSpans.size) / n
    ) ++ fsMetrics ++ self.map { case (k, us) => s"self.${k}_ms_per_op" -> us / 1000.0 / n } ++ w.layers(ops)
  }
}
