package perfbench

/** Span arithmetic shared by the workloads' layer reports. */
final class SpanIndex(val spans: Seq[Span]) {
  private val children: Map[Long, Seq[Span]] = spans.groupBy(_.parent)
  def ops(names: String*): Seq[Span] = spans.filter(s => s.layer == "op" && names.contains(s.name))
  def childrenOf(s: Span, layer: String): Seq[Span] = children.getOrElse(s.id, Nil).filter(_.layer == layer)

  /** Length of the union of `xs`, clipped to [from, to]. */
  def covered(xs: Seq[Span], from: Long, to: Long): Long = {
    var end = from
    var total = 0L
    xs.map(s => (math.max(s.start, from), math.min(s.end, to))).filter(p => p._1 < p._2).sortBy(_._1).foreach {
      case (s, e) =>
        if (e > end) { total += e - math.max(s, end); end = e }
    }
    total
  }

  /** Time inside `op` during which no Spark job of it was running. */
  def driverOnlyNs(op: Span): Long = op.ns - covered(childrenOf(op, "spark"), op.start, op.end)
  /** Time inside `op` not covered by any child span (its self time). */
  def selfNs(op: Span): Long = op.ns - covered(children.getOrElse(op.id, Nil), op.start, op.end)
}

object Layers {
  def ms(ns: Long): Double = ns / 1e6
  def median(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  /** The `spark`, `plans`, storage and JVM layers, over all traced rounds. */
  def common(p: Probes, spans: Seq[Span], cpus: Int): Map[String, Double] = {
    val ix = new SpanIndex(spans)
    val t = p.spark0.total
    val jobs = spans.filter(_.layer == "spark")
    val busyNs = if (jobs.isEmpty) 0L else ix.covered(jobs, jobs.map(_.start).min, jobs.map(_.end).max)
    val allOps = spans.filter(_.layer == "op")
    val taskRunS = t.taskRunMs / 1e3
    Map(
      "spark.jobs" -> t.jobs.toDouble,
      "spark.stages" -> t.stages.toDouble,
      "spark.tasks" -> t.tasks.toDouble,
      "spark.job_busy_s" -> busyNs / 1e9,
      "spark.driver_only_s" -> allOps.map(ix.driverOnlyNs).sum / 1e9,
      "spark.task_run_s" -> taskRunS,
      "spark.task_cpu_s" -> t.taskCpuNs / 1e9,
      "spark.task_wait_s" -> t.taskWaitMs / 1e3,
      "spark.gc_s" -> t.gcMs / 1e3,
      "spark.core_util" -> (if (busyNs == 0) 0.0 else taskRunS / (busyNs / 1e9 * cpus)),
      "spark.shuffle_read_bytes" -> t.shuffleRead.toDouble,
      "spark.shuffle_write_bytes" -> t.shuffleWrite.toDouble,
      "spark.spill_bytes" -> t.spill.toDouble,
      "spark.input_bytes" -> t.input.toDouble,
      "spark.output_bytes" -> t.output.toDouble,
      "jvm.heap_peak_mb" -> p.heapPeakMb,
      "catalyst.analysis_ms" -> p.spark0.analysisMs.toDouble,
      "catalyst.optimization_ms" -> p.spark0.optimizationMs.toDouble,
      "catalyst.planning_ms" -> p.spark0.planningMs.toDouble,
      "catalyst.executions" -> p.spark0.executions.toDouble,
      "fs.bytes_written" -> p.fs.getOrElse("bytesWritten", 0L).toDouble,
      "fs.bytes_read" -> p.fs.getOrElse("bytesRead", 0L).toDouble,
      "ops.traced" -> allOps.size.toDouble,
      "ops.self_s" -> allOps.map(ix.selfNs).sum / 1e9)
  }
}
