package perfbench

/** The per-layer metrics a traced run reports. Every workload reports every
  * name; a layer the workload does not touch reads 0. */
object Layers {

  val pipelineOps: Seq[String] =
    Seq("curate", "minhash_pairs", "semantic_survivors", "quality_classifier")

  val all: Seq[(String, String)] = Seq(
    "promql.parse_ms" -> "ms",
    "promql.plan_ms" -> "ms",
    "promql.budget_ms" -> "ms",
    "promql.budget_jobs" -> "count",
    "catalyst.analysis_ms" -> "ms",
    "catalyst.optimization_ms" -> "ms",
    "catalyst.planning_ms" -> "ms",
    "exec.wall_ms" -> "ms",
    "exec.task_cpu_ms" -> "ms",
    "exec.task_run_ms" -> "ms",
    "exec.gc_ms" -> "ms",
    "exec.jobs" -> "count",
    "exec.stages" -> "count",
    "exec.tasks" -> "count",
    "exec.shuffle_read_bytes" -> "bytes",
    "exec.shuffle_write_bytes" -> "bytes",
    "exec.spill_bytes" -> "bytes",
    "exec.input_rows" -> "count",
    "exec.rows_read_per_point" -> "ratio",
    "exec.core_busy_ratio" -> "ratio",
    "web.query_p50_ms" -> "ms",
    "web.render_ms" -> "ms",
    "web.response_bytes" -> "bytes",
    "web.remote_write.decode_ms" -> "ms",
    "web.store.append_ms" -> "ms",
    "web.store.checkpoint_ms" -> "ms",
    "web.store.partitions" -> "count",
    "web.store.plan_nodes" -> "count",
    "bench.generator_lag_ms" -> "ms") ++
    pipelineOps.flatMap { op =>
      Seq(s"pipeline.$op.build_ms" -> "ms", s"pipeline.$op.exec_ms" -> "ms",
        s"pipeline.$op.jobs" -> "count", s"pipeline.$op.shuffle_write_bytes" -> "bytes",
        s"pipeline.$op.spill_bytes" -> "bytes", s"pipeline.$op.gc_ms" -> "ms",
        s"pipeline.$op.output_rows" -> "count")
    }

  private val units = all.toMap

  /** complete the metric map: every name, 0 where not measured */
  def complete(measured: Map[String, Double]): Map[String, (Double, String)] = {
    val unknown = measured.keySet -- units.keySet
    require(unknown.isEmpty, s"unknown per-layer metrics: $unknown")
    all.map { case (n, u) => n -> ((measured.getOrElse(n, 0.0), u)) }.toMap
  }

  /** exec.* figures of a Spark-statistics sum, per operation */
  def execMetrics(s: Trace.GroupStats, ops: Long, points: Long, wallMs: Double,
      cores: Int): Map[String, Double] = {
    val n = math.max(1L, ops).toDouble
    Map(
      "catalyst.analysis_ms" -> s.analysisMs / n,
      "catalyst.optimization_ms" -> s.optimizationMs / n,
      "catalyst.planning_ms" -> s.planningMs / n,
      "exec.wall_ms" -> s.jobWallMs / n,
      "exec.task_cpu_ms" -> s.cpuNs / 1e6 / n,
      "exec.task_run_ms" -> s.runMs / n,
      "exec.gc_ms" -> s.gcMs / n,
      "exec.jobs" -> s.jobs / n,
      "exec.stages" -> s.stages / n,
      "exec.tasks" -> s.tasks / n,
      "exec.shuffle_read_bytes" -> s.shuffleRead / n,
      "exec.shuffle_write_bytes" -> s.shuffleWrite / n,
      "exec.spill_bytes" -> s.spill / n,
      "exec.input_rows" -> s.inputRows / n,
      "exec.rows_read_per_point" -> (if (points > 0) s.inputRows.toDouble / points else 0.0),
      "exec.core_busy_ratio" -> (if (wallMs > 0) s.runMs / (wallMs * cores) else 0.0))
  }

  def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}
