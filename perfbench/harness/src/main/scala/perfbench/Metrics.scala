package perfbench

/** Every metric a run reports, with its unit. An untraced run prints the
  * end-to-end list, a traced run the per-layer list; a per-layer metric a
  * workload does not exercise reads 0 there. */
object Metrics {
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "first_pass_s" -> "s", "pass_s" -> "s", "ok_frac" -> "frac")

  val perLayer: Seq[(String, String)] =
    Seq(
      "prewarm.relational_s" -> "s", "prewarm.jobs" -> "count", "prewarm.cache_mb" -> "MB",
      "queries.build_s" -> "s", "queries.build_jobs" -> "count",
      "queries.query_p50_s" -> "s", "queries.query_p90_s" -> "s",
      "plans.plan_s" -> "s",
      "exec.exec_s" -> "s", "exec.jobs" -> "count", "exec.stages" -> "count",
      "exec.tasks" -> "count", "exec.s_per_job" -> "s", "exec.task_cpu_s" -> "s",
      "exec.shuffle_write_mb" -> "MB", "exec.shuffle_read_mb" -> "MB",
      "exec.spill_mb" -> "MB", "exec.gc_s" -> "s",
      "caches.leases_released" -> "count", "caches.cache_mb" -> "MB",
      "etl.load_s" -> "s", "etl.report_s" -> "s", "etl.xlsx_parse_s" -> "s",
      "etl.runner_jobs" -> "count", "etl.sink_write_s" -> "s",
      "etl.sink_rows_written" -> "count", "etl.readback_jobs" -> "count",
      "etl.readback_rows" -> "count", "etl.readback_ratio" -> "ratio",
      "etl.views_plan_s" -> "s", "etl.views_exec_s" -> "s", "etl.views_jobs" -> "count",
      "trace.overhead_s" -> "s")

  /** The metrics of one run, in declaration order, with units. */
  def select(trace: Boolean, values: Map[String, Double]): Seq[(String, Double, String)] = {
    val declared = if (trace) perLayer else endToEnd
    val unknown = values.keySet -- declared.map(_._1)
    require(unknown.isEmpty, s"undeclared metrics: ${unknown.mkString(", ")}")
    declared.map { case (n, unit) =>
      (n, if (trace) values.getOrElse(n, 0.0) else values(n), unit)
    }
  }
}
