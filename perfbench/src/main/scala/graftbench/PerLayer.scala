package graftbench

/** The per-layer metric set of the traced run. Every workload prints
 *  all of them; a layer a workload leaves idle reads 0. The names and
 *  units here must match `per_layer` in BENCHMARK.json. */
object PerLayer {
  val routeFamilies: Seq[String] = Seq("applications", "application", "jobs", "stages",
    "executors", "environment", "resource_hogs", "efficiency", "capacity_trends",
    "cost_optimization", "health")

  val generic: Seq[(String, String)] = Seq(
    "self_ms" -> "ms", "jobs" -> "count", "tasks" -> "count", "task_cpu_ms" -> "ms",
    "shuffle_bytes" -> "B", "spill_bytes" -> "B", "input_bytes" -> "B",
    "output_bytes" -> "B", "driver_gap_ms" -> "ms")

  val specific: Seq[(String, String)] = Seq(
    "sources.list_ms" -> "ms", "sources.files_listed" -> "count",
    "events.parse_ms" -> "ms", "events.rows_out" -> "count",
    "events.lines_dropped" -> "count", "events.task_rows_null_stage" -> "count",
    "events.apps_split" -> "count",
    "sources.store_write_ms" -> "ms", "sources.store_files" -> "count",
    "sources.store_bytes" -> "B", "sources.ingest_overhead_ms" -> "ms",
    "sources.tail_read_per_appended" -> "ratio", "sources.tail_commit_late_ms" -> "ms") ++
    routeFamilies.map(r => s"analytics.${r}_ms" -> "ms") ++ Seq(
    "analytics.jobs_per_request" -> "count",
    "api.overhead_p50_ms" -> "ms", "api.generator_late_p90_ms" -> "ms",
    "pipeline.curate_ms" -> "ms", "pipeline.dedup_ms" -> "ms",
    "pipeline.cluster_ms" -> "ms", "pipeline.pairs_out" -> "count",
    "pipeline.docs_kept_ratio" -> "ratio",
    "streaming.exact_ms" -> "ms", "streaming.ngram_ms" -> "ms",
    "streaming.cluster_ms" -> "ms", "streaming.trigger_late_ms" -> "ms",
    "streaming.pairs_per_trigger" -> "count",
    "streaming.admitted_ratio" -> "ratio", "streaming.state_rows" -> "count",
    "streaming.state_files" -> "count", "streaming.state_bytes" -> "B",
    "trace.op_p50_ms" -> "ms", "trace.spans" -> "count")

  def all: Seq[(String, String)] =
    Trace.Modules.flatMap(m => generic.map { case (c, u) => s"$m.$c" -> u }) ++ specific

  /** Print every per-layer metric: the module sums from the tracer, then
   *  the workload's own measurements; anything not measured is 0. */
  def emit(report: Report, tracer: Tracer, measured: Map[String, Double]): Unit = {
    val sums = tracer.moduleMetrics(Trace.Modules) + ("trace.spans" -> tracer.allSpans.size.toDouble)
    all.foreach { case (name, unit) =>
      val v = measured.get(name).orElse(sums.get(name)).getOrElse(0.0)
      report.metric(name, v, unit)
    }
  }
}
