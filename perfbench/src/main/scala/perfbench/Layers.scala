package perfbench

/** The per-layer metrics of a traced run. Both workloads print the whole
  * list; a layer the workload bypasses reads 0.
  */
object Layers {
  val streamQueries: Seq[String] = Seq("dwd_log", "dwd_db", "dwm_uv", "dwm_order_wide",
    "dwm_payment_wide", "dws_visitor", "dws_keyword", "dws_product")

  val perQuery: Seq[(String, String)] = Seq(
    "planning_ms" -> "ms", "wal_ms" -> "ms", "add_batch_ms" -> "ms",
    "rows_per_s" -> "rows/s", "state_commit_ms" -> "ms",
    "state_rows" -> "count", "state_bytes" -> "bytes")

  val all: Seq[(String, String)] = Seq(
    "warmup_s" -> "s", "artifact_build_s" -> "s", "gc_ms" -> "ms", "jit_ms" -> "ms",
    "shuffle_partitions" -> "count", "failed_share" -> "ratio",
    "traced.latency_p50_ms" -> "ms", "trace_overhead_pct" -> "%",
    "build_ms" -> "ms", "plan_ms" -> "ms",
    "spark.driver_gap_ms" -> "ms", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_cpu_ms" -> "ms", "spark.deser_ms" -> "ms",
    "spark.shuffle_read_mb" -> "MB", "spark.shuffle_write_mb" -> "MB", "spark.spill_mb" -> "MB",
    "query.q177_s" -> "s",
    "stream.latency_p90_ms" -> "ms", "stream.latency_samples" -> "count",
    "stream.dwd_latency_p50_ms" -> "ms", "stream.dwm_latency_p50_ms" -> "ms",
    "stream.window_latency_p50_ms" -> "ms",
    "stream.drain_rows_per_s" -> "rows/s", "stream.batches" -> "count",
    "gen.offered_rows_per_s" -> "rows/s", "gen.lag_ms_max" -> "ms",
    "stream.backlog_rows_end" -> "rows") ++
    streamQueries.flatMap(q => perQuery.map { case (m, u) => s"$q.$m" -> u })

  /** Every per-layer metric, in list order, from the measured values. */
  def fill(values: Seq[(String, Double)]): Seq[Metric] = {
    val m = values.toMap
    val unknown = m.keySet -- all.map(_._1)
    require(unknown.isEmpty, s"unlisted per-layer metrics: ${unknown.mkString(", ")}")
    all.map { case (n, u) => Metric(n, m.get(n).filterNot(_.isNaN).getOrElse(0.0), u) }
  }
}
