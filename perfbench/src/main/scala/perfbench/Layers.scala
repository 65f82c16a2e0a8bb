package perfbench

/** The per-layer metrics of the traced run. Every traced run prints
  * all of them; a layer the workload never enters reads 0. */
object Layers {
  val All: Seq[(String, String)] = Seq(
    "http.request_ms" -> "ms", "http.overhead_ms" -> "ms", "http.write_ms" -> "ms",
    "promql.parse_ms" -> "ms", "promql.construct_ms" -> "ms", "promql.eager_jobs" -> "count",
    "catalyst.analysis_ms" -> "ms", "catalyst.optimization_ms" -> "ms",
    "catalyst.planning_ms" -> "ms",
    "exec.ms" -> "ms", "exec.jobs" -> "count", "exec.stages" -> "count",
    "exec.tasks" -> "count", "exec.cpu_s" -> "s", "exec.shuffle_read_bytes" -> "B",
    "exec.shuffle_write_bytes" -> "B", "exec.spill_bytes" -> "B",
    "scan.records_read" -> "count", "scan.bytes_read" -> "B", "scan.rows_per_result" -> "ratio",
    "remote_write.decode_ms" -> "ms",
    "head.union_inputs" -> "count", "head.jobs_per_write" -> "count", "head.consolidate_ms" -> "ms",
    "block_writer.ms" -> "ms", "block_writer.cpu_s" -> "s", "block_writer.shuffle_bytes" -> "B",
    "block_writer.spill_bytes" -> "B", "block_writer.bytes_written" -> "B",
    "wal_writer.ms" -> "ms", "wal_writer.cpu_s" -> "s", "wal_writer.bytes_written" -> "B",
    "datadir_read.planning_ms" -> "ms", "datadir_read.ms" -> "ms", "datadir_read.cpu_s" -> "s",
    "datadir_read.records_read" -> "count",
    "store.write_ms" -> "ms", "store.cpu_s" -> "s", "store.bytes_written" -> "B",
    "store.files" -> "count",
    "trace.overhead_ms" -> "ms", "trace.overhead_share" -> "ratio")

  /** Every per-layer metric, in order: the measured value, or 0. */
  def complete(measured: Seq[Metric]): Seq[Metric] = {
    val byName = measured.map(m => m.name -> m).toMap
    require(byName.keySet.subsetOf(All.map(_._1).toSet),
      s"unlisted metrics ${byName.keySet -- All.map(_._1)}")
    All.map { case (n, u) => byName.getOrElse(n, Metric(n, 0.0, u)) }
  }

  /** Tracing overhead: the traced phase's median latency minus the
    * untraced phase's, on the same server and the same request mix. */
  def overhead(plain: Seq[Op], traced: Seq[Op]): Seq[Metric] = {
    val p = Stats.median(plain.filter(_.ok).map(_.latencyMs))
    val t = Stats.median(traced.filter(_.ok).map(_.latencyMs))
    Seq(Metric("trace.overhead_ms", t - p, "ms"),
      Metric("trace.overhead_share", (t - p) / p, "ratio"))
  }
}

/** Per-layer metrics shared by the workloads. */
object LayerMetrics {
  def exec(works: Seq[Trace.Work]): Seq[Metric] = Seq(
    Metric("exec.ms", Stats.median(works.map(_.jobMs)), "ms"),
    Metric("exec.jobs", Stats.mean(works.map(_.jobs.toDouble)), "count"),
    Metric("exec.stages", Stats.mean(works.map(_.stages.toDouble)), "count"),
    Metric("exec.tasks", Stats.mean(works.map(_.tasks.toDouble)), "count"),
    Metric("exec.cpu_s", Stats.mean(works.map(_.cpuS)), "s"),
    Metric("exec.shuffle_read_bytes", Stats.mean(works.map(_.shuffleRead.toDouble)), "B"),
    Metric("exec.shuffle_write_bytes", Stats.mean(works.map(_.shuffleWrite.toDouble)), "B"),
    Metric("exec.spill_bytes", Stats.mean(works.map(_.spill.toDouble)), "B"))

}
