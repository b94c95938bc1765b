package perfbench

import org.apache.spark.sql.streaming.StreamingQueryProgress

/** The per-layer metric set. Every traced run reports every name; a layer
  * a workload does not touch reads 0.
  */
object Layers {
  val AnalyticsFamilies = Seq("Relational", "TextOps", "Dedup", "Similarity")

  def names(queries: Seq[String]): Seq[String] = Seq(
    "ml.train_s_p50", "ml.recommend_s_p50",
    "streaming.trigger_ms_p50", "streaming.trigger_ms_p99",
    "streaming.addBatch_ms_p50", "streaming.queryPlanning_ms_p50",
    "streaming.walCommit_ms_p50", "streaming.commitOffsets_ms_p50",
    "streaming.getBatch_ms_p50", "streaming.latestOffset_ms_p50",
    "streaming.triggers", "streaming.rows_per_trigger_p50",
    "streaming.state_rows_total", "streaming.state_memory_bytes",
    "streaming.state_commit_ms", "streaming.backlog_rows_end",
    "streaming.decode_s_p50",
    "generator.lag_ms_p99", "generator.sent",
    "query.construct_s", "query.plan_s", "query.exec_s", "query.sort_s",
    "Fx.materialize_jobs", "Fx.materialize_s",
    "sources.write_s", "sources.read_s", "sources.output_bytes",
    "sources.scratch_peak_mb",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes", "spark.input_bytes", "spark.spill_bytes",
    "spark.task_cpu_s", "spark.gc_s",
    "jvm.gc_s", "jvm.heap_peak_mb", "trace_overhead") ++
    AnalyticsFamilies.map(f => s"operators.${f}_s") ++
    queries.map(q => s"q.${q}_s")

  /** Trigger phases, trigger counts and state-store figures from the
    * progress reports of one or more streaming queries.
    */
  def streaming(ps: Seq[StreamingQueryProgress]): Map[String, Double] = {
    def phase(p: StreamingQueryProgress, k: String): Option[Double] =
      Option(p.durationMs.get(k)).map(_.doubleValue)
    def p50(k: String) = Stats.median(ps.flatMap(phase(_, k)))
    val triggers = ps.flatMap(phase(_, "triggerExecution"))
    // state held at the end of each query run: its last report
    val lastPerRun = ps.groupBy(_.runId).values.map(_.maxBy(_.batchId)).toSeq
    Map(
      "streaming.trigger_ms_p50" -> Stats.median(triggers),
      "streaming.trigger_ms_p99" -> Stats.pct(triggers, 99),
      "streaming.addBatch_ms_p50" -> p50("addBatch"),
      "streaming.queryPlanning_ms_p50" -> p50("queryPlanning"),
      "streaming.walCommit_ms_p50" -> p50("walCommit"),
      "streaming.commitOffsets_ms_p50" -> p50("commitOffsets"),
      "streaming.getBatch_ms_p50" -> p50("getBatch"),
      "streaming.latestOffset_ms_p50" -> p50("latestOffset"),
      "streaming.triggers" -> triggers.size.toDouble,
      "streaming.rows_per_trigger_p50" -> Stats.median(ps.map(_.numInputRows.toDouble)),
      "streaming.state_rows_total" ->
        lastPerRun.flatMap(_.stateOperators).map(_.numRowsTotal.toDouble).sum,
      "streaming.state_memory_bytes" ->
        lastPerRun.flatMap(_.stateOperators).map(_.memoryUsedBytes.toDouble).sum,
      "streaming.state_commit_ms" ->
        ps.flatMap(_.stateOperators).map(_.commitTimeMs.toDouble).sum)
  }

  /** Engine-wide counters summed over the given units. */
  def spark(cs: Seq[Counters]): Map[String, Double] = {
    def sum(f: Counters => java.util.concurrent.atomic.AtomicLong) =
      cs.map(c => f(c).get.toDouble).sum
    Map(
      "spark.jobs" -> sum(_.jobs), "spark.stages" -> sum(_.stages),
      "spark.tasks" -> sum(_.tasks),
      "spark.shuffle_read_bytes" -> sum(_.shuffleRead),
      "spark.shuffle_write_bytes" -> sum(_.shuffleWrite),
      "spark.input_bytes" -> sum(_.input), "spark.spill_bytes" -> sum(_.spill),
      "spark.task_cpu_s" -> sum(_.cpuNs) / 1e9, "spark.gc_s" -> sum(_.gcMs) / 1e3,
      "sources.output_bytes" -> sum(_.output),
      "Fx.materialize_jobs" -> sum(_.fxJobs), "Fx.materialize_s" -> sum(_.fxMs) / 1e3)
  }

}
