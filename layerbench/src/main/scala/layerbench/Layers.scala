package layerbench

/** The per-layer metric catalogue (the `per_layer` list of
  * `BENCHMARK.json`). Each metric is tagged with the end-to-end metric
  * it should move and the workloads on which it should move it.
  */
object Layers {

  final case class LayerMetric(name: String, unit: String, better: String,
      moves: String, on: Seq[String])

  private val sql = "sql_star"
  private val read = "pipeline_read"
  private val ingest = "pipeline_ingest"
  private val agent = "agent_runtime"
  private val all = Seq(sql, read, ingest, agent)

  private def m(name: String, unit: String, better: String, moves: String, on: String*) =
    LayerMetric(name, unit, better, moves, on)

  val PerLayer: Seq[LayerMetric] = Seq(
    m("core.session_s", "s", "lower", "setup_s", all: _*),
    m("core.open_s", "s", "lower", "setup_s", all: _*),
    m("sql.gate_s", "s", "lower", "op_p50_s", sql),
    m("sql.plan_s", "s", "lower", "op_p50_s", sql),
    m("sql.exec_s", "s", "lower", "op_p50_s", sql),
    m("sql.scanned_bytes", "B", "lower", "op_p50_s", sql),
    m("sql.rejected", "count", "higher", "ok_frac", sql),
    m("io.csv_read_s", "s", "lower", "op_tail_s", sql),
    m("io.excel_read_s", "s", "lower", "op_tail_s", sql),
    m("spark.jobs_per_op", "count", "lower", "op_p50_s", sql, agent),
    m("spark.stages_per_op", "count", "lower", "op_p50_s", sql, agent),
    m("spark.tasks_per_op", "count", "lower", "op_p50_s", sql, agent),
    m("spark.sched_delay_s", "s", "lower", "op_p50_s", sql, agent),
    m("spark.driver_only_s", "s", "lower", "op_p50_s", sql, agent),
    m("spark.executor_run_s", "s", "lower", "cpu_s_per_op", read, ingest),
    m("spark.executor_cpu_s", "s", "lower", "cpu_s_per_op", read, ingest),
    m("spark.gc_s", "s", "lower", "cpu_s_per_op", read, ingest),
    m("spark.cpu_busy_frac", "ratio", "higher", "cpu_s_per_op", read, ingest),
    m("spark.shuffle_write_bytes", "B", "lower", "op_tail_s", read),
    m("spark.shuffle_read_bytes", "B", "lower", "op_tail_s", read),
    m("spark.spill_bytes", "B", "lower", "op_tail_s", read),
    m("spark.input_bytes", "B", "lower", "op_p50_s", sql),
    m("spark.output_bytes", "B", "lower", "index_bytes_per_doc", ingest),
    m("spark.failed_tasks", "count", "lower", "ok_frac", all: _*),
    m("spark.block_store_bytes", "B", "lower", "peak_rss_mb", read, ingest),
    m("operators.index_build_s", "s", "lower", "setup_s", read),
    m("operators.memo_hit_ratio", "ratio", "higher", "cpu_s_per_op", read, ingest),
    m("operators.lsh_candidates", "count", "lower", "cpu_s_per_op", read, ingest),
    m("operators.verified_pairs", "count", "higher", "cpu_s_per_op", read, ingest),
    m("operators.pair_precision", "ratio", "higher", "cpu_s_per_op", read, ingest),
    m("operators.append_s", "s", "lower", "op_p50_s", ingest),
    m("operators.incremental_dedup_s", "s", "lower", "op_p50_s", ingest),
    m("operators.index_files", "count", "lower", "index_bytes_per_doc", ingest),
    m("operators.index_bytes", "B", "lower", "index_bytes_per_doc", ingest),
    m("operators.multimodal.dhash_us", "us", "lower", "cpu_s_per_op", read),
    m("operators.multimodal.audio_hash_us", "us", "lower", "cpu_s_per_op", read),
    m("operators.multimodal.container_walk_us", "us", "lower", "cpu_s_per_op", read),
    m("operators.multimodal.video_keyframes_us", "us", "lower", "cpu_s_per_op", read),
    m("expr.parse_s", "s", "lower", "op_p50_s", agent),
    m("expr.compile_s", "s", "lower", "op_p50_s", agent),
    m("graph.run_s", "s", "lower", "op_p50_s", agent),
    m("graph.steps_per_run", "count", "lower", "op_p50_s", agent),
    m("graph.jobs_per_run", "count", "lower", "op_p50_s", agent),
    m("graph.checkpoint_s", "s", "lower", "op_tail_s", agent),
    m("streaming.publish_s", "s", "lower", "op_p50_s", agent),
    m("streaming.flush_s", "s", "lower", "op_p50_s", agent),
    m("streaming.microbatches", "count", "lower", "op_p50_s", agent),
    m("streaming.delivery_ratio", "ratio", "higher", "ok_frac", agent),
    m("streaming.wait_for_s", "s", "lower", "op_tail_s", agent),
    m("streaming.queue_wait_s", "s", "lower", "op_tail_s", agent),
    m("bench.generator_lag_s", "s", "lower", "op_tail_s", agent),
    // self time per layer, per op: where op time goes, layer by layer
    m("self.core_s", "s", "lower", "op_p50_s", all: _*),
    m("self.sql_s", "s", "lower", "op_p50_s", sql),
    m("self.io_s", "s", "lower", "op_tail_s", sql),
    m("self.operators_s", "s", "lower", "op_p50_s", read, ingest),
    m("self.expr_s", "s", "lower", "op_p50_s", agent),
    m("self.graph_s", "s", "lower", "op_p50_s", agent),
    m("self.streaming_s", "s", "lower", "op_p50_s", agent),
    m("self.unattributed_s", "s", "lower", "op_p50_s", all: _*),
    m("trace.unattributed_frac", "ratio", "lower", "op_p50_s", all: _*),
    m("trace.overhead_frac", "ratio", "lower", "op_p50_s", all: _*))
}
