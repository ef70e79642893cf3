package graftbench

/** Every per-layer metric a traced run prints, in print order, with its
  * unit. Each workload fills the ones its operations exercise; the rest
  * stay 0, which is itself the prediction for that layer on that workload.
  * Times and counts are per operation of the layer (per commit, per read
  * of that type, per service cycle, per gate or query batch) unless the
  * name says otherwise; `spark.*` and `jvm.*` cover the whole traced
  * segment. BENCHMARK.json lists the same names. */
object Layers {
  val ReadTypes = Seq("snapshot", "lookup", "partition", "read_optimized",
    "incremental", "time_travel", "sql_lookup")
  val Kernels = Seq("shingle_hashes", "minhash", "lsh_buckets", "simhash64",
    "ivf_nearest", "pq_adc_score", "float_dot", "norm", "fingerprint",
    "char_entropy")

  val names: Seq[(String, String)] = Seq(
    "streaming.source_s" -> "s",
    "streaming.write_s" -> "s",
    "streaming.housekeeping_s" -> "s",
    "streaming.service_drain_s" -> "s",
    "table.write.pin_s" -> "s",
    "table.write.tag_s" -> "s",
    "table.write.counts_s" -> "s",
    "table.write.stage_s" -> "s",
    "table.write.unlabeled_s" -> "s",
    "table.write.jobs" -> "count",
    "table.write.tasks" -> "count",
    "table.write.task_s" -> "s",
    "table.write.shuffle_bytes" -> "bytes",
    "table.write.files_written" -> "count",
    "table.write.bytes_per_input_byte" -> "ratio",
    "table.write.tag_rows_read_per_input_row" -> "ratio",
    "table.write.tag_hit_ratio" -> "ratio",
    "table.meta.load_s" -> "s",
    "table.meta.slices_s" -> "s",
    "table.meta.active_instants" -> "count",
    "table.meta.file_groups" -> "count") ++
    ReadTypes.flatMap(t => Seq(
      s"table.read.$t.plan_s" -> "s",
      s"table.read.$t.exec_s" -> "s",
      s"table.read.$t.jobs" -> "count",
      s"table.read.$t.files_read" -> "count",
      s"table.read.$t.rows_scanned_per_row_returned" -> "ratio")) ++ Seq(
    "table.read.logs_per_slice" -> "ratio",
    "catalog.sql_lookup.plan_s" -> "s",
    "table.service.compaction_s" -> "s",
    "table.service.bytes_rewritten" -> "bytes",
    "table.service.clean_s" -> "s",
    "table.service.files_deleted" -> "count") ++
    Kernels.map(k => s"functions.$k.rows_per_s" -> "1/s") ++ Seq(
    "pipeline.gate.jobs" -> "count",
    "pipeline.gate.task_s" -> "s",
    "pipeline.gate.shuffle_bytes" -> "bytes",
    "pipeline.ann.jobs" -> "count",
    "pipeline.ann.task_s" -> "s",
    "pipeline.ann.rows_scanned_per_query" -> "ratio",
    "pipeline.ann.index_build_s" -> "s",
    "spark.jobs" -> "count",
    "spark.tasks" -> "count",
    "spark.task_s" -> "s",
    "spark.core_utilization" -> "ratio",
    "spark.driver_gap_s" -> "s",
    "spark.shuffle_write_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes",
    "spark.persisted_rdds_end" -> "count",
    "jvm.gc_s" -> "s",
    "harness.session_s" -> "s",
    "harness.warmup_s" -> "s",
    "trace.untraced_op_p50_ms" -> "ms",
    "trace.traced_op_p50_ms" -> "ms",
    "trace.overhead_op_p50_frac" -> "ratio",
    "trace.overhead_ops_per_s_frac" -> "ratio")
}
