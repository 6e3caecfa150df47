package perfbench

/** Every per-layer metric a traced run prints, with its unit, in the order
  * of BENCHMARK.json's `per_layer`. A metric a workload does not touch
  * prints as 0. */
object Layers {
  private def counts(names: String*) = names.map(_ -> "count")

  private val stream: Seq[(String, String)] = Seq("ingress", "cdc").flatMap { q =>
    Seq("latest_offset_ms", "get_batch_ms", "query_planning_ms", "add_batch_ms",
      "wal_commit_ms", "commit_offsets_ms", "trigger_ms_p50", "trigger_ms_p90",
      "trigger_ms_total").map(m => s"stream.$q.$m" -> "ms") ++
      counts(s"stream.$q.batches", s"stream.$q.rows_per_batch_p50", s"stream.$q.source_lag_files")
  }

  private val sinks: Seq[(String, String)] = Seq("gps_raw", "dead_letter", "location_instances").flatMap { t =>
    Seq(s"sink.$t.write_ms" -> "ms") ++ counts(s"sink.$t.rows",
      s"sink.$t.nonempty_partitions_per_batch", s"sink.$t.replay_skips", s"sink.$t.ledger_rows")
  }

  val all: Seq[(String, String)] =
    counts("httpingress.posts", "httpingress.rejected_400", "httpingress.errors_5xx",
      "httpingress.spool_files") ++
    Seq("httpingress.spool_bytes_per_fix" -> "B", "httpingress.ack_p50_ms" -> "ms",
      "httpingress.ack_p99_ms" -> "ms") ++
    stream ++
    counts("pipeline.ok_rows", "pipeline.dead_letter_rows.malformed_json",
      "pipeline.dead_letter_rows.missing_required_fields", "pipeline.cdc_dropped_rows") ++
    Seq("pipeline.ingress.stage_ms" -> "ms", "pipeline.cdc.stage_ms" -> "ms") ++
    sinks ++
    Seq("derby.bytes_per_row" -> "B") ++
    Families.all.map(_._1).flatMap(f =>
      Seq(s"queries.$f.construct_s", s"queries.$f.plan_s", s"queries.$f.exec_s").map(_ -> "s")) ++
    counts("cachescope.shared_events", "cachescope.local_events") ++
    Seq("cachescope.drain_s" -> "s") ++ counts("cachescope.cached_ids") ++
    counts("spark.jobs", "spark.stages", "spark.tasks", "spark.single_task_stages") ++
    Seq("spark.executor_run_s" -> "s", "spark.executor_cpu_s" -> "s", "spark.core_use" -> "ratio",
      "spark.shuffle_read_bytes" -> "B", "spark.shuffle_write_bytes" -> "B",
      "spark.spill_bytes" -> "B", "spark.input_bytes" -> "B", "spark.gc_s" -> "s",
      "loadgen.offered_per_s" -> "1/s", "loadgen.late_p99_ms" -> "ms", "cdcfeed.emit_ms" -> "ms",
      "overhead.latency_p50_ms" -> "ms", "overhead.latency_tail_ms" -> "ms",
      "overhead.throughput_per_s" -> "1/s", "failed_frac" -> "ratio",
      "noise.robust_drift" -> "ratio")
}
