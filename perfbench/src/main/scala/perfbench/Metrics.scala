package perfbench

/** Names and units of every metric the benchmark prints on its last
  * line; `BENCHMARK.json` lists the same names. */
object Metrics {
  /** Printed with `--trace 0`. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "ops_per_s" -> "1/s", "cycle_ms" -> "ms",
    "peak_rss_mb" -> "MB")

  /** Operation classes; per-class job attribution is printed for each. */
  val Classes: Seq[String] =
    Seq("mr", "commit", "delete", "epoch", "maint", "scan", "lookup", "meta", "feed")

  /** Layers whose self time the traced run reports. */
  val Layers: Seq[String] =
    Seq("bench", "core", "cowtable", "plans", "streaming", "catalyst", "spark")

  /** Printed with `--trace 1`. A metric of a layer that the workload
    * does not exercise reads 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "core.shuffle_ms" -> "ms", "core.run_ms" -> "ms", "core.export_ms" -> "ms",
    "core.import_ms" -> "ms", "core.combine_ratio" -> "ratio",
    "core.partition_ns_per_key" -> "ns",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.outside_job_ms" -> "ms", "spark.task_run_ms" -> "ms",
    "spark.task_cpu_ms" -> "ms", "spark.gc_ms" -> "ms",
    "spark.sched_delay_ms" -> "ms", "spark.slot_busy_ratio" -> "ratio",
    "spark.shuffle_write_bytes" -> "bytes", "spark.shuffle_read_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "spark.input_bytes" -> "bytes",
    "spark.output_bytes" -> "bytes",
    "catalyst.plan_ms" -> "ms",
    "cowtable.merge_ms" -> "ms", "cowtable.upsert_mor_ms" -> "ms",
    "cowtable.delete_ms" -> "ms", "cowtable.compact_ms" -> "ms",
    "cowtable.vacuum_ms" -> "ms", "cowtable.expire_ms" -> "ms",
    "cowtable.files_rewritten" -> "count",
    "cowtable.rewrite_useful_ratio" -> "ratio",
    "cowtable.metadata_bytes" -> "bytes", "cowtable.live_dv_runs" -> "count",
    "cowtable.prune_ms" -> "ms", "cowtable.files_kept_ratio" -> "ratio",
    "cowtable.bloom_skip_ratio" -> "ratio",
    "cowtable.lookup_useful_ratio" -> "ratio",
    "cowtable.meta_zero_job_ratio" -> "ratio", "cowtable.feed_ms" -> "ms",
    "plans.files_read" -> "count", "plans.pushdown_ratio" -> "ratio",
    "streaming.epoch_ms" -> "ms", "streaming.add_batch_ms" -> "ms",
    "streaming.planning_ms" -> "ms", "streaming.wal_ms" -> "ms",
    "streaming.jobs_per_epoch" -> "count", "streaming.state_rows" -> "count",
    "storage.bytes_written" -> "bytes", "storage.table_bytes" -> "bytes",
    "storage.live_bytes" -> "bytes", "storage.files_on_disk" -> "count",
    "storage.files_live" -> "count",
    "jvm.gc_ms" -> "ms", "jvm.heap_peak_mb" -> "MB",
    "setup.session_s" -> "s", "setup.generate_s" -> "s",
    "setup.fixture_s" -> "s", "setup.warmup_s" -> "s",
    "trace.overhead_ms" -> "ms", "trace.overhead_ratio" -> "ratio",
    "trace.spans" -> "count") ++
    Layers.map(l => s"self_ms.$l" -> "ms") ++
    Classes.flatMap(c => Seq(s"spark.jobs.$c" -> "count",
      s"spark.outside_job_ms.$c" -> "ms"))
}
