package graft.perfbench

/** Every per-layer metric a traced run reports, on every workload (zero
  * where the workload does not touch the layer). Keep in step with
  * `BENCHMARK.json`; `perfbench/test_smoke.py` checks that they match. */
object Layers {
  /** span layer -> its self-time metric */
  val selfNames: Seq[(String, String)] = Seq(
    "FeatureStore" -> "FeatureStore.self_s",
    "streaming.Pipeline" -> "streaming.Pipeline.self_s",
    "sources.KvStore" -> "sources.KvStore.self_s",
    "ops" -> "ops.self_s",
    "registry" -> "registry.self_s")

  val all: Seq[(String, String)] = Seq(
    "FeatureStore.historical_s" -> "s",
    "FeatureStore.online_plan_ms" -> "ms",
    "FeatureStore.online_exec_ms" -> "ms",
    "streaming.Pipeline.flagship_batch_ms" -> "ms",
    "streaming.Pipeline.upsert_snapshot_ms" -> "ms",
    "streaming.Pipeline.bytes_written_per_input_byte" -> "ratio",
    "sources.KvStore.upsert_ms" -> "ms",
    "sources.KvStore.get_us" -> "us",
    "sources.KvStore.get_p99_us" -> "us",
    "sources.KvStore.disk_bytes_per_key" -> "bytes",
    "sources.KvStore.live_keys_per_row_offered" -> "ratio",
    "ops.WindowAgg.finalize_s" -> "s") ++
    graft.registry.Shared.artifactBuilders.map { case (n, _) => s"registry.Shared.${n}_s" -> "s" } ++
    RegistryCold.Slices.map { case (s, _) => s"registry.${s}_s" -> "s" } ++
    Seq("spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
      "spark.executor_run_s" -> "s", "spark.executor_cpu_s" -> "s",
      "spark.jvm_gc_s" -> "s", "spark.shuffle_read_bytes" -> "bytes",
      "spark.shuffle_write_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
      "spark.peak_exec_mem_bytes" -> "bytes", "spark.driver_only_s" -> "s",
      "loadgen.late_p99_us" -> "us") ++
    selfNames.map { case (_, m) => m -> "s" } ++
    Seq("trace.spans" -> "count", "trace.op_p50_ms" -> "ms")
}
