package perfbench

/** Every per-layer metric a traced run reports, with its unit. A layer
  * a workload leaves idle reports 0. */
object PerLayer {
  val names: Seq[(String, String)] = Seq(
    "sources.latest_offset_ms" -> "ms",
    "sources.client_calls_per_trigger" -> "count",
    "sources.scan_amplification" -> "ratio",
    "sources.records_behind" -> "count",
    "streaming.add_batch_ms" -> "ms",
    "streaming.query_planning_ms" -> "ms",
    "streaming.commit_ms" -> "ms",
    "streaming.state_rows" -> "count",
    "streaming.state_bytes" -> "bytes",
    "streaming.sink_puts" -> "count",
    "streaming.sink_records_per_put" -> "count",
    "streaming.sink_retries" -> "count",
    "streaming.ledger_ops" -> "count",
    "streaming.ledger_ms" -> "ms",
    "streaming.dups_dropped_ratio" -> "ratio",
    "ops.jobs" -> "count",
    "ops.stages" -> "count",
    "ops.tasks" -> "count",
    "ops.cpu_s" -> "s",
    "ops.run_s" -> "s",
    "ops.shuffle_bytes" -> "bytes",
    "ops.spill_bytes" -> "bytes",
    "plans.planning_ms" -> "ms",
    "plans.exchanges" -> "count",
    "llm.jobs" -> "count",
    "llm.cpu_s" -> "s",
    "llm.shuffle_bytes" -> "bytes",
    "llm.builds" -> "count",
    "serve.relational_s" -> "s",
    "serve.llm_s" -> "s",
    "serve.build_s" -> "s",
    "serve.passes" -> "count",
    "serve.pass_drift_ratio" -> "ratio",
    "ingest.gen_late_ms" -> "ms",
    "ingest.local1_drain_rps" -> "1/s",
    "trace.self_sources_ms" -> "ms",
    "trace.self_streaming_ms" -> "ms",
    "trace.self_ops_ms" -> "ms",
    "trace.self_llm_ms" -> "ms",
    "trace.self_plans_ms" -> "ms",
    "trace.self_spark_ms" -> "ms",
    "trace.spans" -> "count"
  ) ++ Serve.Relational.map(q => s"ops.${Serve.short(q)}_s" -> "s") ++
    Serve.Llm.map(q => s"llm.${Serve.short(q)}_s" -> "s") ++
    BuildTags.map(t => s"llm.build_s.$t" -> "s") ++
    Overhead.map(m => s"trace.overhead_$m" -> Main.unitOf(m))

  /** ModelCache artifact tags the serve panel builds. */
  lazy val BuildTags: Seq[String] =
    Seq("dup-gram-keepers", "lsh-bands", "lsh-pairs", "neardup-labels")

  /** End-to-end metrics whose tracing overhead a traced run reports:
    * those of the timed phase. Both passes of a traced run share one
    * JVM, so the second starts warm and its set-up time is not
    * comparable with the first's. */
  lazy val Overhead: Seq[String] = Seq("throughput_rps", "latency_p50_ms", "latency_p99_ms")
}
