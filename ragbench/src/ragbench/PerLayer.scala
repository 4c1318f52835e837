package ragbench

/** The per-layer metrics a traced run prints, with their units, in the
  * order BENCHMARK.json lists them. Times and counts are per operation of
  * the workload (one request of rag_serve, one pass of collection_build);
  * `_frac`, `_per_`, and `_peak` values are ratios and
  * maxima over the traced window. A layer a workload does not call reads 0.
  */
object PerLayer {
  val all: Seq[(String, String)] = Seq(
    "ingest.busy_ms" -> "ms",
    "ingest.calls" -> "count",
    "ingest.pages_extracted" -> "count",
    "ingest.pages_kept" -> "count",
    "embed.busy_ms" -> "ms",
    "embed.calls" -> "count",
    "embed.rows" -> "count",
    "index.add_ms" -> "ms",
    "index.upsert_ms" -> "ms",
    "index.delete_ms" -> "ms",
    "index.read_ms" -> "ms",
    "index.calls" -> "count",
    "index.part_files" -> "count",
    "index.bytes_per_user_byte" -> "ratio",
    "search.ann_ms" -> "ms",
    "search.sql_ms" -> "ms",
    "search.exact_ms" -> "ms",
    "search.build_ms" -> "ms",
    "search.calls" -> "count",
    "search.rows_read_per_result" -> "ratio",
    "plans.analysis_ms" -> "ms",
    "plans.optimization_ms" -> "ms",
    "plans.planning_ms" -> "ms") ++
    Tracer.TracedRules.flatMap(r => Seq(
      s"plans.rule_ms.$r" -> "ms",
      s"plans.rule_effective_frac.$r" -> "fraction")) ++ Seq(
    "plans.ann_rewrite_fired_frac" -> "fraction",
    "plans.jobs_at_plan_time" -> "count",
    "dedup.exact_ms" -> "ms",
    "dedup.minhash_ms" -> "ms",
    "dedup.ngram_ms" -> "ms",
    "dedup.clusters_ms" -> "ms",
    "dedup.candidate_pairs" -> "count",
    "dedup.confirmed_pairs" -> "count",
    "textual.quality_ms" -> "ms",
    "textual.rows" -> "count",
    "eval.recall_ms" -> "ms",
    "operators.cached_bytes_peak" -> "bytes",
    "operators.persisted_rdds_peak" -> "count",
    "spark.jobs" -> "count",
    "spark.stages" -> "count",
    "spark.tasks" -> "count",
    "spark.task_run_ms" -> "ms",
    "spark.queue_wait_ms" -> "ms",
    "spark.gc_ms" -> "ms",
    "spark.input_rows" -> "count",
    "spark.shuffle_read_bytes" -> "bytes",
    "spark.shuffle_write_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes",
    "trace.overhead_ms_per_op" -> "ms")
}
