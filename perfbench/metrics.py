"""Metric declarations and the layer-to-metric map.

``BENCHMARK.json`` lists the same names, units and directions; a test
keeps the two in step. Every workload prints every metric: a layer the
workload does not run reads 0 (the prediction there is "no change").
"""

from __future__ import annotations

# (name, unit, better, bound): what a user of the engine sees. Each
# workload has one interactive op kind (queries) and one batch op kind:
#   ingest_search: filtered top-k queries; durable appends (save + load)
#   dedup_serve:   queries served by the stream; whole dedup passes
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("query_p50_s", "s", "lower", 0.25),
    ("batch_p50_s", "s", "lower", 0.25),
    ("peak_rss_mb", "MB", "lower", 0.1),
]

# (name, unit, better, end-to-end metric it should move, workloads).
PER_LAYER = [
    ("session.start_s", "s", "lower", "setup_s", "all"),
    ("store.from_df_s", "s", "lower", "setup_s batch_p50_s", "all"),
    ("store.save_s", "s", "lower", "setup_s batch_p50_s", "all"),
    ("store.load_s", "s", "lower", "setup_s batch_p50_s", "all"),
    ("store.append_s", "s", "lower", "batch_p50_s", "ingest_search"),
    ("store.remove_s", "s", "lower", "query_p50_s", "ingest_search"),
    ("store.files", "count", "lower", "query_p50_s", "ingest_search"),
    ("store.row_groups", "count", "lower", "query_p50_s", "ingest_search"),
    ("store.bytes", "B", "lower", "peak_rss_mb", "all"),
    ("store.space_amp", "ratio", "lower", "query_p50_s", "all"),
    ("expr.compile_s", "s", "lower", "query_p50_s", "ingest_search"),
    ("plan.build_s", "s", "lower", "query_p50_s", "ingest_search"),
    ("plan.driver_s", "s", "lower", "query_p50_s", "ingest_search"),
    ("plan.jobs", "count", "lower", "query_p50_s", "ingest_search"),
    ("plan.stages", "count", "lower", "query_p50_s", "ingest_search"),
    ("plan.tasks", "count", "lower", "query_p50_s", "ingest_search"),
    ("plan.execute_s.prunable", "s", "lower", "query_p50_s", "ingest_search"),
    ("plan.execute_s.selective", "s", "lower", "query_p50_s", "ingest_search"),
    ("plan.execute_s.unfiltered", "s", "lower", "query_p50_s", "ingest_search"),
    ("plan.chunks_pruned_frac", "ratio", "higher", "query_p50_s", "ingest_search"),
    ("plan.prune_task_s", "s", "lower", "query_p50_s", "ingest_search"),
    ("plan.rows_scored_frac", "ratio", "lower", "query_p50_s", "ingest_search"),
    ("plan.result_yield", "ratio", "higher", "query_p50_s", "ingest_search"),
    ("plan.score_task_s", "s", "lower", "query_p50_s", "ingest_search"),
    ("plan.merge_task_s", "s", "lower", "query_p50_s", "ingest_search"),
    ("vector.pairs_scored", "count", "lower", "query_p50_s", "all"),
    ("vector.pairs_per_cpu_s", "1/s", "higher", "query_p50_s", "all"),
    ("serve.trigger_s", "s", "lower", "query_p50_s", "dedup_serve"),
    ("serve.add_batch_s", "s", "lower", "query_p50_s", "dedup_serve"),
    ("serve.overhead_s", "s", "lower", "query_p50_s", "dedup_serve"),
    ("serve.queries_per_trigger", "count", "higher", "query_p50_s", "dedup_serve"),
    ("serve.triggers", "count", "lower", "query_p50_s", "dedup_serve"),
    ("topk.shuffle_records", "count", "lower", "query_p50_s", "dedup_serve"),
    ("dedup.signatures_s", "s", "lower", "batch_p50_s", "dedup_serve"),
    ("dedup.candidates_s", "s", "lower", "batch_p50_s", "dedup_serve"),
    ("dedup.verify_s", "s", "lower", "batch_p50_s", "dedup_serve"),
    ("dedup.cc_s", "s", "lower", "batch_p50_s", "dedup_serve"),
    ("dedup.cc_jobs", "count", "lower", "batch_p50_s", "dedup_serve"),
    ("dedup.candidates", "count", "lower", "batch_p50_s", "dedup_serve"),
    ("dedup.verified_pairs", "count", "higher", "batch_p50_s", "dedup_serve"),
    ("dedup.verify_yield", "ratio", "higher", "batch_p50_s", "dedup_serve"),
    ("dedup.kept_docs", "count", "lower", "batch_p50_s", "dedup_serve"),
    ("dedup.docs_per_s", "1/s", "higher", "batch_p50_s", "dedup_serve"),
    ("spark.executor_cpu_s", "s", "lower", "query_p50_s", "all"),
    ("spark.executor_run_s", "s", "lower", "query_p50_s", "all"),
    ("spark.gc_s", "s", "lower", "query_p50_s", "all"),
    ("spark.input_bytes", "B", "lower", "query_p50_s", "all"),
    ("spark.shuffle_write_bytes", "B", "lower", "query_p50_s", "all"),
    ("spark.fetch_wait_s", "s", "lower", "query_p50_s", "all"),
    ("harness.cpu_s_per_op", "s", "lower", "none (contention check)", "all"),
    ("harness.steal_s", "s", "lower", "none (health)", "all"),
    ("harness.load_avg", "count", "lower", "none (health)", "all"),
    ("harness.steady_ops_frac", "ratio", "higher", "none (health)", "all"),
    ("harness.trace_overhead.query_p50_s", "ratio", "lower", "none (health)", "all"),
    ("harness.trace_overhead.batch_p50_s", "ratio", "lower", "none (health)", "all"),
]

END_TO_END_UNITS = {name: unit for name, unit, _, _ in END_TO_END}
