"""Metric names reported by every workload (BENCHMARK.json mirrors these).

End-to-end metrics are measured on every workload with tracing off.
Per-layer metrics come from the traced run; a layer a workload does not
exercise reports 0.
"""

END_TO_END = {
    "records_per_s": "1/s",
    "latency_p50_s": "s",
    "latency_p90_s": "s",
    "resume_s": "s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}

ROUTES = ("errors", "ops", "archive")
# sinks of the lineage job: the routes, a broadcast sink and quarantine
SINKS = (*ROUTES, "all", "_quarantine")

PER_LAYER = {
    "session.start_s": "s",
    "sources.scan_s": "s",
    "sources.rows": "count",
    "sources.html_bytes": "bytes",
    "sources.tasks": "count",
    "extract.self_s": "s",
    "parsers.self_s": "s",
    "parsers.plan_build_s": "s",
    "parsers.rows_in": "count",
    "parsers.rows_ok": "count",
    "parsers.ok_ratio": "ratio",
    "operators.chain_self_s": "s",
    "operators.dedup.records_per_s": "1/s",
    "operators.dedup.exact_self_s": "s",
    "operators.dedup.minhash_self_s": "s",
    "operators.dedup.candidate_pairs": "count",
    "operators.dedup.verified_pairs": "count",
    "operators.dedup.pair_yield": "ratio",
    "operators.dedup.max_bucket": "count",
    "operators.dedup.shuffle_write_bytes": "bytes",
    "operators.dedup.shuffle_read_bytes": "bytes",
    "operators.dedup.spill_bytes": "bytes",
    "plans.route_enrich_self_s": "s",
    "plans.write_task_skew": "ratio",
    "plans.build_s": "s",
    "sinks.write_routed_s": "s",
    "sinks.files_written": "count",
    "sinks.bytes_written": "bytes",
    "sinks.fan_out_s": "s",
    **{f"sinks.rows_written.{r}": "count" for r in ROUTES},
    "lineage.records_per_s": "1/s",
    "lineage.resume_s": "s",
    "lineage.plan_build_s": "s",
    "lineage.fan_out_s": "s",
    **{f"lineage.rows_written.{s}": "count" for s in SINKS},
    "lineage.trace_overhead_s": "s",
    "lineage.commit_s": "s",
    "lineage.read_s": "s",
    "lineage.resume_filter_s": "s",
    "lineage.rows_skipped": "count",
    "lineage.ranges": "count",
    "streaming.add_batch_s": "s",
    "streaming.query_planning_s": "s",
    "streaming.wal_commit_s": "s",
    "streaming.batches": "count",
    "streaming.rows_per_batch": "count",
    "streaming.backlog_files": "count",
    "loadgen.lag_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.busy_ratio": "ratio",
    "spark.task_skew": "ratio",
    "spark.gc_s": "s",
    "spark.failed_tasks": "count",
    "trace.overhead_s": "s",
    "prep_s": "s",
    "error_rate": "ratio",
}
