"""Metric names and units: the end-to-end metrics every untraced run
prints, and the per-layer metrics every traced run prints. BENCHMARK.json
lists the same names (checked by perfbench/tests/test_metrics.py)."""

from __future__ import annotations

# one query set spanning the three batch families: log parsing
# (logparse_fast), curation operators (operators.*, with minhash's
# localCheckpoint) and TPC-H/window SQL (gates.tpch, relational, windows,
# events_ts). x_text_profile, x_html_extract, x_dedup_paragraphs,
# x_training_shuffle, j2 and ts_sessionize are the queries `count()` used
# to collapse. Kept to nine so that a check pass, a warm-up pass and a
# timed pass fit one run of the benchmark's time budget.
BATCH_QUERIES = (
    "x_parse_suite",
    "x_text_profile", "x_html_extract", "x_dedup_paragraphs",
    "x_training_shuffle", "x_minhash_lsh_candidates",
    "q8_market_share", "j2_left_join_counts", "ts_sessionize",
)
READ_TOOLS = (
    "query_events", "history_with_counts", "report_data", "ci_check",
    "get_output", "fingerprint_history", "sql", "count_then_fetch",
)

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
}

PER_LAYER = {
    "session.start_s": "s",
    "session.warm_s": "s",
    "session.seed_s": "s",
    "fail_ratio": "ratio",
    "op_p50_ms": "ms",
    "peak_rss_mb": "MB",
    "tracing_overhead_pct": "%",
    "ingest_p50_ms": "ms",
    "ingest_tail_ms": "ms",
    "read_p50_ms": "ms",
    "read_tail_ms": "ms",
    "op_tail_ms": "ms",
    "store_bytes_per_log_byte": "ratio",
    "execution.run_command_ms": "ms",
    "logparse.parse_content_ms": "ms",
    "store.append_run_ms": "ms",
    "store.attempt_ms": "ms",
    "store.write_output_ms": "ms",
    "store.spark_jobs_per_ingest": "count",
    "store.files_per_ingest": "count",
    "store.events_files": "count",
    "store.bytes_on_disk_mb": "MB",
    **{f"services.{t}_p50_ms": "ms" for t in READ_TOOLS},
    "services.spark_jobs_per_read": "count",
    "plans.build_ms": "ms",
    **{
        f"q.{q}.{part}": "s"
        for q in BATCH_QUERIES
        for part in ("build_s", "exec_s", "task_s")
    },
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.task_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.input_mb": "MB",
}
