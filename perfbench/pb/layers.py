"""The metric catalogue: end-to-end metrics (every workload, --trace 0)
and per-layer metrics (every workload, --trace 1), each per-layer one
with the end-to-end metric it should move and the workload it moves it
on. BENCHMARK.json mirrors these lists; a test keeps them in step."""

# name, unit, better, bound (share of the parent's median it may worsen)
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("op_p50_ms", "ms", "lower", 0.25),
    ("cycle_s", "s", "lower", 0.25),
    ("success_rate", "ratio", "higher", 0.01),
    ("peak_rss_mb", "MB", "lower", 0.15),
]

A, H, W = "analytics_sf001", "hfc_monthly_refresh", "web_corpus_build"
_SPARK_FLOOR = [("op_p50_ms", A), ("cycle_s", A)]
_SPARK_DATA = [("cycle_s", W), ("op_p50_ms", H)]

# name, unit, [(end-to-end metric, workload) it should move]
PER_LAYER = [
    ("spark.jobs", "count", _SPARK_FLOOR),
    ("spark.stages", "count", _SPARK_FLOOR),
    ("spark.tasks", "count", _SPARK_FLOOR),
    ("spark.job_ms", "ms", _SPARK_FLOOR),
    ("spark.gap_ms", "ms", _SPARK_FLOOR),
    ("spark.gap_frac", "ratio", _SPARK_FLOOR + [("cycle_s", W)]),
    ("spark.executor_run_ms", "ms", _SPARK_DATA),
    ("spark.executor_cpu_ms", "ms", _SPARK_DATA),
    ("spark.gc_ms", "ms", _SPARK_DATA),
    ("spark.core_busy_frac", "ratio", _SPARK_DATA),
    ("spark.scan_bytes", "bytes", _SPARK_DATA),
    ("spark.shuffle_read_bytes", "bytes", _SPARK_DATA),
    ("spark.shuffle_write_bytes", "bytes", _SPARK_DATA),
    ("spark.spill_bytes", "bytes", _SPARK_DATA),
    ("spark.output_bytes", "bytes", _SPARK_DATA),
    ("spark.failed_tasks", "count", _SPARK_DATA),
    ("queries.build_ms", "ms", [("op_p50_ms", A)]),
    ("queries.jobs_per_query", "count", [("op_p50_ms", A)]),
    ("queries.gap_ms_per_query", "ms", [("op_p50_ms", A)]),
    ("plans.plan_ms", "ms", [("op_p50_ms", A)]),
    ("hfc.normalize_ms", "ms", [("setup_s", H)]),
    ("hfc.refresh_ms", "ms", [("op_p50_ms", H)]),
    ("hfc.partitions_touched", "count", [("op_p50_ms", H)]),
    ("hfc.partitions_total", "count", [("op_p50_ms", H)]),
    ("hfc.bytes_written", "bytes", [("op_p50_ms", H)]),
    ("hfc.write_amp", "ratio", [("op_p50_ms", H)]),
    ("hfc.store_files", "count", [("cycle_s", H)]),
] + [(f"hfc.m{i}_ms", "ms", [("cycle_s", H)]) for i in range(1, 9)] + [
    ("hfc.metrics_scan_bytes", "bytes", [("cycle_s", H)]),
    ("hfc.span_frac", "ratio", [("cycle_s", H)]),
    ("sources.warc_ms", "ms", [("cycle_s", W)]),
    ("sources.warc_bytes", "bytes", [("cycle_s", W)]),
    ("sources.records", "count", [("cycle_s", W)]),
    ("sources.quarantined", "count", [("cycle_s", W)]),
    ("functions.extract_ms", "ms", [("cycle_s", W)]),
    ("functions.signature_ms", "ms", [("cycle_s", W)]),
    ("operators.quality_ms", "ms", [("cycle_s", W)]),
    ("operators.quality_kept", "count", [("cycle_s", W)]),
    ("operators.lsh_ms", "ms", [("cycle_s", W)]),
    ("operators.candidate_pairs", "count", [("cycle_s", W)]),
    ("operators.verified_pairs", "count", [("cycle_s", W)]),
    ("operators.dup_recall", "ratio", [("success_rate", W)]),
    ("operators.cc_ms", "ms", [("cycle_s", W)]),
    ("operators.cc_jobs", "count", [("cycle_s", W)]),
    ("operators.decontam_ms", "ms", [("cycle_s", W)]),
    ("operators.pack_ms", "ms", [("cycle_s", W)]),
    ("operators.store_ms", "ms", [("op_p50_ms", W)]),
    ("operators.store_rows_read", "count", [("op_p50_ms", W)]),
    ("operators.store_rows_appended", "count", [("op_p50_ms", W)]),
    ("trace.overhead_ms", "ms", []),
]

# per-layer metrics where a larger value is the better one
HIGHER = {"spark.core_busy_frac", "operators.verified_pairs", "operators.dup_recall"}
