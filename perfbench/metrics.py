"""Metric names, units and directions; ``BENCHMARK.json`` mirrors them."""

# (name, unit, better, bound)
END_TO_END = [
    ("docs_per_s", "docs/s", "higher", 0.25),
    ("cpu_s_per_kdoc", "s", "lower", 0.25),
    ("peak_rss_mb", "MB", "lower", 0.2),
    ("setup_s", "s", "lower", 0.25),
]
# error_rate is printed beside them on every run; it is 0 whenever the run
# is correct, so it is reported through ``correct``/``failed``, not as a metric.

# (name, unit, better, in_json). Every per-layer metric is printed on every
# workload. ``in_json`` marks the ones in the result line and BENCHMARK.json:
# those measured on every workload. The rest are times or sizes of a layer
# only some workloads run, and read 0 on the others.
PER_LAYER = [
    ("kernels.charset.decode_html_us", "us", "lower", True),
    ("kernels.html.tokenize_us", "us", "lower", True),
    ("kernels.html.score_assemble_us", "us", "lower", True),
    ("kernels.png.decode_us", "us", "lower", True),
    ("kernels.jpeg.decode_us", "us", "lower", True),
    ("kernels.gif.decode_us", "us", "lower", True),
    ("kernels.ocr.normalize_strip_us", "us", "lower", True),
    ("kernels.font.recognize_us", "us", "lower", True),
    ("session.worker_boot_s", "s", "lower", False),
    ("session.worker_init_s", "s", "lower", False),
    ("operators.extract_html.python_s", "s", "lower", False),
    ("operators.extract_html.arrow_sent_mb", "MB", "lower", False),
    ("operators.extract_html.arrow_recv_mb", "MB", "lower", False),
    ("operators.extract_html.empty_docs", "count", "lower", False),
    ("operators.pipeline.detect_python_s", "s", "lower", False),
    ("operators.pipeline.recognize_python_s", "s", "lower", False),
    ("operators.pipeline.arrow_sent_mb", "MB", "lower", False),
    ("operators.pipeline.arrow_recv_mb", "MB", "lower", False),
    ("operators.pipeline.assembly_shuffle_mb", "MB", "lower", False),
    ("operators.dedup.candidate_pairs", "count", "higher", False),
    ("operators.dedup.verified_pairs", "count", "higher", False),
    ("operators.dedup.verify_yield", "fraction", "higher", False),
    ("operators.dedup.shuffle_mb", "MB", "lower", False),
    ("sources.scan_s", "s", "lower", True),
    ("sources.read_mb", "MB", "lower", True),
    ("sources.splits", "count", "higher", True),
    ("sinks.partitioned.write_s", "s", "lower", False),
    ("sinks.partitioned.resume_s", "s", "lower", False),
    ("sinks.partitioned.verify_lineage_s", "s", "lower", False),
    ("sinks.partitioned.files_written", "count", "lower", False),
    ("sinks.partitioned.output_mb", "MB", "lower", False),
    ("sinks.partitioned.write_task_skew", "ratio", "lower", False),
    ("sinks.partitioned.resume_dates_processed", "count", "lower", False),
    ("stages.executor_run_s", "s", "lower", True),
    ("stages.executor_cpu_s", "s", "lower", True),
    ("stages.gc_s", "s", "lower", True),
    ("stages.core_busy_share", "fraction", "higher", True),
    ("stages.task_skew", "ratio", "lower", True),
    ("plans.exchanges", "count", "lower", True),
    ("plans.html_exchanges", "count", "lower", False),
    ("trace_overhead", "fraction", "lower", True),
]
