"""Metric names and units; BENCHMARK.json lists the same ones (a
self-test holds the two together)."""

# Every workload reports every end-to-end metric (untraced run).
END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "throughput_per_s": "1/s",
    "latency_p50_ms": "ms",
}

# Every workload reports every per-layer metric (traced run); a layer
# the workload never enters reads 0.
PER_LAYER = {
    # workload figures, measured in the traced run
    "ops_per_s": "1/s",
    "knn_p50_ms": "ms",
    "filter_knn_p50_ms": "ms",
    "get_p50_ms": "ms",
    "insert_p50_ms": "ms",
    "delete_p50_ms": "ms",
    "serve.knn_p90_ms": "ms",
    "serve.filter_knn_p90_ms": "ms",
    "serve.get_p90_ms": "ms",
    "ingest_rows_per_s": "1/s",
    "ann_p50_ms": "ms",
    "bm25_p50_ms": "ms",
    "sparse_p50_ms": "ms",
    "ann_recall_at_10": "ratio",
    "space_amp": "ratio",
    # server.py
    "server.http_ms": "ms",
    "server.handle_self_ms": "ms",
    # catalog.py
    "catalog.table_open_ms": "ms",
    # expr/
    "expr.parse_ms": "ms",
    "expr.segments_kept_ratio": "ratio",
    # table.py, read side
    "table.snapshot_ms": "ms",
    "table.query_ms": "ms",
    "table.get_ms": "ms",
    "table.live_segments": "count",
    # table.py, write side
    "table.insert_ms": "ms",
    "table.delete_ms": "ms",
    "table.insert_df_ms": "ms",
    "table.compact_ms": "ms",
    "table.vacuum_ms": "ms",
    "table.write_amp": "ratio",
    "table.files_per_write": "count",
    # operators/ann, quant, pq through table.py's IVF index
    "ann.refresh_ms": "ms",
    "ann.search_ms": "ms",
    "ann.rows_read_per_result": "count",
    # table.py's text and sparse indexes
    "text.refresh_ms": "ms",
    "text.search_ms": "ms",
    "text.rows_read_per_result": "count",
    "sparse.refresh_ms": "ms",
    "sparse.search_ms": "ms",
    "sparse.rows_read_per_result": "count",
    # operators/facets.py
    "facets.ms": "ms",
    # Spark driver and scheduler, per timed op
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.driver_ms_per_op": "ms",
    "spark.codegen_compiles_per_op": "count",
    "spark.codegen_ms_per_op": "ms",
    # Spark tasks, per timed op
    "spark.task_run_ms": "ms",
    "spark.task_cpu_ms": "ms",
    "spark.task_cpu_ratio": "ratio",
    "spark.gc_ms": "ms",
    "spark.shuffle_bytes": "B",
    "spark.input_bytes": "B",
    "spark.spill_bytes": "B",
    # the run itself
    "host.cpu_pressure_pct": "%",
    "host.calibration_ms": "ms",
    "trace.overhead_pct": "%",
}
