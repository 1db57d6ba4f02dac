"""Units of every per-layer metric the traced run can report.

``BENCHMARK.json`` declares the subset measured on its workloads; the
benchmark's tests check that the two agree.
"""

from __future__ import annotations

QUERY_TYPES = ("product_sales", "customer_purchase_history",
               "top_selling_by_category", "sales_trends")

LAYER_UNITS: dict[str, str] = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "setup.inputs_s": "s",
    "catalog.table_calls": "count",
    "catalog.table_ms": "ms",
    **{f"queries.{q}.{m}": u for q in QUERY_TYPES for m, u in (
        ("build_ms", "ms"), ("exec_ms", "ms"), ("catalyst_ms", "ms"),
        ("rows_scanned_per_row", "ratio"))},
    **{f"spark.{m}": u for m, u in (
        ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
        ("executor_run_ms", "ms"), ("executor_cpu_ms", "ms"), ("gc_ms", "ms"),
        ("input_bytes", "B"), ("input_records", "count"),
        ("shuffle_write_bytes", "B"), ("shuffle_read_bytes", "B"),
        ("spill_bytes", "B"), ("core_busy_frac", "frac"))},
    **{f"txn.{m}": u for m, u in (
        ("append_ms", "ms"), ("merge_ms", "ms"), ("delete_ms", "ms"),
        ("maintain_ms", "ms"), ("read_ms", "ms"), ("compactions", "count"),
        ("manifest_entries_end", "count"), ("bytes_on_disk_per_live_byte", "ratio"),
        ("bytes_written_per_row_changed", "B/row"), ("conflict_retries", "count"))},
    # self time per workload operation, by layer (traced window)
    **{f"{layer}.self_ms": "ms" for layer in (
        "client", "catalog", "queries", "spark", "txn", "writers", "pipeline",
        "etl", "text", "dedup", "generator", "readers")},
    "trace.overhead_frac": "frac",
    # layers exercised by etl_bulk / etl_load, txn_rw and corpus_curate
    **{f"writers.{fn}_ms": "ms" for fn in (
        "idempotent_append", "write_partitioned", "overwrite_partitions", "overwrite")},
    "writers.rows_appended_per_row_offered": "ratio",
    "writers.bytes_written_per_input_byte": "ratio",
    "writers.files_written": "count",
    "pipeline.run_pipeline_ms": "ms",
    **{f"text.{fn}_ms": "ms" for fn in (
        "normalize_text", "text_quality", "gopher_quality_flags", "bm25_topk")},
    "dedup.exact_dedup_ms": "ms",
    "dedup.minhash_lsh_probe_ms": "ms",
    "dedup.dup_frac": "frac",
    "dedup.lsh_pairs_out": "count",
}
