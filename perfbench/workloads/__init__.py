"""Workload registry and the program functions the traced run wraps."""

from __future__ import annotations

import importlib

# name -> (module, class) of the workload
_WORKLOADS = {
    "api_mix": ("api_mix", "ApiMix"),
    "etl_bulk": ("etl_load", "EtlBulk"),
    "txn_rw": ("txn_rw", "TxnRw"),
    "corpus_curate": ("corpus_curate", "CorpusCurate"),
    "etl_load": ("etl_load", "EtlLoad"),
}
ALL = tuple(_WORKLOADS)

# Public functions wrapped in the traced run, by module of the
# ``etl_workflow_spark`` package.
TARGETS = {
    "catalog": ("table",),
    "queries": ("product_sales", "customer_purchase_history",
                "top_selling_by_category", "sales_trends"),
    "generator": ("generate_tables", "generate_csv_dataset"),
    "sources.readers": ("read_csv", "read_parquet"),
    "sources.writers": ("idempotent_append", "write_partitioned",
                        "overwrite_partitions", "overwrite", "write_csv"),
    "sources.txn": ("txn_create", "txn_read", "txn_append", "txn_merge_into",
                    "txn_delete", "txn_maintain", "txn_compact"),
    "operators.etl": ("clean_nulls", "recompute_item_total", "with_lifetime_value",
                      "daily_sales_aggregation", "product_sales_summary"),
    "operators.dimtime": ("dim_time_frame",),
    "pipeline": ("run_pipeline",),
    "operators.text": ("normalize_text", "text_quality", "gopher_quality_flags",
                       "bm25_topk"),
    "operators.dedup": ("exact_dedup", "minhash_lsh_probe"),
}
# the layer (metric prefix) each module's spans report under
LAYER_OF = {
    "catalog": "catalog",
    "queries": "queries",
    "generator": "generator",
    "sources.readers": "readers",
    "sources.writers": "writers",
    "sources.txn": "txn",
    "operators.etl": "etl",
    "operators.dimtime": "etl",
    "pipeline": "pipeline",
    "operators.text": "text",
    "operators.dedup": "dedup",
}


def traced_targets():
    for mod in TARGETS:
        importlib.import_module(f"etl_workflow_spark.{mod}")
    return TARGETS, LAYER_OF


def make(name: str, harness, seed: int):
    module, cls = _WORKLOADS[name]
    return getattr(importlib.import_module(f"perfbench.workloads.{module}"), cls)(harness, seed)
