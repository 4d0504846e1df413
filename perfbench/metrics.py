"""Workload registry and the metric names the benchmark reports.

``BENCHMARK.json`` at the repository root lists the same names; the
self-test checks that the two agree.
"""

from __future__ import annotations

WORKLOADS = {
    "serve_zipf": "wl_serve",
    "produce_experiment": "wl_produce",
    "etl_bulk": "wl_etl",
    "corpus_pipeline": "wl_corpus",
}

# Reported by every workload with --trace 0. What "op" and "work" mean
# per workload is in README.md.
END_TO_END = [
    {"name": "setup_s", "unit": "s"},
    {"name": "op_p50_ms", "unit": "ms"},
    {"name": "work_per_s", "unit": "1/s"},
    {"name": "peak_rss_mb", "unit": "MB"},
]

# The corpus_pipeline pass: bench.py's headline list plus three
# composed LLM-pipeline queries.
CORPUS_QUERIES = [
    "q01_pricing_summary",
    "q02_top_revenue_orders",
    "q03_revenue_by_nation",
    "q04_selective_filter_agg",
    "q05_order_priority_semijoin",
    "q07_window_topk_per_customer",
    "q09_distinct_counts",
    "q13_monthly_event_stats",
    "q18_asof_purchase_click",
    "q19_sessionize",
    "q21_token_stats",
    "q26_ngram_jaccard_pairs",
    "q27_minhash_signatures",
    "q28_simhash",
    "q29_cosine_topk",
    "q62_dedup_pipeline",
    "q132_curation_manifest",
    "q133_pq_residual_ivf_topk",
]

# The operator queries etl_bulk runs after its store stages: a few of
# the corpus pass, chosen to cover aggregation, joins, windows, text
# similarity and the composed dedup pipeline in little run time.
ETL_QUERIES = [
    "q01_pricing_summary",
    "q03_revenue_by_nation",
    "q07_window_topk_per_customer",
    "q13_monthly_event_stats",
    "q26_ngram_jaccard_pairs",
    "q62_dedup_pipeline",
]

_UNITS = {
    "calls": "count",
    "ms": "ms",
    "self_ms": "ms",
    "spark_jobs": "jobs/call",
    "spark_tasks": "tasks/call",
    "bytes": "bytes",
    "parquet_files": "count",
    "overhead_pct": "%",
}

_CALL = ("calls", "ms", "self_ms", "spark_jobs", "spark_tasks")
_INNER = ("calls", "self_ms")

_LAYERS = [
    ("session.get_spark", ("ms",)),
    ("aio.call", ("calls", "ms", "self_ms")),
    ("db.get_by_uri", _CALL),
    ("db.get", _CALL),
    ("filters.filter_heatmap", _INNER),
    ("filters.filter_regional_stats", _INNER),
    ("filters.filter_map", _INNER),
    ("jsonutil.json_loads", _INNER),
    ("jsonutil.json_dumps_wrapper", _INNER),
    ("uri.parse_uri", _INNER),
    ("uri.build_uri", _INNER),
    ("db.query", ("calls", "ms", "spark_jobs")),
    ("db.list_experiments", ("calls", "ms", "spark_jobs")),
    ("db.list_glob_stats", ("calls", "ms", "spark_jobs")),
    ("db.put", ("calls", "self_ms")),
    ("db.flush", ("calls", "ms", "spark_jobs")),
    ("db.storage", ("bytes", "parquet_files")),
    ("db.rm_experiment_data", ("ms", "spark_jobs", "spark_tasks")),
    ("db.compact", ("ms", "spark_jobs", "spark_tasks")),
    ("db.bulk_import", ("ms", "spark_jobs", "spark_tasks")),
    ("db.glob_stats_long", ("ms", "spark_jobs", "spark_tasks")),
    ("db.query_iter", ("ms", "spark_jobs", "spark_tasks")),
    ("db.copy_db_contents", ("ms", "spark_jobs", "spark_tasks")),
    ("sources.export_jsondb_tree", ("ms", "spark_jobs", "spark_tasks")),
    ("sources.import_jsondb_tree_distributed", ("ms", "spark_jobs", "spark_tasks")),
    ("catalog.cache_tables", ("ms",)),
    *[(f"operators.{q}", ("ms", "spark_jobs")) for q in ETL_QUERIES],
    ("perfbench.trace", ("overhead_pct",)),
]

PER_LAYER = [
    {"name": f"{layer}.{stat}", "unit": _UNITS[stat]}
    for layer, stats in _LAYERS
    for stat in stats
]
