"""Every metric the benchmark prints: name, unit, which direction is better,
the regression bound of end-to-end metrics, and, for each per-layer
metric, the end-to-end metric and workload it should move.

``BENCHMARK.json`` carries the same names, units, directions and bounds;
``test_perfbench.py`` checks that the two agree.
"""

from __future__ import annotations

WORKLOADS = {
    "analytics": "the 12 headline registry queries over seeded sf0.05 tables, cache cleared per "
                 "query; exercises queries and io, bypasses tables, ingest and streaming",
    "lakehouse": "DML cycle on a LakeTable of lineitem + a unique rid (its own key repeats), then "
                 "JSON files landed by plain Python (not land_file) ingested to bronze and CDC silver",
}

# name -> (unit, better, bound)
END_TO_END = {
    "setup_s": ("s", "lower", 0.25),
    "round_s": ("s", "lower", 0.25),
    "op_s_geomean": ("s", "lower", 0.25),
    "ops_per_s": ("ops/s", "higher", 0.25),
}

_ALL = "analytics lakehouse"

# name -> (unit, better, end-to-end metric it should move, workloads)
PER_LAYER: dict[str, tuple[str, str, str, str]] = {
    "session.get_spark_s": ("s", "lower", "setup_s", _ALL),
    "registry.load_all_queries_s": ("s", "lower", "setup_s", "analytics"),
    "queries.warmup_round_s": ("s", "lower", "setup_s", "analytics"),
    "ingest.autoloader.schema_infer_s": ("s", "lower", "setup_s", "lakehouse"),
    "io.load_table_scan_s": ("s", "lower", "round_s", "analytics"),
}
QUERY_MODULES = {
    "q1_pricing_summary": "relational", "q3_shipping_priority": "relational",
    "q5_local_supplier_volume": "relational", "join_broadcast_dims": "relational",
    "agg_having_topk": "relational", "window_topk_per_group": "windows",
    "ts_asof_join": "timeseries", "ts_sessionize": "timeseries",
    "dedup_exact": "dedup", "dedup_minhash_lsh": "dedup",
    "sim_knn_cosine": "similarity", "text_bigram_topk": "text",
}
for _q, _m in QUERY_MODULES.items():
    PER_LAYER[f"queries.{_m}.{_q}_s"] = ("s", "lower", "round_s", "analytics")
for _m in dict.fromkeys(QUERY_MODULES.values()):
    PER_LAYER[f"queries.{_m}.spark_jobs"] = ("count", "lower", "round_s", "analytics")

PER_LAYER["tables.log.replay_s"] = ("s", "lower", "op_s_geomean", "lakehouse")
PER_LAYER["tables.log.commits"] = ("count", "lower", "op_s_geomean", "lakehouse")
PER_LAYER["tables.log.checkpoints"] = ("count", "lower", "op_s_geomean", "lakehouse")
PER_LAYER["tables.log.log_bytes"] = ("bytes", "lower", "op_s_geomean", "lakehouse")
for _k in ("merge", "delete", "update", "append", "point_read", "scan_agg"):
    PER_LAYER[f"tables.table.{_k}_s"] = ("s", "lower", "op_s_geomean", "lakehouse")
for _k in ("merge", "delete", "update", "append"):
    PER_LAYER[f"tables.table.{_k}_spark_jobs"] = ("count", "lower", "op_s_geomean", "lakehouse")
PER_LAYER["tables.table.rewritten_files_per_dml"] = ("count", "lower", "op_s_geomean", "lakehouse")
PER_LAYER["tables.table.write_mb_per_op"] = ("MB", "lower", "op_s_geomean", "lakehouse")
PER_LAYER["tables.table.live_files"] = ("count", "lower", "round_s", "lakehouse")
PER_LAYER["tables.table.point_read_file_ratio"] = ("ratio", "lower", "op_s_geomean", "lakehouse")
PER_LAYER["tables.table.time_travel_s"] = ("s", "lower", "round_s", "lakehouse")

for _prefix, _stat in (("ingest.engine", "drain_s"), ("streaming.cdc", "apply_s")):
    PER_LAYER[f"{_prefix}.{_stat}"] = ("s", "lower", "round_s", "lakehouse")
    PER_LAYER[f"{_prefix}.batches"] = ("count", "lower", "round_s", "lakehouse")
    PER_LAYER[f"{_prefix}.add_batch_ms"] = ("ms", "lower", "round_s", "lakehouse")
    PER_LAYER[f"{_prefix}.overhead_ms"] = ("ms", "lower", "round_s", "lakehouse")
PER_LAYER["streaming.cdc.freshness_s"] = ("s", "lower", "round_s", "lakehouse")
PER_LAYER["ingest.engine.archived_files"] = ("count", "higher", "ops_per_s", "lakehouse")
PER_LAYER["tables.table.last_txn_version_s"] = ("s", "lower", "round_s", "lakehouse")
PER_LAYER["tables.table.bronze_live_files"] = ("count", "lower", "round_s", "lakehouse")

PER_LAYER["spark.jobs_per_round"] = ("count", "lower", "round_s", _ALL)
PER_LAYER["spark.tasks_per_round"] = ("count", "lower", "round_s", _ALL)
PER_LAYER["proc.jvm_peak_rss_mb"] = ("MB", "lower", "setup_s", _ALL)
PER_LAYER["trace.overhead_pct"] = ("%", "lower", "round_s", _ALL)
