"""Metric and workload names, units and directions.

``BENCHMARK.json`` lists the same names; ``test_perfbench.py`` checks
that the two agree. Every run prints every end-to-end metric (untraced)
or every per-layer metric (traced), whatever its workload; a layer the
workload does not touch reads 0.
"""

from __future__ import annotations

WORKLOADS = ("ingest_async", "ingest_stream", "analytics")

# Basket of catalog queries for the analytics workload (see README.md
# for the queries left out and why).
BASKET = (
    "tpch_q1",
    "events_hourly",
    "user_sessions",
    "asof_events_orders",
    "chsql_limit_by_top_users",
    "similarity_topk",
    "embedding_quantize_int8",
    "coactivity_pagerank",
    "coactivity_triangle_stats",
)

# name -> (unit, better)
END_TO_END = {
    "setup_s": ("s", "lower"),
    "peak_rss_mb": ("MB", "lower"),
    "op_p50_ms": ("ms", "lower"),
    "op_tail_ms": ("ms", "lower"),
    "ops_per_s": ("1/s", "higher"),
    "phase2_s": ("s", "lower"),
}

_MS, _S, _N = ("ms", "lower"), ("s", "lower"), ("count", "lower")

PER_LAYER = {
    "session.start_s": _S,
    "session.warm_s": _S,
    "gen.lag_ms_max": _MS,
    "engine.save_async.busy_s": _S,
    "engine.flush.count_size": _N,
    "engine.flush.count_tick": _N,
    "engine.flush.to_frame_ms_p50": _MS,
    "engine.count.ms": _MS,
    "engine.filtered_count.ms": _MS,
    "engine.delete_where.ms": _MS,
    "sinks.write_batch.calls": _N,
    "sinks.write_batch.rows": ("count", "higher"),
    "sinks.write_batch.skipped": _N,
    "sinks.write_batch.ms_p50": _MS,
    "sinks.write_batch.ms_tail": _MS,
    "sinks.batch_dirs": _N,
    "streaming.batches": _N,
    "streaming.rows_per_batch_p50": ("count", "higher"),
    "streaming.latest_offset_ms_p50": _MS,
    "streaming.get_batch_ms_p50": _MS,
    "streaming.query_planning_ms_p50": _MS,
    "streaming.add_batch_ms_p50": _MS,
    "streaming.wal_commit_ms_p50": _MS,
    "streaming.commit_offsets_ms_p50": _MS,
    "streaming.idle_frac": ("ratio", "lower"),
    "neardup.batches": _N,
    "neardup.add_batch_ms_p50": _MS,
    "neardup.query_planning_ms_p50": _MS,
    "neardup.pairs": ("count", "higher"),
    "neardup.index_partitions": _N,
    "plans.chsql.translate_ms": _MS,
    "memo.evict_ms": _MS,
}
for _pass in ("cold", "warm"):
    for _what in ("jobs", "stages", "tasks"):
        PER_LAYER[f"spark.{_pass}.{_what}"] = _N
    PER_LAYER[f"memo.{_pass}.calls"] = _N
    PER_LAYER[f"memo.{_pass}.hits"] = ("count", "higher")
    PER_LAYER[f"memo.{_pass}.misses"] = _N
    PER_LAYER[f"memo.{_pass}.build_s"] = _S
for _q in BASKET:
    PER_LAYER[f"query.{_q}.build_s"] = _S
    PER_LAYER[f"query.{_q}.exec_s"] = _S
    PER_LAYER[f"query.{_q}.tasks"] = _N
