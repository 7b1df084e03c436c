"""One parquet reader: schemas inferred once per path, frames never shared.

``sources.readers.read_parquet`` remembers each inferred schema under
(first root path, modification time, length) and hands it to
``spark.read.schema`` on later reads, which start no Spark job. These
tests pin the three properties that make that safe (a new relation per
read, new files seen, a rewritten path inferred again) at the catalog
and at the sink, and the engine flush landing as one file. The sink's
Q1 reads the commit ledger instead: the tests below pin that it starts
no job, that the ledger count always equals the data's count, and that
a marker is committed atomically.
"""

from __future__ import annotations

import datetime
import glob
import os
import shutil
from collections import Counter
from contextlib import contextmanager

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from clickhouse_batcher_spark import BatcherEngine, EngineConfig
from clickhouse_batcher_spark.sinks.parquet_sink import IdempotentParquetSink
from clickhouse_batcher_spark.sources.layout import DEFAULT_TARGET_FILE_BYTES, partitions_for
from clickhouse_batcher_spark.sources.readers import read_parquet
from clickhouse_batcher_spark.tables import load_table


def _job_ids(spark) -> set[int]:
    """Ids of every job run outside a job group, once the listener bus
    has delivered all events posted so far."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup(None))


def _rows(df) -> list:
    return sorted(tuple(r) for r in df.collect())


def test_second_load_table_starts_no_job(spark, sf_dir):
    first = load_table(spark, sf_dir, "orders")
    before = _job_ids(spark)
    second = load_table(spark, sf_dir, "orders")
    assert _job_ids(spark) == before
    assert _rows(second) == _rows(first)


def test_two_loads_of_one_table_self_join(spark, sf_dir):
    """Each load is its own relation: columns of ``a`` and ``b`` stay
    apart after the join. On one shared frame ``b.o_orderkey`` would
    resolve to the left side, and no pair would hold two orders."""
    a = load_table(spark, sf_dir, "orders")
    b = load_table(spark, sf_dir, "orders")
    per_key = Counter(r.o_custkey for r in a.select("o_custkey").collect())
    pairs = a.join(b, a.o_custkey == b.o_custkey).select(
        a.o_orderkey.alias("x"), b.o_orderkey.alias("y")
    )
    assert pairs.count() == sum(c * c for c in per_key.values())
    assert pairs.filter("x != y").count() == sum(c * (c - 1) for c in per_key.values()) > 0


_INSTANTS = [
    datetime.datetime(2025, 6, 1, 12, 0, 0, 250000),
    datetime.datetime(2025, 6, 2, 3, 4, 5, 6),
]


def _write_events(path: str, ts: pa.Array) -> None:
    n = len(_INSTANTS)
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(n), type=pa.int64()),
                "ts": ts,
                "user_id": pa.array([7] * n, type=pa.int64()),
            }
        ),
        path,
    )


def test_events_rewritten_in_place_is_inferred_again(spark, tmp_path):
    """int64 epoch nanos, then TIMESTAMP(MICROS) NTZ at the same path:
    the second load must see the new footer, and ``_normalize_ts``
    must take the branch for the dtype it now observes."""
    path = str(tmp_path / "events.parquet")
    nanos = [
        int(t.replace(tzinfo=datetime.timezone.utc).timestamp() * 1_000_000) * 1000
        for t in _INSTANTS
    ]
    _write_events(path, pa.array(nanos, type=pa.int64()))
    events = load_table(spark, str(tmp_path), "events")
    assert [r.ts for r in events.orderBy("event_id").collect()] == _INSTANTS
    assert read_parquet(spark, path).schema["ts"].dataType.typeName() == "long"

    _write_events(path, pa.array(_INSTANTS, type=pa.timestamp("us")))
    assert read_parquet(spark, path).schema["ts"].dataType.typeName() == "timestamp_ntz"
    events = load_table(spark, str(tmp_path), "events")
    assert events.schema["ts"].dataType.typeName() == "timestamp"
    assert [r.ts for r in events.orderBy("event_id").collect()] == _INSTANTS


SCHEMA = "user_id STRING, amount BIGINT, sha256sum STRING"


def _check_q1_q2_q3(eng: BatcherEngine, rows: list[tuple]) -> None:
    assert eng.count() == len(rows)
    assert eng.filtered_count(user_id="u1") == sum(r[0] == "u1" for r in rows)
    assert eng.delete_where(F.col("amount") < 50).count() == sum(r[1] >= 50 for r in rows)


def test_sink_queries_follow_new_batches_compaction_and_recreation(spark, tmp_path):
    root = str(tmp_path / "sink")
    sink = IdempotentParquetSink(root)
    eng = BatcherEngine(spark, sink, SCHEMA, EngineConfig(max_batch_rows=40))
    rows = [(f"u{i % 3}", i, str(i)) for i in range(100)]
    for row in rows[:60]:
        eng.save_async(row)
    eng.flush()
    _check_q1_q2_q3(eng, rows[:60])

    for row in rows[60:]:
        eng.save_async(row)
    eng.flush()
    assert len(sink.committed_batches()) == 3
    _check_q1_q2_q3(eng, rows)

    new_id = sink.compact(spark, target_files=1)
    assert sink.committed_batches() == [new_id]
    _check_q1_q2_q3(eng, rows)

    # Deleted and recreated with another schema: the first committed
    # directory is new, so its schema is inferred again.
    shutil.rmtree(root)
    sink = IdempotentParquetSink(root)
    eng = BatcherEngine(spark, sink, "user_id STRING, amount INT, note STRING", EngineConfig())
    other = [("u1", 10, "a"), ("u2", 70, "b"), ("u1", 90, None)]
    for row in other:
        eng.save_async(row)
    eng.flush()
    assert eng.read().dtypes == [("user_id", "string"), ("amount", "int"), ("note", "string")]
    _check_q1_q2_q3(eng, other)


@contextmanager
def _job_group(spark, group: str):
    """Run the block's Spark jobs under ``group``; yields a function
    that lists the group's job ids once all posted events are in."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)

    def jobs() -> list[int]:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return list(sc.statusTracker().getJobIdsForGroup(group))

    try:
        yield jobs
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_q1_reads_the_ledger_and_starts_no_job(spark, tmp_path):
    sink = IdempotentParquetSink(str(tmp_path / "sink"))
    eng = BatcherEngine(spark, sink, SCHEMA, EngineConfig(max_batch_rows=40))
    rows = [(f"u{i % 3}", i, str(i)) for i in range(100)]
    for row in rows:
        eng.save_async(row)
    eng.flush()
    assert len(sink.committed_batches()) == 3
    with _job_group(spark, "q1-from-ledger") as jobs:
        assert eng.count() == len(rows)
        assert jobs() == []
        # The group does see jobs: Q2 scans the data.
        assert eng.filtered_count(user_id="u1") == sum(r[0] == "u1" for r in rows)
        assert jobs()


def _frame(spark, lo: int, hi: int):
    return spark.createDataFrame([(f"u{i % 3}", i, str(i)) for i in range(lo, hi)], SCHEMA)


def test_ledger_count_equals_data_count(spark, tmp_path):
    sink = IdempotentParquetSink(str(tmp_path / "sink"))
    assert sink.count(spark) == 0  # empty sink

    def count() -> int:
        n = sink.count(spark)
        assert n == sink.read(spark).count()
        return n

    assert sink.write_batch(_frame(spark, 0, 30), 0)
    assert count() == 30
    # replay of a committed id
    assert not sink.write_batch(_frame(spark, 0, 50), 0)
    assert count() == 30
    # uncommitted replay: a data directory with no marker, then the id again
    _frame(spark, 30, 45).write.parquet(f"{sink.data_dir}/_batch_id=1")
    assert not sink.is_committed(1)
    assert sink.write_batch(_frame(spark, 30, 60), 1)
    assert count() == 60
    # empty batch
    assert not sink.write_batch(_frame(spark, 0, 0), 2)
    assert sink.committed_batches() == [0, 1]
    assert count() == 60
    # compaction, then new ids
    new_id = sink.compact(spark, target_files=1)
    assert sink.committed_batches() == [new_id]
    assert count() == 60
    assert sink.write_batch(_frame(spark, 60, 70), 2)
    assert sink.write_batch(_frame(spark, 70, 72), 3)
    assert count() == 72
    # a marker from an older build holds a word, not a count
    _frame(spark, 72, 80).write.parquet(f"{sink.data_dir}/_batch_id=4")
    with open(f"{sink.ledger_dir}/4", "w") as fh:
        fh.write("committed")
    assert count() == 80


def test_crash_before_marker_rename_leaves_batch_uncommitted(spark, tmp_path, monkeypatch):
    sink = IdempotentParquetSink(str(tmp_path / "sink"))
    written = []

    def crash(src, dst):
        with open(src) as fh:
            written.append(fh.read())
        raise OSError("crash between marker write and rename")

    monkeypatch.setattr(os, "replace", crash)
    with pytest.raises(OSError):
        sink.write_batch(_frame(spark, 0, 30), 0)
    monkeypatch.undo()
    assert written == ["30"]
    assert not sink.is_committed(0)
    assert os.listdir(sink.ledger_dir) == []
    assert sorted(os.listdir(sink.root)) == ["_ledger", "data"]  # no stray temp file
    assert sink.count(spark) == 0
    # the replay heals: the batch directory is overwritten, then committed
    assert sink.write_batch(_frame(spark, 0, 30), 0)
    assert sink.count(spark) == sink.read(spark).count() == 30


def test_default_flush_lands_one_file(spark, tmp_path):
    sink = IdempotentParquetSink(str(tmp_path / "sink"))
    eng = BatcherEngine(spark, sink, SCHEMA, EngineConfig())
    rows = eng.config.max_batch_rows
    for i in range(rows):
        eng.save_async((f"u{i % 7}", i, str(i)))
    assert sink.committed_batches() == [0]
    files = glob.glob(os.path.join(sink.data_dir, "_batch_id=0", "*.parquet"))
    assert len(files) == 1
    assert eng.count() == rows


def test_partitions_for_is_one_per_128mb():
    assert partitions_for(0) == 1
    assert partitions_for(DEFAULT_TARGET_FILE_BYTES - 1) == 1
    assert partitions_for(DEFAULT_TARGET_FILE_BYTES) == 1
    assert partitions_for(4 * DEFAULT_TARGET_FILE_BYTES) == 4
    assert partitions_for(5 * DEFAULT_TARGET_FILE_BYTES - 1) == 4
