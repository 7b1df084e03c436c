"""One parquet reader: schemas inferred once per path, frames never shared.

``sources.readers.read_parquet`` remembers each inferred schema under
(first root path, modification time, length) and hands it to
``spark.read.schema`` on later reads, which start no Spark job. These
tests pin the three properties that make that safe (a new relation per
read, new files seen, a rewritten path inferred again) at the catalog
and at the sink, and the engine flush landing as one file. The sink's
Q1 reads the commit ledger instead: the tests below pin that it starts
no job, that the ledger count always equals the data's count, and that
a marker is committed atomically. An engine flush is written on the
driver from its Arrow table: it starts no job, reads back like a batch
Spark wrote (dates before 1582 included), and keeps every ledger check.
A compaction that fails part way shows each row once.
"""

from __future__ import annotations

import datetime
import glob
import os
import shutil
from collections import Counter
from contextlib import contextmanager
from decimal import Decimal

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from clickhouse_batcher_spark import BatcherEngine, EngineConfig
from clickhouse_batcher_spark.columnar import ColumnarBatchBuilder
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


def _write(spark, sink, via: str, lo: int, hi: int, batch_id: int) -> bool:
    """Rows lo..hi as one batch, through a Spark job (``write_batch``)
    or from an Arrow table on the driver (``write_table``)."""
    if via == "write_batch":
        return sink.write_batch(_frame(spark, lo, hi), batch_id)
    builder = ColumnarBatchBuilder(SCHEMA)
    table = builder.table([(f"u{i % 3}", i, str(i)) for i in range(lo, hi)])
    return sink.write_table(spark, table, builder.struct, batch_id)


@pytest.mark.parametrize("via", ["write_batch", "write_table"])
def test_crash_before_marker_rename_leaves_batch_uncommitted(spark, tmp_path, monkeypatch, via):
    sink = IdempotentParquetSink(str(tmp_path / "sink"))
    written, on_disk = [], []

    def crash(src, dst):
        on_disk.extend(glob.glob(f"{sink.data_dir}/_batch_id=0/*.parquet"))
        with open(src) as fh:
            written.append(fh.read())
        raise OSError("crash between marker write and rename")

    monkeypatch.setattr(os, "replace", crash)
    with pytest.raises(OSError):
        _write(spark, sink, via, 0, 30, 0)
    monkeypatch.undo()
    assert on_disk  # the data was written
    assert written == ["30"]
    assert not sink.is_committed(0)
    assert os.listdir(sink.ledger_dir) == []
    assert sorted(os.listdir(sink.root)) == ["_ledger", "data"]  # no stray temp file
    assert sink.count(spark) == 0
    # the replay heals: the batch directory is overwritten, then committed
    assert _write(spark, sink, via, 0, 30, 0)
    assert set(glob.glob(f"{sink.data_dir}/_batch_id=0/*.parquet")).isdisjoint(on_disk)
    assert sink.count(spark) == sink.read(spark).count() == 30
    # a replay of the committed id is a no-op; an empty batch writes nothing
    assert not _write(spark, sink, via, 0, 50, 0)
    assert not _write(spark, sink, via, 0, 0, 1)
    assert sink.committed_batches() == [0]
    assert not os.path.exists(f"{sink.data_dir}/_batch_id=1")
    assert sink.count(spark) == 30


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


# -- engine flush: the Arrow table written on the driver ---------------------
MIXED = "s STRING, b BIGINT, dec DECIMAL(10,2), dt DATE, ts TIMESTAMP, arr ARRAY<INT>, m MAP<STRING, INT>"
_UTC = datetime.timezone.utc


def _mixed_rows(lo: int, hi: int) -> list[tuple]:
    return [
        (f"s{i}", i, None if i % 4 == 0 else Decimal(i) / 100, datetime.date(2020, 1, 1 + i % 28),
         datetime.datetime(2021, 2, 3, 4, 5, i % 60, i, tzinfo=_UTC), [i, None], {"k": i})
        for i in range(lo, hi)
    ]


def _flush(spark, sink, schema: str, rows: list[tuple]) -> BatcherEngine:
    eng = BatcherEngine(spark, sink, schema, EngineConfig())
    for row in rows:
        eng.save_async(row)
    assert eng.flush() == len(rows)
    return eng


def test_engine_flush_starts_no_spark_job(spark, tmp_path):
    sink = IdempotentParquetSink(str(tmp_path / "sink"))
    eng = BatcherEngine(spark, sink, SCHEMA, EngineConfig())
    rows = [(f"u{i % 3}", i, str(i)) for i in range(100)]
    for row in rows:
        eng.save_async(row)
    with _job_group(spark, "flush-on-the-driver") as jobs:
        assert eng.flush() == len(rows)
        assert jobs() == []
        assert sink.committed_batches() == [0]
        assert eng.filtered_count(user_id="u1") == sum(r[0] == "u1" for r in rows)
        assert jobs()


@pytest.mark.parametrize("spark_first", [True, False], ids=["spark-first", "arrow-first"])
def test_spark_and_arrow_batches_read_back_as_one_table(spark, tmp_path, spark_first):
    """A batch written by a Spark job (``write_batch``) and one written
    from an Arrow table (an engine flush) share a sink; whichever lands
    first is the directory ``read_parquet`` infers the schema from."""
    sink = IdempotentParquetSink(str(tmp_path / "sink"))
    by_spark, by_arrow = _mixed_rows(0, 20), _mixed_rows(20, 45)
    want = spark.createDataFrame(by_spark + by_arrow, MIXED)
    if spark_first:
        assert sink.write_batch(spark.createDataFrame(by_spark, MIXED), 0)
    eng = _flush(spark, sink, MIXED, by_arrow)
    if not spark_first:
        assert sink.write_batch(spark.createDataFrame(by_spark, MIXED), 1)
    assert sink.committed_batches() == [0, 1]
    got = eng.read()
    assert got.dtypes == want.dtypes
    assert _rows(got.select(F.to_json(F.struct("*")))) == _rows(want.select(F.to_json(F.struct("*"))))
    assert eng.count() == 45


def test_arrow_batch_carries_spark_footer_and_reads_pre_gregorian_dates(spark, tmp_path):
    """Spark's footer keys make an engine flush read back with the
    engine's exact schema and no calendar rebase: dates before the
    1582 Gregorian cutover equal the list path's."""
    schema = "d DATE, ts TIMESTAMP, n BIGINT"
    rows = [
        (datetime.date(1000, 1, 1), datetime.datetime(1500, 3, 1, 12, 0, tzinfo=_UTC), 1),
        (datetime.date(1582, 10, 4), datetime.datetime(1582, 10, 15, 0, 0, tzinfo=_UTC), 2),
        (datetime.date(2024, 2, 29), datetime.datetime(2024, 2, 29, 23, 59, 59, 999999, tzinfo=_UTC), 3),
    ]
    sink = IdempotentParquetSink(str(tmp_path / "sink"))
    eng = _flush(spark, sink, schema, rows)
    (path,) = glob.glob(f"{sink.data_dir}/_batch_id=0/*.parquet")
    meta = pq.read_schema(path).metadata
    assert meta[b"org.apache.spark.version"].decode() == spark.version
    assert meta[b"org.apache.spark.sql.parquet.row.metadata"].decode() == (
        spark.createDataFrame([], schema).schema.json()
    )
    assert pq.ParquetFile(path).metadata.row_group(0).column(0).compression == "SNAPPY"
    want = spark.createDataFrame(rows, schema)
    exact = [F.unix_date("d"), F.unix_micros("ts"), "n"]
    assert _rows(eng.read().select(*exact)) == _rows(want.select(*exact))
    assert _rows(eng.read()) == _rows(want)


def test_arrow_batch_is_split_as_partitions_for_says(spark, tmp_path, monkeypatch):
    from clickhouse_batcher_spark.sinks import parquet_sink

    monkeypatch.setattr(parquet_sink, "partitions_for", lambda nbytes: 3)
    sink = IdempotentParquetSink(str(tmp_path / "sink"))
    rows = [(f"u{i % 3}", i, str(i)) for i in range(10)]
    eng = _flush(spark, sink, SCHEMA, rows)
    files = glob.glob(f"{sink.data_dir}/_batch_id=0/part-*.parquet")
    assert len(files) == 3
    assert sum(pq.read_metadata(f).num_rows for f in files) == 10
    assert _rows(eng.read()) == sorted(rows)
    assert eng.count() == 10


def test_queries_on_a_fresh_engine_answer_empty(spark, tmp_path):
    eng = BatcherEngine(spark, IdempotentParquetSink(str(tmp_path / "sink")), SCHEMA, EngineConfig())
    assert eng.count() == 0
    assert eng.filtered_count(user_id="u1") == 0
    assert eng.delete_where(F.col("amount") < 50).count() == 0
    assert eng.read().dtypes == [("user_id", "string"), ("amount", "bigint"), ("sha256sum", "string")]


def _three_batches(spark, root: str) -> IdempotentParquetSink:
    sink = IdempotentParquetSink(root)
    eng = BatcherEngine(spark, sink, SCHEMA, EngineConfig(max_batch_rows=10))
    for i in range(30):
        eng.save_async((f"u{i % 3}", i, str(i)))
    assert sink.committed_batches() == [0, 1, 2]
    return sink


def test_compaction_failing_after_its_commit_counts_each_row_once(spark, tmp_path, monkeypatch):
    root = str(tmp_path / "sink")
    sink = _three_batches(spark, root)
    remove = os.remove

    def fail_in_ledger(path):
        if path.startswith(sink.ledger_dir):
            raise OSError("crash while removing the old markers")
        remove(path)

    monkeypatch.setattr(os, "remove", fail_in_ledger)
    with pytest.raises(OSError):
        sink.compact(spark, target_files=1)
    monkeypatch.undo()

    fresh = IdempotentParquetSink(root)
    assert fresh.committed_batches() == [-1, 0, 1, 2]
    assert fresh.count(spark) == 30
    assert fresh.read(spark).count() == 30
    # A retired id whose marker exists is still taken: a resumed engine
    # must not write id 0, which write_batch would skip as a replay.
    eng = BatcherEngine(spark, fresh, SCHEMA, EngineConfig())
    for i in range(30, 35):
        eng.save_async((f"u{i % 3}", i, str(i)))
    eng.close()
    assert fresh.committed_batches() == [-1, 0, 1, 2, 3]
    assert eng.count() == eng.read().count() == 35
    # The next compaction finishes the removal first.
    new_id = fresh.compact(spark, target_files=1)
    assert fresh.committed_batches() == [new_id] == [-2]
    assert not os.listdir(fresh.retired_dir)
    assert eng.count() == 35
    assert eng.read().select(F.countDistinct("sha256sum")).first()[0] == 35


def test_compaction_failing_before_its_commit_keeps_the_old_batches(spark, tmp_path, monkeypatch):
    sink = _three_batches(spark, str(tmp_path / "sink"))
    replace = os.replace

    def fail_on_marker(src, dst):
        if dst.startswith(sink.ledger_dir):
            raise OSError("crash before the compacted marker")
        replace(src, dst)

    monkeypatch.setattr(os, "replace", fail_on_marker)
    with pytest.raises(OSError):
        sink.compact(spark, target_files=1)
    monkeypatch.undo()
    assert sink.committed_batches() == [0, 1, 2]
    assert sink.count(spark) == sink.read(spark).count() == 30
    assert sink.compact(spark, target_files=1) == -1
    assert sink.committed_batches() == [-1]
    assert sink.count(spark) == sink.read(spark).count() == 30


def test_file_uri_root_keeps_the_ledger_beside_the_data(spark, tmp_path, monkeypatch):
    """A ``file:`` URI root is its local path: the ledger lands beside
    the data, not under a relative ``file:`` directory in the working
    directory."""
    cwd = tmp_path / "cwd"
    cwd.mkdir()
    monkeypatch.chdir(cwd)
    root = tmp_path / "sink"
    sink = IdempotentParquetSink(root.as_uri())
    assert sink.root == str(root)
    eng = BatcherEngine(spark, sink, SCHEMA, EngineConfig(max_batch_rows=40))
    rows = [(f"u{i % 3}", i, str(i)) for i in range(50)]
    for row in rows:
        eng.save_async(row)
    eng.flush()
    assert sink.committed_batches() == [0, 1]
    assert sorted(os.listdir(root / "_ledger")) == ["0", "1"]
    _check_q1_q2_q3(eng, rows)
    # a committed replay is a no-op, through either write
    assert not _write(spark, sink, "write_table", 0, 50, 0)
    assert not _write(spark, sink, "write_batch", 0, 50, 1)
    assert eng.count() == eng.read().count() == 50
    assert os.listdir(cwd) == []


@pytest.mark.parametrize("root", ["hdfs://x", "s3a://bucket/sink", "file://host/sink"])
def test_non_local_root_is_refused(tmp_path, monkeypatch, root):
    monkeypatch.chdir(tmp_path)
    with pytest.raises(ValueError, match="D12"):
        IdempotentParquetSink(root)
    assert os.listdir(tmp_path) == []
