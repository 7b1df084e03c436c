"""BatcherEngine facade: the reference's API surface end-to-end."""

from __future__ import annotations

import datetime
import threading
import time
from decimal import Decimal

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from clickhouse_batcher_spark import BatcherEngine, EngineConfig
from clickhouse_batcher_spark.plans.migrations import Migration
from clickhouse_batcher_spark.sinks.parquet_sink import IdempotentParquetSink

SCHEMA = "user_id STRING, amount BIGINT, msg BINARY, sha256sum STRING"


def _row(i: int, user: str = "test_user_001") -> tuple:
    return (user, i, None, str(i))


def test_save_async_size_flush_and_queries(spark, tmp_path):
    """SaveAsync -> size-capped flushes -> Q1/Q2/Q3 verification."""
    sink = IdempotentParquetSink(str(tmp_path / "sink"))
    eng = BatcherEngine(
        spark, sink, SCHEMA, EngineConfig(max_batch_rows=1000)
    )
    eng.connect()
    for i in range(1, 2501):
        eng.save_async(_row(i))
    eng.close()  # flush tail

    assert eng.count() == 2500  # Q1 golden count
    assert sink.committed_batches() == [0, 1, 2]  # 2 size-capped + tail
    # Q2: each row exists exactly once
    assert eng.filtered_count(user_id="test_user_001", amount=42, sha256sum="42") == 1
    # Q3: predicate delete
    remaining = eng.delete_where(F.col("amount") <= 500)
    assert remaining.count() == 2000


def test_disabled_engine_drops_rows(spark, tmp_path):
    sink = IdempotentParquetSink(str(tmp_path / "sink"))
    eng = BatcherEngine(spark, sink, SCHEMA, EngineConfig(enabled=False))
    assert eng.save_async(_row(1)) is False
    eng.close()
    assert sink.committed_batches() == []


def test_timer_flush(spark, tmp_path):
    """The reference's ticker path: rows flush without hitting the cap."""
    sink = IdempotentParquetSink(str(tmp_path / "sink"))
    eng = BatcherEngine(
        spark,
        sink,
        SCHEMA,
        EngineConfig(max_batch_rows=1_000_000, flush_interval_s=0.5),
    )
    for i in range(1, 51):
        eng.save_async(_row(i))
    eng.start_auto_flush()
    deadline = time.time() + 10
    while time.time() < deadline and not sink.committed_batches():
        time.sleep(0.2)
    eng.stop_auto_flush()
    assert sink.committed_batches()  # flushed by timer, not by cap
    assert eng.count() == 50


def test_engine_migrations_and_sql(spark, tmp_path):
    sink = IdempotentParquetSink(str(tmp_path / "sink"))
    eng = BatcherEngine(
        spark,
        sink,
        SCHEMA,
        EngineConfig(
            migrations=[
                Migration(1, "v", "CREATE OR REPLACE TEMP VIEW eng_v AS SELECT 7 AS x")
            ],
            migration_state_path=str(tmp_path / "mig.json"),
        ),
    )
    assert eng.up_migrations() == [1]
    assert eng.sql("SELECT x FROM eng_v").collect()[0][0] == 7
    assert eng.up_migrations() == []


def test_engine_streaming_path(spark, sf_dir, tmp_path):
    """ProcessHashes analogue through the facade."""
    from clickhouse_batcher_spark.tables import load_table

    events = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "src")
    events.repartition(3).write.parquet(src)
    sink = IdempotentParquetSink(str(tmp_path / "sink"))
    eng = BatcherEngine(spark, sink, events.schema, EngineConfig())
    q = eng.process_stream(src, str(tmp_path / "ckpt"), max_files_per_trigger=1)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert eng.count() == events.count()


def test_new_engine_on_existing_sink_does_not_lose_data(spark, tmp_path):
    """Regression: a fresh engine must resume batch ids after the
    sink's ledger, not restart at 0 (which the ledger would skip as a
    replay -> silent data loss)."""
    sink = IdempotentParquetSink(str(tmp_path / "sink"))
    eng1 = BatcherEngine(spark, sink, SCHEMA, EngineConfig())
    for i in range(1, 101):
        eng1.save_async(_row(i))
    eng1.close()
    assert eng1.count() == 100

    eng2 = BatcherEngine(
        spark, IdempotentParquetSink(str(tmp_path / "sink")), SCHEMA, EngineConfig()
    )
    for i in range(101, 151):
        eng2.save_async(_row(i))
    eng2.close()
    assert eng2.count() == 150  # not 100: second engine's batch landed


def test_empty_batch_not_committed(spark, tmp_path):
    """Reference empty-skip (hashes.go:79): an empty batch writes no
    data, no marker — the id stays free for a later real batch."""
    sink = IdempotentParquetSink(str(tmp_path / "sink"))
    empty = spark.createDataFrame([], SCHEMA)
    assert sink.write_batch(empty, batch_id=0) is False
    assert sink.committed_batches() == []
    full = spark.createDataFrame([_row(1)], SCHEMA)
    assert sink.write_batch(full, batch_id=0) is True  # id not burned


def test_compact_ids_disjoint_from_live_producer(spark, tmp_path):
    """Regression (round-2 advice): compact() used to mint
    max(old_ids)+1 — exactly the id a live producer would use next, so
    that producer's batch was silently skipped as a replay. Compacted
    batches now live in a negative id space."""
    sink = IdempotentParquetSink(str(tmp_path / "sink"))
    eng = BatcherEngine(spark, sink, SCHEMA, EngineConfig(max_batch_rows=10))
    for i in range(1, 21):
        eng.save_async(_row(i))  # batches 0 and 1
    new_id = sink.compact(spark, target_files=1)
    assert new_id < 0  # disjoint from any producer id
    # The live engine keeps counting 0,1,2... — its next batch must
    # land, not be swallowed by a marker compact() just minted.
    for i in range(21, 31):
        eng.save_async(_row(i))
    eng.close()
    assert eng.count() == 30
    # A second compaction mints a fresh negative id below the first.
    assert sink.compact(spark, target_files=1) < new_id


def test_clickhouse_next_batch_id_resumes_from_ledger():
    """Regression (round-2 advice): a fresh engine over an existing
    ClickHouse ledger must resume past max(batch_id), not restart at 0
    (write_batch would skip 0 as a replay -> silent data loss)."""
    from clickhouse_batcher_spark.sinks.clickhouse import (
        ClickHouseSink,
        ClickHouseSinkConfig,
    )

    class FakeReader:
        """Models the bounded ledger protocol: the first read is the
        server-side MAX("batch_id") probe (one row), the second is the
        filter-pushed recent-window scan."""

        def __init__(self):
            self.collects = 0

        def format(self, *_): return self
        def options(self, **_): return self
        def load(self): return self
        def filter(self, *_): return self
        def select(self, *_): return self

        def collect(self):
            # collect 1 = ping (SELECT 1), 2 = MAX("batch_id") probe,
            # 3+ = the filter-pushed recent-window id scan.
            self.collects += 1
            if self.collects == 1:
                return [(1,)]
            if self.collects == 2:
                return [(3,)]
            return [(0,), (3,), (2,)]

    class FakeSpark:
        read = FakeReader()

    sink = ClickHouseSink(ClickHouseSinkConfig())
    assert sink.next_batch_id(FakeSpark()) == 4
    # The engine consumes the hook LAZILY (round-3 advice): construction
    # must be side-effect-free — no JDBC ping until connect/first flush.
    class ExplodingSpark:
        @property
        def read(self):
            raise AssertionError("engine construction touched the sink")

    eng = BatcherEngine(ExplodingSpark(), sink, SCHEMA, EngineConfig())
    assert eng._next_batch_id is None
    eng.spark = FakeSpark()
    assert eng._resolve_next_batch_id() == 4
    assert eng._next_batch_id == 4


def test_clickhouse_disabled_sink_is_inert_on_resume():
    """Round-3 advice: a disabled sink (connect.go:28-36 gate) must not
    ping or read its ledger from next_batch_id — it never writes, so
    its resume point is trivially 0 and construction stays offline."""
    from clickhouse_batcher_spark.sinks.clickhouse import (
        ClickHouseSink,
        ClickHouseSinkConfig,
    )

    class ExplodingSpark:
        @property
        def read(self):
            raise AssertionError("disabled sink performed JDBC I/O")

    sink = ClickHouseSink(ClickHouseSinkConfig(enabled=False))
    assert sink.next_batch_id(ExplodingSpark()) == 0
    eng = BatcherEngine(ExplodingSpark(), sink, SCHEMA, EngineConfig())
    assert eng._resolve_next_batch_id() == 0


def test_multisink_next_batch_id_covers_every_child(spark, tmp_path):
    from clickhouse_batcher_spark.sinks.base import MultiSink

    a = IdempotentParquetSink(str(tmp_path / "a"))
    b = IdempotentParquetSink(str(tmp_path / "b"))
    df = spark.createDataFrame([_row(1)], SCHEMA)
    a.write_batch(df, 0)
    a.write_batch(df, 1)
    b.write_batch(df, 0)
    assert MultiSink([a, b]).next_batch_id(spark) == 2


def test_clickhouse_ping_retry_then_success(monkeypatch):
    """connect.go:56-64 semantics: up to 4 attempts, then success."""
    from clickhouse_batcher_spark.sinks.clickhouse import (
        ClickHouseSink,
        ClickHouseSinkConfig,
    )

    attempts = {"n": 0}

    class FakeReader:
        def format(self, *_): return self
        def options(self, **_): return self
        def load(self):
            attempts["n"] += 1
            if attempts["n"] < 3:
                raise RuntimeError("connection refused")
            return self
        def collect(self): return []

    class FakeSpark:
        read = FakeReader()

    sink = ClickHouseSink(ClickHouseSinkConfig(ping_interval_s=0.01))
    assert sink.ping(FakeSpark()) is True
    assert attempts["n"] == 3


def test_clickhouse_ping_exhausts_retries(monkeypatch):
    from clickhouse_batcher_spark.sinks.clickhouse import (
        ClickHouseSink,
        ClickHouseSinkConfig,
    )

    class FailReader:
        def format(self, *_): return self
        def options(self, **_): return self
        def load(self): raise RuntimeError("down")

    class FakeSpark:
        read = FailReader()

    sink = ClickHouseSink(
        ClickHouseSinkConfig(ping_count=2, ping_interval_s=0.01)
    )
    import pytest as _pytest

    with _pytest.raises(ConnectionError, match="after 2 attempts"):
        sink.ping(FakeSpark())


# -- flush batch: columnar build, differential vs createDataFrame ----------
class _GatedSink(IdempotentParquetSink):
    """Parquet sink that can block in write_batch, fail its first
    write, and keep the physical plan of every frame it is handed."""

    def __init__(self, root, block=False, fail_first=False):
        super().__init__(root)
        self.started = threading.Event()
        self.release = threading.Event()
        if not block:
            self.release.set()
        self.fail_first = fail_first
        self.plans = []

    def write_batch(self, df, batch_id):
        self.plans.append(df._jdf.queryExecution().executedPlan().toString())
        self.started.set()
        self.release.wait(30)
        if self.fail_first:
            self.fail_first = False
            raise RuntimeError("sink down")
        return super().write_batch(df, batch_id)


def test_close_waits_for_running_tick_flush(spark, tmp_path):
    """close() must not return while a tick flush is still writing: a
    read right after close() would miss that batch."""
    sink = _GatedSink(str(tmp_path / "sink"), block=True)
    eng = BatcherEngine(
        spark, sink, SCHEMA, EngineConfig(max_batch_rows=1_000_000, flush_interval_s=0.2)
    )
    for i in range(1, 11):
        eng.save_async(_row(i))
    eng.start_auto_flush()
    assert sink.started.wait(30)  # the tick took the rows and is writing
    threading.Timer(0.5, sink.release.set).start()
    eng.close()
    assert sink.committed_batches() == [0]
    assert eng.count() == 10


def test_failed_tick_flush_keeps_ticking(spark, tmp_path, monkeypatch):
    """One failed tick flush must not end time-based flushing, and its
    error still surfaces on the timer thread."""
    surfaced = []
    monkeypatch.setattr(threading, "excepthook", lambda a: surfaced.append(a.exc_value))
    sink = _GatedSink(str(tmp_path / "sink"), block=True, fail_first=True)
    eng = BatcherEngine(
        spark, sink, SCHEMA, EngineConfig(max_batch_rows=1_000_000, flush_interval_s=0.2)
    )
    eng.save_async(_row(1))
    eng.start_auto_flush()
    assert sink.started.wait(30)  # the first tick holds row 1
    for i in range(2, 6):
        eng.save_async(_row(i))  # saved while that tick is in flight
    sink.release.set()  # ... and now it fails
    deadline = time.time() + 30
    while time.time() < deadline and not sink.committed_batches():
        time.sleep(0.1)
    eng.stop_auto_flush()
    assert sink.committed_batches() == [1]  # batch 0 was the failed one
    assert sorted(r.amount for r in eng.read().collect()) == [2, 3, 4, 5]
    assert [str(e) for e in surfaced] == ["sink down"]


def test_save_async_maps_dict_rows_by_field_name(spark, tmp_path):
    sink = IdempotentParquetSink(str(tmp_path / "sink"))
    eng = BatcherEngine(spark, sink, SCHEMA, EngineConfig())
    eng.save_async({"sha256sum": "9", "amount": 1, "msg": None, "user_id": "u"})
    eng.save_async({"amount": 2, "user_id": "v"})  # missing keys -> null
    eng.close()
    got = sorted(tuple(r) for r in eng.read().collect())
    assert got == [("u", 1, None, "9"), ("v", 2, None, None)]


ALL_TYPES = (
    "s STRING, b BIGINT, i INT, d DOUBLE, f BOOLEAN, bin BINARY, "
    "dec DECIMAL(10,2), dt DATE, ts TIMESTAMP, arr ARRAY<INT>"
)
_UTC2 = datetime.timezone(datetime.timedelta(hours=2))
ALL_TYPES_ROWS = [
    ("a", 1, 2, 1.5, True, b"\x00\x01", Decimal("1.23"), datetime.date(2020, 1, 2),
     datetime.datetime(2020, 1, 2, 3, 4, 5, 6, tzinfo=datetime.timezone.utc), [1, None, 3]),
    (None, None, None, None, None, None, None, None, None, None),
    ("", -(2**63), -(2**31), float("inf"), False, bytearray(b"xy"), Decimal("-0.005"),
     datetime.datetime(2021, 5, 6, 23, 59), datetime.datetime(1969, 12, 31, 23, 0, tzinfo=_UTC2),
     (7,)),
    # Values bare pyarrow would reject or store differently: non-string
    # values in the STRING column (the list path stores str() of them,
    # 'true' for a bool), a decimal the JVM rescales HALF_UP, an
    # unsigned NaN decimal (null on the list path).
    (1, 2**63 - 1, 2**31 - 1, -0.0, True, b"", Decimal("1.235"), None, None, []),
    (b"xy", 0, 0, 1e300, False, None, Decimal("NaN"), None, None, None),
    (True, 0, 0, 0.1, None, None, Decimal("99999999.99"), None, None, None),
    ({"k": 1}, 0, 0, 2.5, None, None, Decimal("1E+2"), None, None, None),
]

# Decimals and coerced strings nested in arrays, maps and structs.
NESTED = "a ARRAY<DECIMAL(10,2)>, m MAP<STRING, DECIMAL(10,2)>, st STRUCT<x: DECIMAL(10,2), y: STRING>"
NESTED_ROWS = [
    ([Decimal("1.005"), None], {"k": Decimal("2.345")}, (Decimal("0.125"), 7)),
    (None, {"k": None}, {"y": "b", "x": Decimal("3")}),
    ([], None, None),
]
# Every row the list path rejects; the engine must reject it too.
REJECTED_ROWS = {
    "float in BIGINT (bare pyarrow truncates it)": (None, 1.5) + (None,) * 8,
    "bool in BIGINT": (None, True) + (None,) * 8,
    "BIGINT out of range": (None, 2**63) + (None,) * 8,
    "INT out of range": (None, None, 2**31) + (None,) * 7,
    "int in DOUBLE": (None, None, None, 1) + (None,) * 6,
    "int in BOOLEAN": (None,) * 4 + (1,) + (None,) * 5,
    "str in BINARY": (None,) * 5 + ("x",) + (None,) * 4,
    "float in DECIMAL": (None,) * 6 + (1.5,) + (None,) * 3,
    "DECIMAL overflow after rounding": (None,) * 6 + (Decimal("99999999.995"),) + (None,) * 3,
    "str in DATE": (None,) * 7 + ("2020-01-02",) + (None,) * 2,
    "date in TIMESTAMP": (None,) * 8 + (datetime.date(2020, 1, 2), None),
    "float in ARRAY<INT>": (None,) * 9 + ([1.5],),
    "str as ARRAY<INT>": (None,) * 9 + ("ab",),
    "too few fields": ("a", 1),
}


def _sorted_rows(df):
    return sorted(repr(r) for r in df.collect())


@pytest.mark.parametrize("schema, rows", [(ALL_TYPES, ALL_TYPES_ROWS), (NESTED, NESTED_ROWS)])
def test_flush_batch_matches_create_dataframe(spark, tmp_path, schema, rows):
    """Differential: the batch read back after a flush equals the
    frame ``spark.createDataFrame(rows, schema)`` builds."""
    sink = _GatedSink(str(tmp_path / "sink"))
    eng = BatcherEngine(spark, sink, schema, EngineConfig())
    for row in rows:
        eng.save_async(row)
    assert eng.flush() == len(rows)
    want = spark.createDataFrame(rows, schema)
    got = eng.read()
    assert got.dtypes == want.dtypes
    assert _sorted_rows(got) == _sorted_rows(want)
    # The frame the sink was handed is a local Arrow scan: its write
    # runs in the JVM and starts no Python worker.
    assert "ExistingRDD" not in sink.plans[0]
    assert "LocalTableScan" in sink.plans[0]
    assert "ExistingRDD" in want._jdf.queryExecution().executedPlan().toString()


def test_flush_batch_stores_string_form_of_non_strings(spark, tmp_path):
    sink = IdempotentParquetSink(str(tmp_path / "sink"))
    eng = BatcherEngine(spark, sink, ALL_TYPES, EngineConfig())
    for row in ALL_TYPES_ROWS:
        eng.save_async(row)
    eng.close()
    assert {"1", "b'xy'", "true", "{'k': 1}"} <= {r.s for r in eng.read().collect()}


@pytest.mark.parametrize("case", sorted(REJECTED_ROWS))
def test_flush_rejects_what_create_dataframe_rejects(spark, tmp_path, case):
    bad = REJECTED_ROWS[case]
    with pytest.raises(Exception):
        spark.createDataFrame([bad], ALL_TYPES).collect()
    sink = _GatedSink(str(tmp_path / "sink"))
    eng = BatcherEngine(spark, sink, ALL_TYPES, EngineConfig())
    eng.save_async(ALL_TYPES_ROWS[0])
    eng.save_async(bad)
    with pytest.raises(Exception):
        eng.flush()
    assert sink.plans == []  # rejected before the sink saw a frame
    assert sink.committed_batches() == []


def test_bare_pyarrow_differs_from_list_path():
    """Why the builder keeps PySpark's verifier and converters."""
    assert pa.array([1.5], pa.int64()).to_pylist() == [1]  # silent truncation
    with pytest.raises(pa.ArrowTypeError):
        pa.array([1], pa.string())
    assert pa.array([b"xy"], pa.string()).to_pylist() == ["xy"]


def test_naive_timestamp_reads_in_os_local_zone(spark, tmp_path, monkeypatch):
    """The list path turns a naive datetime into an instant through
    ``time.mktime`` (the OS zone, not the session zone); so must the
    flush batch."""
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        rows = [(datetime.datetime(2020, 1, 2, 3, 4, 5),), (datetime.datetime(2020, 7, 1, 12, 0),)]
        sink = IdempotentParquetSink(str(tmp_path / "sink"))
        eng = BatcherEngine(spark, sink, "ts TIMESTAMP", EngineConfig())
        for row in rows:
            eng.save_async(row)
        eng.close()
        micros = F.unix_micros("ts").alias("us")
        got = sorted(r.us for r in eng.read().select(micros).collect())
        want = sorted(r.us for r in spark.createDataFrame(rows, "ts TIMESTAMP").select(micros).collect())
        assert got == want
        utc = datetime.timezone.utc
        assert got == [  # EST (UTC-5) in January, EDT (UTC-4) in July
            int(datetime.datetime(2020, 1, 2, 8, 4, 5, tzinfo=utc).timestamp() * 1e6),
            int(datetime.datetime(2020, 7, 1, 16, 0, tzinfo=utc).timestamp() * 1e6),
        ]
    finally:
        monkeypatch.undo()
        time.tzset()
