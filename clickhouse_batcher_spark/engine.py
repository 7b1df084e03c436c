"""BatcherEngine — the reference's public API, Spark-native.

One-to-one capability mapping (reference function -> engine method):

| Reference (Go)                        | Engine                        |
|---------------------------------------|-------------------------------|
| ``NewRepository(log, enabled)``       | ``BatcherEngine(spark, cfg)`` |
| ``Connect(ctx, cfg)`` + ping retry    | ``connect()``                 |
| ``UpMigrations(ctx, dsn)``            | ``up_migrations()``           |
| ``SaveAsync(ctx, entity)``            | ``save_async(row)``           |
| flush on size cap (``hashes.go:68``)  | automatic inside save_async   |
| flush on ticker (``hashes.go:45``)    | ``start_auto_flush()`` timer  |
| ``ProcessHashes(ctx, interval)``      | ``process_stream(...)``       |
| graceful stop (``hashes.go:43``)      | ``close()``                   |
| test queries Q1/Q2/Q3                 | ``count/filtered_count/delete_where`` |

``save_async`` is the producer-convenience path (driver-side buffer,
flushed as micro-batches through the same idempotent sink); bulk and
continuous ingest should use ``process_stream`` (Structured
Streaming), where executors do the writing. The buffer flush is
guarded by a lock — the reference's racy buffer swap
(``hashes.go:46-60``, §0.1) done safely.

A flush builds its batch columnar, the analogue of the reference's
``PrepareBatch``/``Append``: rows are type-checked as
``createDataFrame`` checks them, then laid out as one Arrow table on the
driver (``columnar.py``), and the table goes to ``sink.write_table``,
the analogue of ``Send``. The parquet sink writes it from the driver
with ``pyarrow.parquet``, so a flush runs no Spark job, and a batch
under 128 MB lands as one file; other sinks write it as a
``LocalTableScan`` frame, in the JVM, with no Python worker. On a parquet
sink, Q1 reads the commit ledger: each marker ``_ledger/<N>`` holds the
row count of its batch, so a count starts no Spark job. The Q2/Q3
read-back infers the sink's schema once (``sources.readers``), so a
repeated query starts no inference job; a sink with no committed batch
reads as an empty frame of the engine's schema. ``close()`` stops the
ticker, waits for a tick flush that is already running, then flushes
the tail.
"""

from __future__ import annotations

import threading
from dataclasses import dataclass, field
from functools import cached_property

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from clickhouse_batcher_spark.columnar import ColumnarBatchBuilder
from clickhouse_batcher_spark.plans.migrations import (
    Migration,
    MigrationRunner,
    spark_sql_executor,
)
from clickhouse_batcher_spark.sinks.base import BatchSink
from clickhouse_batcher_spark.sinks.delete import delete_where
from clickhouse_batcher_spark.streaming.batcher import BatcherConfig, MicroBatcher


@dataclass
class EngineConfig:
    enabled: bool = True                  # connect.go:28-36 gate
    max_batch_rows: int = 10_000          # hashes.go:68
    flush_interval_s: float | None = None # hashes.go:45 ticker
    migrations: list[Migration] = field(default_factory=list)
    migration_state_path: str = "/tmp/chb_engine_migrations.json"
    # DDL executor for up_migrations. None -> spark.sql (managed /
    # lakehouse tables). JDBC-backed engines pass
    # ``plans.migrations.jdbc_statement_executor(spark, url, ...)`` so
    # the DDL reaches the server verbatim, like the reference's
    # ``UpMigrations(ctx, dsn)`` (migrate.go:13-34) — exercised live
    # by tests/test_jdbc_live_derby.py's full-lifecycle test.
    migration_executor: object | None = None


class BatcherEngine:
    def __init__(
        self,
        spark: SparkSession,
        sink: BatchSink,
        schema: StructType | str,
        config: EngineConfig | None = None,
    ) -> None:
        self.spark = spark
        self.sink = sink
        self.schema = schema
        self.config = config or EngineConfig()
        self._buffer: list[tuple] = []
        self._lock = threading.Lock()
        # Resume after the sink's last committed batch: a fresh engine
        # writing to an existing sink must NOT reuse batch id 0 — the
        # ledger would silently skip the new data as a replay. The hook
        # is sink-agnostic: JDBC sinks query their ledger table via
        # ``spark``, file sinks list their marker dir. Resolution is
        # DEFERRED to connect()/first flush — construction must stay
        # side-effect-free (a JDBC sink's ledger read pings the server,
        # which the reference only does inside Connect, connect.go:38-41).
        self._next_batch_id: int | None = None
        self._timer: threading.Timer | None = None
        self._connected = False

    # -- lifecycle ------------------------------------------------------
    def connect(self) -> None:
        """Ping the sink when it supports it (JDBC); parquet sinks are
        always reachable. Mirrors Connect's ping loop (connect.go:56-64)."""
        ping = getattr(self.sink, "ping", None)
        if callable(ping):
            ping(self.spark)
        self._resolve_next_batch_id()
        self._connected = True

    def _resolve_next_batch_id(self) -> int:
        """Lazily ask the sink for the resume id (idempotent; may touch
        the sink's ledger, so it runs at connect/first-flush, never at
        construction)."""
        if self._next_batch_id is None:
            self._next_batch_id = self.sink.next_batch_id(self.spark)
        return self._next_batch_id

    def up_migrations(self) -> list[int]:
        runner = MigrationRunner(
            self.config.migrations,
            self.config.migration_executor or spark_sql_executor(self.spark),
            self.config.migration_state_path,
        )
        return runner.up()

    def close(self) -> None:
        """Graceful shutdown: stop the ticker (waiting for a tick flush
        already running), flush the tail."""
        self.stop_auto_flush()
        self.flush()

    # -- producer path (SaveAsync analogue) -----------------------------
    @cached_property
    def _builder(self) -> ColumnarBatchBuilder:
        # Built on first use, not at construction: parsing a DDL schema
        # needs the Spark session.
        return ColumnarBatchBuilder(self.schema)

    def save_async(self, row: dict | tuple) -> bool:
        """Enqueue one row; silently dropped when disabled
        (hashes.go:12-15). Flushes when the buffer reaches the cap.
        A dict row is mapped by schema field name; a missing key is
        null, as ``createDataFrame`` reads dicts."""
        if not self.config.enabled:
            return False
        if isinstance(row, dict):
            row = tuple(row.get(name) for name in self._builder.names)
        flush_now = False
        with self._lock:
            self._buffer.append(row)
            flush_now = len(self._buffer) >= self.config.max_batch_rows
        if flush_now:
            self.flush()
        return True

    def flush(self) -> int:
        """Flush the current buffer as one idempotent batch; returns
        rows flushed. Empty buffer is a no-op (hashes.go:79). A row
        that fails the schema's type check fails the whole batch
        before the sink sees it."""
        self._resolve_next_batch_id()  # before the lock: may do JDBC I/O
        with self._lock:
            if not self._buffer:
                return 0
            rows, self._buffer = self._buffer, []
            batch_id = self._next_batch_id
            self._next_batch_id += 1
        table = self._builder.table(rows)
        self.sink.write_table(self.spark, table, self._builder.struct, batch_id)
        return len(rows)

    def start_auto_flush(self) -> None:
        """Time-based flushing (the reference's ticker path). A failed
        tick flush raises on the timer thread, and the next tick is
        scheduled all the same."""
        interval = self.config.flush_interval_s
        if not interval:
            return

        def tick() -> None:
            try:
                self.flush()
            finally:
                with self._lock:
                    if self._timer is not None:  # not stopped
                        self._timer = threading.Timer(interval, tick)
                        self._timer.daemon = True
                        self._timer.start()

        self._timer = threading.Timer(interval, tick)
        self._timer.daemon = True
        self._timer.start()

    def stop_auto_flush(self) -> None:
        """Cancel the ticker and wait for a tick flush that is already
        running (unless called from that tick)."""
        with self._lock:
            timer, self._timer = self._timer, None
        if timer is not None:
            timer.cancel()
            if timer is not threading.current_thread():
                timer.join()

    # -- streaming path (ProcessHashes analogue) ------------------------
    def process_stream(
        self,
        source_path: str,
        checkpoint_dir: str,
        trigger_interval: str = "1 second",
        max_files_per_trigger: int = 1,
    ):
        batcher = MicroBatcher(
            self.sink,
            BatcherConfig(
                trigger_interval=trigger_interval,
                max_files_per_trigger=max_files_per_trigger,
                enabled=self.config.enabled,
            ),
        )
        source = batcher.file_source(self.spark, source_path, self.schema)
        return batcher.start(source, checkpoint_dir)

    # -- verification query surface (Q1/Q2/Q3) --------------------------
    def read(self) -> DataFrame:
        """Every committed row; an empty frame of the engine's schema
        when the sink has no committed batch (the parquet sink raises
        ``FileNotFoundError`` then), so Q2 counts 0 and Q3 is empty, as
        on an empty ClickHouse table."""
        try:
            return self.sink.read(self.spark)
        except FileNotFoundError:
            return self.spark.createDataFrame([], self._builder.struct)

    def count(self) -> int:
        """Q1: SELECT COUNT(*) (hashes_test.go:227-233).

        Delegates to the sink's own count when it has one: the parquet
        sink sums its ledger's row counts and starts no Spark job; the
        JDBC sink pushes the whole COUNT(*) through the query option —
        one row over the wire (a DataFrame .count() on a v1 JDBC read
        would stream a 1-column projection of every row). Sinks without
        a count method keep the DataFrame path."""
        sink_count = getattr(self.sink, "count", None)
        if callable(sink_count):
            return sink_count(self.spark)
        return self.read().count()

    def filtered_count(self, **equals) -> int:
        """Q2: conjunctive-equality count (hashes_test.go:191-203)."""
        df = self.read()
        for col, val in equals.items():
            df = df.filter(F.col(col) == val)
        return df.count()

    def delete_where(self, predicate) -> DataFrame:
        """Q3: predicate delete as anti-filter (hashes_test.go:235-239)."""
        return delete_where(self.read(), predicate)

    def sql(self, query: str) -> DataFrame:
        return self.spark.sql(query)
