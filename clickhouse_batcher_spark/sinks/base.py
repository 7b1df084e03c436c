"""Sink interface shared by batch and streaming delivery paths."""

from __future__ import annotations

import abc

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from clickhouse_batcher_spark.columnar import table_frame


class BatchSink(abc.ABC):
    """A sink that accepts micro-batches keyed by a monotonically
    increasing ``batch_id`` and must deliver each batch exactly once.

    Mirrors the reference repository's contract (``save(ctx, b)`` at
    ``hashes.go:76-102``: skip empty, skip already-sent, else insert)
    with the ``isSent`` atomic flag replaced by a durable ledger so the
    guarantee holds across process restarts — the property the
    reference's in-memory flag cannot provide.
    """

    @abc.abstractmethod
    def write_batch(self, df: DataFrame, batch_id: int) -> bool:
        """Deliver one micro-batch. Returns True if written, False if
        skipped (empty batch or batch_id already delivered)."""

    def write_table(
        self, spark: SparkSession, table: pa.Table, struct: StructType, batch_id: int
    ) -> bool:
        """Deliver one micro-batch that is already an Arrow table on the
        driver (an engine flush, ``columnar.ColumnarBatchBuilder.table``)
        with the same contract as ``write_batch``. Default: the table as
        a ``LocalTableScan`` frame of ``struct``, through ``write_batch``.
        A sink that can store the table without a Spark job overrides
        this."""
        return self.write_batch(table_frame(spark, table, struct), batch_id)

    def next_batch_id(self, spark=None) -> int:
        """First batch id a fresh producer should use against this sink.

        A producer that restarts over an existing sink must NOT reuse a
        committed id — the ledger would silently skip the new data as a
        replay. Default: 0, for stateless sinks. Sinks with a ledger
        override this: the parquet sink lists its markers, and sinks
        whose ledger lives behind a connection (JDBC) use ``spark`` to
        query it.
        """
        return 0

    def foreach_batch(self):
        """Adapter for ``writeStream.foreachBatch``."""

        def _fn(df: DataFrame, batch_id: int) -> None:
            self.write_batch(df, batch_id)

        return _fn


class MultiSink(BatchSink):
    """Fan one micro-batch out to several sinks under ONE batch id —
    the lake-copy-plus-warehouse topology (e.g. parquet + ClickHouse)
    fed by a single stream.

    Each child keeps its own ledger, so delivery is per-sink
    exactly-once: if sink A commits and sink B crashes, the replay
    skips A (committed) and retries B — the cross-sink analogue of the
    partial-write healing inside IdempotentParquetSink. The batch is
    cached for the duration of the fan-out so the upstream plan runs
    once, not once per sink.
    """

    def __init__(self, sinks: list[BatchSink]) -> None:
        if not sinks:
            raise ValueError("MultiSink needs at least one sink")
        self.sinks = list(sinks)

    def write_batch(self, df: DataFrame, batch_id: int) -> bool:
        df = df.cache()
        try:
            wrote_any = False
            for sink in self.sinks:
                wrote_any = sink.write_batch(df, batch_id) or wrote_any
            return wrote_any
        finally:
            df.unpersist()

    def next_batch_id(self, spark=None) -> int:
        """A fresh id must be new to EVERY child ledger."""
        return max(sink.next_batch_id(spark) for sink in self.sinks)
