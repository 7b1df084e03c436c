"""Sinks: idempotent batched delivery (the reference's core capability).

The reference's sink is an idempotent batched INSERT into ClickHouse
guarded by a per-batch ``isSent`` flag (``hashes.go:70-102``). That
design has a TOCTOU race (``hashes.go:79-83``) and loses the flag on
restart. Here the guard is a durable **batch ledger** keyed on
``batch_id`` — the Structured Streaming ``foreachBatch(df, batchId)``
idiom — which survives restarts and replays exactly-once.
"""

from clickhouse_batcher_spark.sinks.base import BatchSink
from clickhouse_batcher_spark.sinks.parquet_sink import IdempotentParquetSink
from clickhouse_batcher_spark.sinks.clickhouse import ClickHouseSink, ClickHouseSinkConfig
from clickhouse_batcher_spark.sinks.delete import delete_where

__all__ = [
    "BatchSink",
    "IdempotentParquetSink",
    "ClickHouseSink",
    "ClickHouseSinkConfig",
    "delete_where",
]
