"""Micro-batched streaming ingest — the reference's core pipeline.

Reference dataflow (``SaveAsync`` -> worker -> flush, ``hashes.go``):

- bounded in-memory queue, producers block when full
  (``connect.go:11``, ``hashes.go:17``)            -> source rate cap
  (``maxFilesPerTrigger`` / ``maxOffsetsPerTrigger``): backpressure is
  pull-based in Spark, the source never outruns the trigger;
- flush on timer tick OR batch reaching 10,000 rows, whichever first
  (``hashes.go:33-68``)                            -> ``trigger(
  processingTime=T)`` + the source-side size cap. Spark's trigger is
  time-driven; the size cap bounds every batch at N, so every row is
  durable within max(T, time-to-N-rows) — the same observable
  guarantee (SURVEY §4.3);
- idempotent ``save`` guarded by ``isSent``
  (``hashes.go:70-102``)                           -> ``foreachBatch``
  into a :class:`BatchSink` whose durable ledger is keyed on
  ``batchId``. Unlike ``isSent`` (in-memory, TOCTOU-racy), the ledger
  plus the streaming checkpoint give exactly-once across restarts;
- graceful shutdown on context cancel (``hashes.go:43-44``)
  -> ``query.stop()``.

Scale: this is the one place the engine is *designed around* Spark's
execution model rather than mapped onto it — micro-batch is
Structured Streaming's native unit. At 100 TB/day the same code runs
against Kafka (``maxOffsetsPerTrigger``) with executors writing in
parallel; nothing here is driver-bound except the tiny ledger commit.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from clickhouse_batcher_spark.sinks.base import BatchSink


@dataclass
class BatcherConfig:
    """Operating constants; defaults mirror the reference's.

    ``trigger_interval`` is the reference's flush ticker.
    ``max_files_per_trigger`` caps each micro-batch at that many source
    files: the size half of its size-or-time flush, given files of at
    most ``maxBatchCap`` 10,000 rows (``hashes.go:68``), as the engine's
    own flush path writes. ``enabled`` is its config gate
    (``connect.go:28-36``).
    """

    trigger_interval: str = "1 second"
    max_files_per_trigger: int = 1
    enabled: bool = True


class MicroBatcher:
    """Wires a streaming source through a size-or-time trigger into an
    idempotent :class:`BatchSink`."""

    def __init__(self, sink: BatchSink, config: BatcherConfig | None = None) -> None:
        self.sink = sink
        self.config = config or BatcherConfig()

    # -- sources --------------------------------------------------------
    def file_source(
        self, spark: SparkSession, path: str, schema: StructType
    ) -> DataFrame:
        """Parquet-file streaming source with a per-trigger size cap.

        ``maxFilesPerTrigger`` is the file-source form of the
        reference's batch cap: with writers emitting bounded files,
        rows-per-batch is bounded, and an idle source still flushes
        whatever arrived when the trigger fires (time path), so the
        size-or-time flush guarantee (``hashes.go:33-68``) always holds.
        """
        cap = self.config.max_files_per_trigger
        if cap < 1:
            raise ValueError(f"max_files_per_trigger must be >= 1, got {cap}")
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", str(cap))
            .parquet(path)
        )

    # -- run loop (R5: ProcessHashes, connect.go:75-79) -----------------
    def start(
        self,
        source: DataFrame,
        checkpoint_dir: str,
        query_name: str = "chb_ingest",
    ) -> StreamingQuery:
        """Start the ingest stream; returns the query handle.

        A disabled batcher still runs the stream but drops every batch
        (the reference's silent-drop gate, ``hashes.go:12-15``) —
        offsets advance so re-enabling does not replay the dropped data,
        matching the reference's observable behavior.
        """
        sink_fn = (
            self.sink.foreach_batch()
            if self.config.enabled
            else (lambda df, batch_id: None)
        )
        return (
            source.writeStream.queryName(query_name)
            .foreachBatch(sink_fn)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(processingTime=self.config.trigger_interval)
            .start()
        )

    def run_until_drained(self, source: DataFrame, checkpoint_dir: str) -> None:
        """Synchronous drain: process everything available, then stop.

        The test-harness analogue of the reference's busy-wait drain
        (``hashes_test.go:218-224``) — but deterministic:
        ``processAllAvailable`` blocks until the source is exhausted.
        """
        query = self.start(source, checkpoint_dir)
        try:
            query.processAllAvailable()
        finally:
            query.stop()
            query.awaitTermination()
