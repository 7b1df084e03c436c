"""Idempotent parquet sink: batch-partitioned append with a ledger.

Layout::

    <root>/data/_batch_id=<N>/part-*.parquet   -- one dir per batch
    <root>/_ledger/<N>                         -- commit marker: the batch's row count

Exactly-once logic (replaces the reference's racy in-memory ``isSent``
flag, ``hashes.go:70-83``):

- a batch is *committed* iff its ledger marker exists;
- ``write_batch`` on a committed batch_id is a no-op (replay-safe);
- an uncommitted replay **overwrites** that batch's partition
  directory, so a crash between data-write and marker-write heals on
  retry instead of duplicating rows (the reference's TOCTOU window);
- the marker is written to a temporary file beside ``_ledger/`` and
  renamed into it, so a crash mid-write never leaves an empty or
  partial marker that would count as committed.

Scale: the data dir is a normal partitioned parquet dataset — at
100 TB this is exactly how a streaming ingest lands on a data lake
(partition per micro-batch, compaction downstream). The ledger is one
tiny marker file per batch. Writing uses the executors (distributed);
only the marker is driver-side. A default engine flush lands as one
file in its batch directory (``columnar.py`` sizes the write).

Q1 (``count``) reads the ledger, not the data: each marker holds the
row count its write observed, as ClickHouse answers ``COUNT(*)`` from
per-part row counts, so Q1 starts no Spark job. A marker written by an
older build holds a word (``committed``/``compacted``), not a count;
those batches are counted with one Spark job.

Read-back (Q2/Q3 and ``compact``) goes through
``sources.readers.read_parquet``: the schema is inferred once, from the
first committed batch directory, and a committed directory is never
rewritten, so later reads start no inference job. ``compact`` and a
sink root deleted and recreated change that first directory, and so
the key.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from clickhouse_batcher_spark.sinks.base import BatchSink
from clickhouse_batcher_spark.sources.readers import read_parquet


class IdempotentParquetSink(BatchSink):
    def __init__(self, root: str) -> None:
        self.root = root.rstrip("/")
        self.data_dir = f"{self.root}/data"
        self.ledger_dir = f"{self.root}/_ledger"
        os.makedirs(self.ledger_dir, exist_ok=True)

    # -- ledger ---------------------------------------------------------
    def _marker(self, batch_id: int) -> str:
        return f"{self.ledger_dir}/{int(batch_id)}"

    def is_committed(self, batch_id: int) -> bool:
        return os.path.exists(self._marker(batch_id))

    def committed_batches(self) -> list[int]:
        return sorted(int(p) for p in os.listdir(self.ledger_dir))

    def _write_and_commit(self, df: DataFrame, batch_id: int) -> int:
        """Overwrite (not append) the batch's partition directory, then
        commit its marker with the row count; returns that count. The
        overwrite heals partial writes from a crashed earlier attempt.
        The row count is observed DURING the write — a pre-write
        isEmpty() would be a second scan of the source (and double
        numInputRows in streaming metrics). The marker is written last
        (its mtime is the batch's commit time), atomically: to a
        temporary file in the sink root (same filesystem, outside
        ``_ledger/``), then renamed into place."""
        batch_dir = f"{self.data_dir}/_batch_id={int(batch_id)}"
        obs = Observation()
        df.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode(
            "overwrite"
        ).parquet(batch_dir)
        rows = obs.get["rows"]
        if rows == 0:
            # reference empty-skip (hashes.go:79): no data, no marker —
            # the id stays free for a later real batch
            shutil.rmtree(batch_dir, ignore_errors=True)
            return 0
        tmp = f"{self.root}/.ledger-{int(batch_id)}-{uuid.uuid4().hex}.tmp"
        try:
            with open(tmp, "w") as fh:
                fh.write(str(rows))
            os.replace(tmp, self._marker(batch_id))
        except OSError:
            with contextlib.suppress(OSError):
                os.remove(tmp)
            raise
        return rows

    # -- sink -----------------------------------------------------------
    def write_batch(self, df: DataFrame, batch_id: int) -> bool:
        if self.is_committed(batch_id):
            return False  # replay of a committed batch: exactly-once no-op
        return self._write_and_commit(df, batch_id) > 0

    # -- read-back ------------------------------------------------------
    def _read_batches(self, spark: SparkSession, batch_ids: list[int]) -> DataFrame:
        df = read_parquet(
            spark,
            *[f"{self.data_dir}/_batch_id={b}" for b in batch_ids],
            base_path=self.data_dir,
        )
        return df.drop("_batch_id") if "_batch_id" in df.columns else df

    def read(self, spark: SparkSession) -> DataFrame:
        """Read back every committed batch (uncommitted dirs excluded)."""
        committed = self.committed_batches()
        if not committed:
            raise FileNotFoundError(f"no committed batches under {self.root}")
        return self._read_batches(spark, committed)

    def count(self, spark: SparkSession) -> int:
        """Q1: the sum of the ledger's row counts, 0 for an empty sink.
        Batches whose marker holds no count (an older build wrote the
        word ``committed`` or ``compacted``) are counted in one Spark
        job over those batches only."""
        total, legacy = 0, []
        for b in self.committed_batches():
            with open(self._marker(b)) as fh:
                text = fh.read()
            try:
                total += int(text)
            except ValueError:
                legacy.append(b)
        if legacy:
            total += self._read_batches(spark, legacy).agg(F.count(F.lit(1))).collect()[0][0]
        return total

    # -- maintenance ----------------------------------------------------
    def compact(self, spark: SparkSession, target_files: int = 8) -> int:
        """Consolidate all committed batch directories into one compacted
        batch. Micro-batch ingest leaves one small directory per batch;
        compaction rewrites them as ``target_files`` files under a fresh
        batch id and retires the old ids — the standard small-files
        maintenance job, run out-of-band (streaming ingest can continue
        appending new batch ids meanwhile; only the ids captured at the
        start are retired).

        Compacted batches live in a DISJOINT id space — negative ids
        counting down from -1. Producers (engine resume, streaming
        epochs) only ever allocate ids >= 0, so a compaction running
        concurrently with live ingest can never mint an id the stream
        is about to use (which would make ``is_committed`` silently
        swallow that stream batch while its checkpoint advanced —
        permanent row loss).

        The compacted marker records the row count observed during the
        compaction's own write, not the sum of the old markers.

        Crash-safe ordering: write compacted data, commit its marker,
        then drop old markers before old data — a crash in between
        leaves either extra (ignored) data dirs or a fully valid state,
        never missing rows.
        """
        old_ids = self.committed_batches()
        if not old_ids:
            return 0
        new_id = min(0, min(old_ids)) - 1
        df = self._read_batches(spark, old_ids)
        self._write_and_commit(df.coalesce(target_files), new_id)
        for b in old_ids:
            os.remove(self._marker(b))
        for b in old_ids:
            shutil.rmtree(f"{self.data_dir}/_batch_id={b}", ignore_errors=True)
        return new_id
