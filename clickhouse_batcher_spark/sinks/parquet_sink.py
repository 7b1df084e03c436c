"""Idempotent parquet sink: batch-partitioned append with a ledger.

Layout::

    <root>/data/_batch_id=<N>/part-*.parquet   -- one dir per batch
    <root>/_ledger/<N>                         -- commit marker: the batch's row count
    <root>/_retired/<C>                        -- ids compaction <C> retires

Exactly-once logic (replaces the reference's racy in-memory ``isSent``
flag, ``hashes.go:70-83``):

- a batch is *committed* iff its ledger marker exists;
- ``write_batch``/``write_table`` on a committed batch_id is a no-op
  (replay-safe);
- an uncommitted replay **removes and rewrites** that batch's
  partition directory, so a crash between data-write and marker-write
  heals on retry instead of duplicating rows (the reference's TOCTOU
  window);
- the marker is written to a temporary file beside ``_ledger/`` and
  renamed into it, so a crash mid-write never leaves an empty or
  partial marker that would count as committed.

Scale: the data dir is a normal partitioned parquet dataset — at
100 TB this is exactly how a streaming ingest lands on a data lake
(partition per micro-batch, compaction downstream). The ledger is one
tiny marker file per batch. ``write_batch`` (``process_stream``, any
frame) writes with the executors; only the marker is driver-side, and
its row count is read from the footers of the files just written (no
``Observation``, no second scan). An engine flush is already an Arrow
table on the driver, so ``write_table`` writes it there with
``pyarrow.parquet`` and runs no Spark job: one ``part-*.parquet`` file
per 128 MB (``layout.partitions_for``), snappy-compressed, with Spark's
own footer keys (the row schema and the Spark version), so Spark reads
the engine's exact schema back and rebases no dates.

Q1 (``count``) reads the ledger, not the data: each marker holds the
row count of its batch, as ClickHouse answers ``COUNT(*)`` from
per-part row counts, so Q1 starts no Spark job. A marker that holds
no integer is an error, not a batch to count another way.

Read-back (Q2/Q3 and ``compact``) goes through
``sources.readers.read_parquet``: the schema is inferred once, from the
first committed batch directory, and a committed directory is never
rewritten, so later reads start no inference job. ``compact`` and a
sink root deleted and recreated change that first directory, and so
the key.

With no native Hadoop library each file or directory Hadoop creates
costs a ``chmod`` fork (``session.py``). So the committer writes no
``_SUCCESS`` file into a batch directory (the ledger marker is the
batch's commit), and ``write_batch`` makes the batch directory and the
committer's staging path itself, in one ``os.makedirs``, then appends
into them. What Hadoop still creates per write is the task attempt
directory, the part file and its ``.crc``.

The root is a local path or a ``file:`` URI; the ledger, ``_retired/``,
``write_table`` and ``write_batch``'s directories and footer reads use
the driver's own filesystem. A root on another filesystem
(``hdfs://``, ``s3a://``) is refused: its data would land on the store
and its ledger on the driver's disk (ROADMAP.md D12).
"""

from __future__ import annotations

import contextlib
import os
import shutil
import uuid
from urllib.parse import urlsplit

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from clickhouse_batcher_spark.sinks.base import BatchSink
from clickhouse_batcher_spark.sources.layout import partitions_for
from clickhouse_batcher_spark.sources.readers import read_parquet


# Hadoop output-committer option: no ``_SUCCESS`` file in the output
# directory, for writes whose commit is recorded elsewhere.
MARK_SUCCESS = "mapreduce.fileoutputcommitter.marksuccessfuljobs"

# FileOutputCommitter's task staging directory under application
# attempt 0: ``_temporary`` (``PENDING_DIR_NAME``), the attempt number,
# then ``_temporary`` again. Hadoop creates only what is missing.
COMMITTER_STAGING = "_temporary/0/_temporary"


def _local_root(root: str) -> str:
    """``root`` as a local path: a ``file:`` URI becomes its path, and
    any other scheme raises ``ValueError``."""
    parts = urlsplit(root)
    if parts.scheme == "file" and parts.netloc in ("", "localhost"):
        return parts.path
    if len(parts.scheme) > 1:  # one letter is a Windows drive
        raise ValueError(
            f"parquet sink root {root!r}: only local paths and file: URIs are "
            "supported; the ledger is kept on the driver's disk "
            "(ROADMAP.md D12)"
        )
    return root


class IdempotentParquetSink(BatchSink):
    def __init__(self, root: str) -> None:
        self.root = _local_root(root).rstrip("/")
        self.data_dir = f"{self.root}/data"
        self.ledger_dir = f"{self.root}/_ledger"
        self.retired_dir = f"{self.root}/_retired"  # made by compact()
        os.makedirs(self.ledger_dir, exist_ok=True)

    # -- ledger ---------------------------------------------------------
    def _marker(self, batch_id: int) -> str:
        return f"{self.ledger_dir}/{int(batch_id)}"

    def _batch_dir(self, batch_id: int) -> str:
        return f"{self.data_dir}/_batch_id={int(batch_id)}"

    def is_committed(self, batch_id: int) -> bool:
        return os.path.exists(self._marker(batch_id))

    def committed_batches(self) -> list[int]:
        """Every id with a marker, retired ones included (see
        ``compact``): a producer must not reuse them."""
        return sorted(int(p) for p in os.listdir(self.ledger_dir))

    def _retirements(self) -> dict[int, list[int]]:
        """Compaction id -> the ids it retires, for each compaction whose
        old batches are not all removed yet."""
        try:
            names = os.listdir(self.retired_dir)
        except FileNotFoundError:
            return {}
        out = {}
        for name in names:
            with open(f"{self.retired_dir}/{name}") as fh:
                out[int(name)] = [int(b) for b in fh.read().split()]
        return out

    def _live_batches(self) -> list[int]:
        """The committed ids whose rows are read: all but those retired
        by a committed compaction (their markers outlive it only when
        it failed part way)."""
        retired = {
            b for c, ids in self._retirements().items() if self.is_committed(c) for b in ids
        }
        return [b for b in self.committed_batches() if b not in retired]

    def next_batch_id(self, spark=None) -> int:
        """One past every id that is committed or still listed as
        retired, and never below 0 (compacted ids are negative). A
        retired id stays taken until its compaction is finished: a new
        batch under that id would be hidden as retired."""
        retired = [b for ids in self._retirements().values() for b in ids]
        return max([-1, *self.committed_batches(), *retired]) + 1

    def _publish(self, path: str, text: str) -> None:
        """Write ``text`` to ``path`` atomically: to a temporary file in
        the sink root (same filesystem, outside ``_ledger/`` and
        ``_retired/``), then renamed into place."""
        tmp = f"{self.root}/.publish-{uuid.uuid4().hex}.tmp"
        try:
            with open(tmp, "w") as fh:
                fh.write(text)
            os.replace(tmp, path)
        except OSError:
            with contextlib.suppress(OSError):
                os.remove(tmp)
            raise

    def _commit(self, batch_id: int, rows: int) -> None:
        """Commit a written batch: its marker holds the row count. The
        marker is written last (its mtime is the batch's commit time)."""
        self._publish(self._marker(batch_id), str(rows))

    def _write_and_commit(self, df: DataFrame, batch_id: int) -> int:
        """Rewrite the batch's partition directory, then commit its
        marker with the row count; returns that count. Removing the
        directory first heals partial writes from a crashed earlier
        attempt. The directory and the committer's staging path are
        made here in one ``os.makedirs``, so Hadoop forks no ``chmod``
        for them, and the write appends into them. The count is read
        from the footers of the written files: it is what they hold,
        and it costs no second scan of the source (which would also
        double ``numInputRows`` in streaming metrics)."""
        batch_dir = self._batch_dir(batch_id)
        shutil.rmtree(batch_dir, ignore_errors=True)
        os.makedirs(f"{batch_dir}/{COMMITTER_STAGING}")
        df.write.mode("append").option(MARK_SUCCESS, "false").parquet(batch_dir)
        rows = sum(
            pq.read_metadata(f"{batch_dir}/{name}").num_rows
            for name in os.listdir(batch_dir)
            if not name.startswith(("_", "."))
        )
        if rows == 0:
            # reference empty-skip (hashes.go:79): no data, no marker —
            # the id stays free for a later real batch
            shutil.rmtree(batch_dir, ignore_errors=True)
            return 0
        self._commit(batch_id, rows)
        return rows

    # -- sink -----------------------------------------------------------
    def write_batch(self, df: DataFrame, batch_id: int) -> bool:
        if self.is_committed(batch_id):
            return False  # replay of a committed batch: exactly-once no-op
        return self._write_and_commit(df, batch_id) > 0

    def write_table(
        self, spark: SparkSession, table: pa.Table, struct: StructType, batch_id: int
    ) -> bool:
        """``write_batch`` for a table already on the driver: the same
        replay no-op, overwrite, empty-skip and marker, with the data
        written by ``pyarrow.parquet`` instead of a Spark job."""
        if self.is_committed(batch_id):
            return False
        batch_dir = self._batch_dir(batch_id)
        shutil.rmtree(batch_dir, ignore_errors=True)  # heal a partial write
        if table.num_rows == 0:
            return False
        table = table.replace_schema_metadata({
            "org.apache.spark.version": spark.version,
            "org.apache.spark.sql.parquet.row.metadata": struct.json(),
        })
        os.makedirs(batch_dir)
        files = partitions_for(table.nbytes)
        step = -(-table.num_rows // files)
        name = uuid.uuid4().hex
        for i in range(files):
            pq.write_table(
                table.slice(i * step, step),
                f"{batch_dir}/part-{i:05d}-{name}.snappy.parquet",
                compression="snappy",
            )
        self._commit(batch_id, table.num_rows)
        return True

    # -- read-back ------------------------------------------------------
    def _read_batches(self, spark: SparkSession, batch_ids: list[int]) -> DataFrame:
        df = read_parquet(
            spark,
            *[self._batch_dir(b) for b in batch_ids],
            base_path=self.data_dir,
        )
        return df.drop("_batch_id") if "_batch_id" in df.columns else df

    def read(self, spark: SparkSession) -> DataFrame:
        """Read back every live committed batch (uncommitted dirs and
        retired batches excluded)."""
        live = self._live_batches()
        if not live:
            raise FileNotFoundError(f"no committed batches under {self.root}")
        return self._read_batches(spark, live)

    def count(self, spark: SparkSession) -> int:
        """Q1: the sum of the live batches' ledger row counts, 0 for an
        empty sink; starts no Spark job. A marker that holds no integer
        raises ``ValueError``."""
        total = 0
        for b in self._live_batches():
            with open(self._marker(b)) as fh:
                total += int(fh.read())
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

        The compacted marker records the row count read from the
        compaction's own files, not the sum of the old markers.

        Crash-safe ordering: record the retired ids in ``_retired/<new
        id>`` (by rename), write the compacted data, commit its marker,
        then drop old markers, old data and the record. Once the
        compacted marker is committed, reads skip the retired ids, so a
        crash anywhere leaves every row visible exactly once: before the
        commit the old batches are live, after it the compacted one. The
        next ``compact()`` finishes an interrupted removal first.
        """
        self._finish_compactions()
        old_ids = self.committed_batches()
        if not old_ids:
            return 0
        new_id = min(0, min(old_ids)) - 1
        os.makedirs(self.retired_dir, exist_ok=True)
        self._publish(f"{self.retired_dir}/{new_id}", "\n".join(map(str, old_ids)))
        df = self._read_batches(spark, old_ids)
        self._write_and_commit(df.coalesce(target_files), new_id)
        self._finish_compactions()
        return new_id

    def _finish_compactions(self) -> None:
        """Remove what each committed compaction retires: the old
        markers, then the old data, then its record. A record whose
        compaction never committed retires nothing and is dropped."""
        for new_id, old_ids in self._retirements().items():
            if self.is_committed(new_id):
                for b in old_ids:
                    with contextlib.suppress(FileNotFoundError):
                        os.remove(self._marker(b))
                for b in old_ids:
                    shutil.rmtree(self._batch_dir(b), ignore_errors=True)
            os.remove(f"{self.retired_dir}/{new_id}")
