"""Streaming incremental near-duplicate detection: the at-ingestion
dedup gate.

The batch MinHash-LSH detector (operators/dedup.py) answers "which
pairs in the corpus are near-dups"; an INGESTION pipeline needs the
incremental question instead: as new documents stream in, which of
them collide with what was ingested before them? That is the
at-ingestion dedup gate every large training-data pipeline runs
(reject or flag near-dups before they ever land), restated
Spark-first: a ``readStream`` file source, and inside ``foreachBatch``
an equi-join on ``(band_id, band_sig)`` of each micro-batch against
itself and against the signatures of every earlier batch. The batch's
own signatures then join the index for the batches after it.

Shares the signature function (``dedup.signature_bands``) with the
batch detector's pair memo, so a document gets the SAME signature
whether indexed in batch or scored in-flight: the union of the
per-batch outputs is the batch detector's band-collision pair set, the
equivalence the tests pin.

Scale: the index is an ordinary parquet table partitioned by batch
id; both join sides hash on the band key, and each micro-batch joins
only its own (small) signature set. No streaming state grows, because
the index is external (appended by the gate's own committed batches)
rather than held in a state store.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clickhouse_batcher_spark.operators import memo
from clickhouse_batcher_spark.operators.dedup import band_signatures_inline
from clickhouse_batcher_spark.sinks.parquet_sink import MARK_SUCCESS


def _prior_index_paths(
    spark: SparkSession, index_dir: str, batch_id: int
) -> list[str]:
    """The index partitions ``index_dir/_batch_id=N`` with
    ``N < batch_id``, listed through Spark's own filesystem layer (a
    driver-local os.listdir would silently miss an object-store
    index_dir and score every batch only against itself). An absent
    index directory has no partitions."""
    root = spark._jvm.org.apache.hadoop.fs.Path(index_dir)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(root):
        return []
    paths = []
    for status in fs.listStatus(root):
        key, _, n = status.getPath().getName().partition("=")
        if status.isDirectory() and key == "_batch_id" and int(n) < batch_id:
            paths.append(status.getPath().toString())
    return paths


def _ingest_batch(
    index_dir: str, out_dir: str, batch: DataFrame, batch_id: int
) -> None:
    """One micro-batch of the self-indexing gate: match the batch
    against every PREVIOUSLY committed batch's signatures plus itself,
    then commit this batch's own signatures to the index.

    Replay safety: both writes are overwrite-by-batch-id, and the
    index read takes only the partitions with ``_batch_id < batch_id``
    — a replayed batch never sees the signatures its crashed
    predecessor may have half committed, so the output is
    bit-identical under any replay schedule. The stream's commit log
    commits the batch, so neither write leaves a ``_SUCCESS`` file."""
    spark = batch.sparkSession
    # In-row signatures: bit-identical to the batch path, zero
    # shuffles. Cut before any join: each side of the within-batch
    # self-join and the prior join otherwise re-ran the 16 sha2 folds
    # (.cache() did not prevent it); cut, the kernel runs in one job
    # per batch.
    sigs = memo.materialize(band_signatures_inline(batch))
    try:
        a = sigs.alias("a")
        b = sigs.alias("b")
        matches = a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        ).select(
            F.col("b.doc_id").alias("doc_id"),
            F.col("a.doc_id").alias("index_doc_id"),
        )
        prior_paths = _prior_index_paths(spark, index_dir, batch_id)
        if prior_paths:
            # explicit schema: no footer inference over an index whose
            # partition count grows with every committed batch
            prior = spark.read.schema(
                "doc_id BIGINT, band_id INT, band_sig STRING"
            ).parquet(*prior_paths)
            matches = matches.unionByName(
                sigs.join(
                    prior.withColumnRenamed("doc_id", "index_doc_id"),
                    ["band_id", "band_sig"],
                ).select("doc_id", "index_doc_id")
            )
        matches.distinct().write.mode("overwrite").option(MARK_SUCCESS, "false").parquet(
            f"{out_dir}/_batch_id={batch_id}"
        )
        sigs.write.mode("overwrite").option(MARK_SUCCESS, "false").parquet(
            f"{index_dir}/_batch_id={batch_id}"
        )
    finally:
        memo.release(sigs, f"near-dup gate batch {batch_id}")


def run_streaming_neardup_selfindex(
    spark: SparkSession,
    src_dir: str,
    schema,
    out_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
) -> None:
    """The complete at-ingestion dedup gate: documents stream in, each
    micro-batch is scored against everything ingested before it (plus
    within-batch), and its signatures join the index for the batches
    after it. The union of all per-batch outputs is exactly the batch
    detector's band-collision pair set over the same corpus — the
    equivalence the test pins — regardless of how the stream was cut
    into batches.

    Scale: the index is an ordinary parquet table partitioned by
    batch; both join sides hash on the band key, no streaming state
    grows, and compaction of old index partitions is the standard
    small-file problem (sources/layout.py), not a state-store one."""
    source = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(src_dir)
    )
    query = (
        source.writeStream.foreachBatch(
            partial(_ingest_batch, index_dir, out_dir)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    try:
        query.awaitTermination()
    finally:
        query.stop()
