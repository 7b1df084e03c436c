"""Streaming incremental near-duplicate detection.

The batch MinHash-LSH detector (operators/dedup.py) answers "which
pairs in the corpus are near-dups"; an INGESTION pipeline needs the
incremental question instead: as new documents stream in, which of
them collide with the EXISTING corpus index? That is the
at-ingestion dedup gate every large training-data pipeline runs
(reject or flag near-dups before they ever land), restated
Spark-first: a static band-signature index on one side, a
``readStream`` file source on the other, and a per-micro-batch
equi-join on ``(band_id, band_sig)`` inside ``foreachBatch``.

Shares the signature helper (``dedup.signature_bands``) with the
batch detector's pair memo, so a document gets the SAME signature
whether indexed in batch or scored in-flight — the property the
batch-equivalence tests pin.

Scale: the index side is a parquet-backed (band, sig) -> doc relation
keyed exactly like the stream side's join key; at 100 TB both sides
are hash-partitioned on the band key, and each micro-batch joins only
its own (small) signature set — no state store growth, because the
index is external (appended by the same pipeline's committed batches)
rather than held in streaming state.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clickhouse_batcher_spark.operators import memo
from clickhouse_batcher_spark.operators.dedup import (
    band_signatures,
    band_signatures_inline,
    shingle_set,
    tokenized_corpus,
)
from clickhouse_batcher_spark.sinks.parquet_sink import MARK_SUCCESS


def build_band_index(docs: DataFrame) -> DataFrame:
    """Band-signature index of the existing corpus:
    (band_id, band_sig, doc_id)."""
    return band_signatures(shingle_set(tokenized_corpus(docs))).select(
        "band_id", "band_sig", F.col("doc_id").alias("index_doc_id")
    )


def match_against_index(batch: DataFrame, index: DataFrame) -> DataFrame:
    """Band-collision matches of incoming docs against the index:
    (doc_id, index_doc_id) distinct pairs. The verification step
    (shingle Jaccard, as in the batch detector) is the caller's
    choice — candidates are already rare."""
    # narrow per-row signatures: a micro-batch is far below the
    # vocab-broadcast crossover the batch pipeline is shaped for
    sigs = band_signatures_inline(batch)
    return (
        sigs.join(index, ["band_id", "band_sig"])
        .select("doc_id", "index_doc_id")
        .distinct()
    )


def _write_batch_matches(
    index: DataFrame, out_dir: str, batch: DataFrame, batch_id: int
) -> None:
    """foreachBatch callback (runs on the driver; module-level so no
    closure captures leak into pickled state): join one micro-batch
    against the index and land its matches under a batch-id path —
    overwrite-by-batch-id makes replays idempotent."""
    (
        match_against_index(batch, index)
        .write.mode("overwrite")
        .parquet(f"{out_dir}/_batch_id={batch_id}")
    )


def run_streaming_neardup(
    spark: SparkSession,
    src_dir: str,
    schema,
    index: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 2,
) -> None:
    """Drain a document file-source, appending per-batch band matches
    to ``out_dir`` exactly once (batch id in the output path makes the
    write idempotent under foreachBatch replays)."""
    source = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(src_dir)
    )

    # availableNow: batches run back-to-back (maxFilesPerTrigger still
    # caps each one) and the query self-terminates — no per-batch
    # trigger-period idle, which was ~10% of gate wall time
    query = (
        source.writeStream.foreachBatch(partial(_write_batch_matches, index, out_dir))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    try:
        query.awaitTermination()
    finally:
        query.stop()


# --- self-building index: the full at-ingestion dedup loop -----------------
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
