"""Golden-count + idempotency tests for the micro-batch ingest path.

Mirrors the reference's test strategy (SURVEY §5): rows-in must equal
rows-in-sink EXACTLY — no loss, no duplication — across trigger
regimes, plus the restart-recovery case the reference cannot test
(its ``isSent`` flag is in-memory only).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from clickhouse_batcher_spark.sinks.parquet_sink import IdempotentParquetSink
from clickhouse_batcher_spark.streaming.batcher import BatcherConfig, MicroBatcher
from clickhouse_batcher_spark.tables import load_table
from tests.parity import duckdb_connection

# The streaming end-to-end soaks are marked slow one by one: pytest.ini
# deselects 'slow' from the default run (run them with -m slow). The
# fast pins without the marker stay in the default run.


@pytest.fixture()
def tmp_root(tmp_path):
    return str(tmp_path)


def _write_source_files(spark, sf_dir, src_dir, n_files):
    """Split events into n_files parquet files to drive the file source."""
    events = load_table(spark, sf_dir, "events")
    total = events.count()
    events.repartition(n_files).write.mode("overwrite").parquet(src_dir)
    # drop _SUCCESS etc; streaming source ignores them anyway
    return events.schema, total


# Regime matrix after FIXTURES.md §2: size-capped (many small batches),
# one-big-batch (time-only), and mixed.
@pytest.mark.slow
@pytest.mark.parametrize(
    "n_files,max_files", [(8, 1), (8, 100), (6, 2)],
    ids=["size_capped", "single_flush", "mixed"],
)
def test_golden_count(spark, sf_dir, tmp_root, n_files, max_files):
    src = f"{tmp_root}/src"
    schema, total = _write_source_files(spark, sf_dir, src, n_files)
    sink = IdempotentParquetSink(f"{tmp_root}/sink")
    batcher = MicroBatcher(
        sink,
        BatcherConfig(trigger_interval="1 second", max_files_per_trigger=max_files),
    )
    source = batcher.file_source(spark, src, schema)
    batcher.run_until_drained(source, f"{tmp_root}/ckpt")

    assert sink.count(spark) == total  # exact: no loss, no duplication
    if max_files == 1:
        assert len(sink.committed_batches()) >= n_files  # size cap respected


def test_cli_ingest_rejects_file_cap_below_one(spark, tmp_root):
    """Without a per-trigger file cap a micro-batch has no size bound,
    so ``--max-files-per-trigger`` below 1 is refused before any
    stream starts."""
    from clickhouse_batcher_spark.__main__ import main

    src = f"{tmp_root}/src"
    spark.range(10).write.parquet(src)
    with pytest.raises(ValueError, match="max_files_per_trigger"):
        main(["ingest", src, f"{tmp_root}/sink", "--max-files-per-trigger", "0"])
    assert spark.streams.active == []


@pytest.mark.slow
def test_restart_recovery_no_duplicates(spark, sf_dir, tmp_root):
    """Kill the stream, restart with the same checkpoint + ledger:
    already-delivered batches must not be re-delivered, new files must
    land exactly once."""
    src = f"{tmp_root}/src"
    schema, _ = _write_source_files(spark, sf_dir, src, 4)
    sink = IdempotentParquetSink(f"{tmp_root}/sink")
    batcher = MicroBatcher(
        sink, BatcherConfig(trigger_interval="1 second", max_files_per_trigger=2)
    )
    ckpt = f"{tmp_root}/ckpt"

    batcher.run_until_drained(batcher.file_source(spark, src, schema), ckpt)
    first_total = sink.count(spark)
    first_batches = sink.committed_batches()

    # More data arrives while "down": copy events again under new names.
    events = load_table(spark, sf_dir, "events")
    extra = events.limit(500)
    extra.coalesce(1).write.mode("append").parquet(src)
    n_extra = 500

    # Restart: same checkpoint, same sink ledger.
    batcher.run_until_drained(batcher.file_source(spark, src, schema), ckpt)
    assert sink.count(spark) == first_total + n_extra
    # old batches were not re-written
    assert set(first_batches) <= set(sink.committed_batches())


@pytest.mark.slow
def test_disabled_gate_drops_batches(spark, sf_dir, tmp_root):
    """connect.go:28-36 / hashes.go:12-15: disabled pipeline silently
    drops rows; offsets still advance."""
    src = f"{tmp_root}/src"
    schema, _ = _write_source_files(spark, sf_dir, src, 2)
    sink = IdempotentParquetSink(f"{tmp_root}/sink")
    batcher = MicroBatcher(sink, BatcherConfig(enabled=False))
    batcher.run_until_drained(batcher.file_source(spark, src, schema), f"{tmp_root}/ckpt")
    assert sink.committed_batches() == []


@pytest.mark.slow
def test_replay_uncommitted_heals_partial_write(spark, sf_dir, tmp_root):
    """Crash between data write and ledger commit -> replay overwrites
    the partial partition instead of duplicating it (the reference's
    TOCTOU window, hashes.go:79-83, closed)."""
    events = load_table(spark, sf_dir, "events").limit(100)
    sink = IdempotentParquetSink(f"{tmp_root}/sink")
    # Simulate partial write: data lands but marker never written.
    batch_dir = f"{sink.data_dir}/_batch_id=0"
    events.limit(40).write.mode("overwrite").parquet(batch_dir)
    assert not sink.is_committed(0)
    # Replay of the full batch heals.
    assert sink.write_batch(events, 0) is True
    assert sink.count(spark) == 100
    # Committed replay is a no-op.
    assert sink.write_batch(events, 0) is False
    assert sink.count(spark) == 100


@pytest.mark.slow
def test_rate_source_ingest(spark, tmp_root):
    """Rate source through the batcher: rows land exactly once."""
    sink = IdempotentParquetSink(f"{tmp_root}/sink")
    batcher = MicroBatcher(sink, BatcherConfig(trigger_interval="250 milliseconds"))
    source = batcher.rate_source(spark, rows_per_second=200)
    query = batcher.start(source, f"{tmp_root}/ckpt")
    import time as _time

    try:
        deadline = _time.time() + 20
        while _time.time() < deadline and not sink.committed_batches():
            _time.sleep(0.25)
    finally:
        query.stop()
        query.awaitTermination()
    assert sink.committed_batches(), "no batch flushed by the timer path"
    df = sink.read(spark)
    assert df.count() == df.select("value").distinct().count()  # no dups


@pytest.mark.slow
def test_sink_compaction_preserves_rows(spark, sf_dir, tmp_root):
    src = f"{tmp_root}/src"
    schema, total = _write_source_files(spark, sf_dir, src, 6)
    sink = IdempotentParquetSink(f"{tmp_root}/sink")
    batcher = MicroBatcher(
        sink, BatcherConfig(trigger_interval="1 second", max_files_per_trigger=1)
    )
    batcher.run_until_drained(batcher.file_source(spark, src, schema), f"{tmp_root}/ckpt")
    n_batches_before = len(sink.committed_batches())
    assert n_batches_before >= 6

    new_id = sink.compact(spark, target_files=2)
    assert sink.committed_batches() == [new_id]
    assert sink.count(spark) == total  # no loss, no duplication
    # further ingest resumes after the compacted id
    assert sink.write_batch(
        load_table(spark, sf_dir, "events").limit(10), new_id + 1
    )
    assert sink.count(spark) == total + 10


@pytest.mark.slow
def test_multisink_dual_write_and_partial_failure_healing(spark, sf_dir, tmp_root):
    """One stream, two sinks, one batch id space; a sink that already
    committed is skipped on replay while the lagging sink catches up."""
    from clickhouse_batcher_spark.sinks.base import MultiSink

    events = load_table(spark, sf_dir, "events").limit(200)
    a = IdempotentParquetSink(f"{tmp_root}/a")
    b = IdempotentParquetSink(f"{tmp_root}/b")
    multi = MultiSink([a, b])

    assert multi.write_batch(events, 0) is True
    assert a.count(spark) == b.count(spark) == 200

    # Simulate b having missed batch 1 (crash after a committed):
    assert a.write_batch(events, 1) is True
    # replay batch 1 through the multi sink: a skips, b catches up
    assert multi.write_batch(events, 1) is True
    assert a.count(spark) == 400
    assert b.count(spark) == 400
    assert a.committed_batches() == b.committed_batches() == [0, 1]

    # fully committed replay is a no-op everywhere
    assert multi.write_batch(events, 1) is False


@pytest.mark.slow
def test_rollup_streaming_equivalence(spark, sf_dir, tmp_root):
    """Continuous-aggregate pattern: per-micro-batch partial rollup
    states (appended via foreachBatch) merge to EXACTLY the batch
    recompute — the streaming face of the mergeable-state contract
    (operators/rollup.py), including the decimal-exact value sums."""
    from clickhouse_batcher_spark.operators.rollup import (
        merge_rollups,
        partial_rollup,
    )

    src = f"{tmp_root}/src"
    schema, _ = _write_source_files(spark, sf_dir, src, 5)
    states_dir = f"{tmp_root}/states"

    def fold(batch_df, batch_id):
        partial_rollup(batch_df).write.mode("append").parquet(states_dir)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", f"{tmp_root}/ckpt")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    states = spark.read.parquet(states_dir)
    assert states.count() > 0
    streamed = {
        (r["day"], r["event_type"]): (r["cnt"], r["sum_value"])
        for r in merge_rollups(states).collect()
    }
    batch = {
        (r["day"], r["event_type"]): (r["cnt"], r["sum_value"])
        for r in merge_rollups(
            partial_rollup(load_table(spark, sf_dir, "events"))
        ).collect()
    }
    assert streamed == batch


def _oracle_bands(sf_dir, select):
    """Rows of ``select`` over the ``dedup_minhash_lsh`` oracle's
    ``bands`` CTE, run by DuckDB on the parquet fixtures."""
    from clickhouse_batcher_spark.operators.dedup import (
        SQL_BANDS,
        SQL_CORPUS,
        SQL_SHINGLES,
    )

    con = duckdb_connection(sf_dir)
    try:
        return con.execute(
            f"WITH {SQL_CORPUS}, {SQL_SHINGLES}, {SQL_BANDS} {select}"
        ).fetchall()
    finally:
        con.close()


@pytest.mark.slow
def test_streaming_selfindex_neardup_equals_batch(spark, sf_dir, tmp_root):
    """The self-building gate (each batch scored against all earlier
    batches + itself, then indexed) must produce EXACTLY the batch
    detector's band-collision pair set over the same corpus, no matter
    how the stream was cut into micro-batches."""
    from clickhouse_batcher_spark.streaming.neardup import (
        run_streaming_neardup_selfindex,
    )
    from clickhouse_batcher_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    src = f"{tmp_root}/self_src"
    docs.repartition(4).write.mode("overwrite").parquet(src)

    out = f"{tmp_root}/self_matches"
    idx = f"{tmp_root}/self_index"
    run_streaming_neardup_selfindex(
        spark,
        src,
        docs.schema,
        out,
        idx,
        f"{tmp_root}/ckpt_selfindex",
        max_files_per_trigger=1,
    )
    streamed = {
        (min(r["doc_id"], r["index_doc_id"]), max(r["doc_id"], r["index_doc_id"]))
        for r in spark.read.parquet(f"{out}/_batch_id=*").collect()
    }

    batch_pairs = set(
        _oracle_bands(
            sf_dir,
            """SELECT DISTINCT b1.doc_id, b2.doc_id
            FROM bands b1 JOIN bands b2
              ON b1.band_id = b2.band_id AND b1.band_sig = b2.band_sig
                 AND b1.doc_id < b2.doc_id""",
        )
    )
    assert streamed == batch_pairs
    assert batch_pairs  # twins guarantee collisions
    # the index now holds every batch's signatures exactly once
    n_sigs = spark.read.parquet(f"{idx}/_batch_id=*").count()
    assert [(n_sigs,)] == _oracle_bands(sf_dir, "SELECT COUNT(*) FROM bands")


@pytest.mark.slow
def test_selfindex_batch_replay_is_idempotent(spark, sf_dir, tmp_root):
    """A replayed foreachBatch call (same batch id, index already
    holding this batch's half-committed signatures) must produce
    byte-identical matches: the index read filters _batch_id < current,
    so a batch never sees its own prior partial commit."""
    from clickhouse_batcher_spark.streaming.neardup import _ingest_batch
    from clickhouse_batcher_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    b0 = docs.filter(F.col("doc_id") % 2 == 0)
    b1 = docs.filter(F.col("doc_id") % 2 == 1)

    out = f"{tmp_root}/replay_out"
    idx = f"{tmp_root}/replay_idx"
    _ingest_batch(idx, out, b0, 0)
    _ingest_batch(idx, out, b1, 1)
    first = sorted(
        map(tuple, spark.read.parquet(f"{out}/_batch_id=1").collect())
    )
    # crash-replay batch 1: its own signatures are already committed
    _ingest_batch(idx, out, b1, 1)
    again = sorted(
        map(tuple, spark.read.parquet(f"{out}/_batch_id=1").collect())
    )
    assert first == again
    assert first  # twins across the parity split guarantee matches


def test_band_signatures_inline_bit_identical(spark, sf_dir):
    """The gate's narrow per-row signature path (zero shuffles) must
    emit EXACTLY the oracle's (doc_id, band_id, band_sig) rows: same
    salts, same sha2 prefixes, twins included, short docs excluded."""
    from clickhouse_batcher_spark.operators.dedup import band_signatures_inline
    from clickhouse_batcher_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    oracle_rows = sorted(
        _oracle_bands(sf_dir, "SELECT doc_id, band_id, band_sig FROM bands")
    )
    inline_rows = sorted(
        (r["doc_id"], r["band_id"], r["band_sig"])
        for r in band_signatures_inline(docs).collect()
    )
    assert inline_rows == oracle_rows
    assert oracle_rows
    # and the inline plan really is shuffle-free
    plan = band_signatures_inline(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


class _PlanRecorder:
    """py4j-side QueryExecutionListener: the executed plan text of
    every query the session completes while registered."""

    def __init__(self):
        self.plans = []

    def onSuccess(self, func_name, qe, duration_ns):
        self.plans.append(qe.executedPlan().toString())

    def onFailure(self, func_name, qe, exception):
        self.plans.append(qe.executedPlan().toString())

    # unregister compares listeners with equals(), which py4j forwards
    def equals(self, other):
        return other is self

    def hashCode(self):
        return id(self) & 0x7FFFFFFF

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def test_gate_batch_runs_signature_kernel_once(spark, sf_dir, tmp_root):
    """One gate micro-batch computes its band signatures once: the
    within-batch self-join, the prior-index join and the index write
    all read one materialized frame. Of the plans the batch executes,
    exactly one holds the sha2 signature projection (an unmaterialized
    or merely cached frame shows it in every consuming plan)."""
    from pyspark.java_gateway import ensure_callback_server_started

    from clickhouse_batcher_spark.streaming.neardup import _ingest_batch

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    idx, out = f"{tmp_root}/idx", f"{tmp_root}/out"
    _ingest_batch(idx, out, docs.filter(F.col("doc_id") % 4 == 0), 0)

    sc = spark.sparkContext
    ensure_callback_server_started(sc._gateway)
    recorder = _PlanRecorder()
    # hold ONE Java proxy so unregister finds the registered listener
    holder = sc._jvm.java.util.ArrayList()
    holder.add(recorder)
    listener = holder.get(0)
    manager = spark._jsparkSession.listenerManager()
    manager.register(listener)
    try:
        _ingest_batch(idx, out, docs.filter(F.col("doc_id") % 4 == 1), 1)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
    finally:
        manager.unregister(listener)

    sig_plans = [plan for plan in recorder.plans if "sha2(" in plan]
    assert len(sig_plans) == 1, sig_plans
    assert len(recorder.plans) >= 3  # signatures, matches, index write
    # batch 1 was scored against batch 0's index too
    assert spark.read.parquet(f"{out}/_batch_id=1").count() > 0


def test_prior_index_paths_lists_only_earlier_batches(spark, tmp_root):
    """The gate's index read takes exactly the partitions of earlier
    batches (numeric order, not string order), never its own or a
    later one, and an absent index has none."""
    from clickhouse_batcher_spark.streaming.neardup import _prior_index_paths

    idx = f"{tmp_root}/index"
    assert _prior_index_paths(spark, idx, 5) == []
    for n in (0, 1, 2, 10):
        os.makedirs(f"{idx}/_batch_id={n}")
    os.makedirs(f"{idx}/_temporary")
    got = sorted(
        int(p.rsplit("=", 1)[1]) for p in _prior_index_paths(spark, idx, 2)
    )
    assert got == [0, 1]
    assert _prior_index_paths(spark, idx, 0) == []
    assert len(_prior_index_paths(spark, idx, 11)) == 4


def _batch_files(batch_dir: str) -> tuple[int, list[str]]:
    """The parquet files of a batch directory and its other names."""
    names = os.listdir(batch_dir)
    parquet = [n for n in names if n.endswith(".parquet")]
    return len(parquet), sorted(n for n in names if not n.endswith((".parquet", ".crc")))


def test_ledgered_writes_leave_no_success_file(spark, sf_dir, tmp_root):
    """The ledger marker (sink) and the stream's commit log (gate) are
    the commit, so a drained, replayed or compacted sink batch and a
    gate batch hold their parquet files and no ``_SUCCESS``. Each
    marker still equals its batch's rows."""
    events = load_table(spark, sf_dir, "events").limit(90)
    src = f"{tmp_root}/src"
    events.repartition(3).write.parquet(src)
    sink = IdempotentParquetSink(f"{tmp_root}/sink")
    batcher = MicroBatcher(sink, BatcherConfig(trigger_interval="0 seconds"))
    batcher.run_until_drained(batcher.file_source(spark, src, events.schema), f"{tmp_root}/ckpt")
    assert sink.committed_batches() == [0, 1, 2]

    def check(batch_id: int) -> int:
        batch_dir = sink._batch_dir(batch_id)
        files, other = _batch_files(batch_dir)
        assert files and other == [], (batch_id, other)
        with open(sink._marker(batch_id)) as fh:
            marker = int(fh.read())
        assert marker == spark.read.parquet(batch_dir).count()
        return marker

    assert sum(check(b) for b in (0, 1, 2)) == 90
    # An uncommitted replay overwrites the crashed attempt's directory,
    # its _SUCCESS included.
    events.limit(10).write.parquet(sink._batch_dir(3))
    assert "_SUCCESS" in os.listdir(sink._batch_dir(3))
    assert sink.write_batch(events.limit(40), 3)
    assert check(3) == 40
    new_id = sink.compact(spark, target_files=1)
    assert check(new_id) == sink.count(spark) == 130

    from clickhouse_batcher_spark.streaming.neardup import _ingest_batch

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    idx, out = f"{tmp_root}/idx", f"{tmp_root}/out"
    _ingest_batch(idx, out, docs, 0)
    for batch_dir in (f"{idx}/_batch_id=0", f"{out}/_batch_id=0"):
        files, other = _batch_files(batch_dir)
        assert files and other == [], (batch_dir, other)
