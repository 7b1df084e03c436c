"""Golden-count + idempotency tests for the micro-batch ingest path.

Mirrors the reference's test strategy (SURVEY §5): rows-in must equal
rows-in-sink EXACTLY — no loss, no duplication — across trigger
regimes, plus the restart-recovery case the reference cannot test
(its ``isSent`` flag is in-memory only).
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from clickhouse_batcher_spark.sinks.parquet_sink import IdempotentParquetSink
from clickhouse_batcher_spark.streaming.batcher import BatcherConfig, MicroBatcher
from clickhouse_batcher_spark.streaming.windowed import windowed_counts
from clickhouse_batcher_spark.tables import load_table

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
def test_streaming_windowed_agg_matches_batch(spark, sf_dir, tmp_root):
    """Watermarked tumbling-window agg over the stream == batch agg."""
    src = f"{tmp_root}/src"
    schema, _ = _write_source_files(spark, sf_dir, src, 3)
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src)
    )
    agg = windowed_counts(stream, window_duration="1 hour", watermark="0 seconds")
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("win_out")
        .option("checkpointLocation", f"{tmp_root}/ckpt")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = (
        spark.sql("SELECT win.start AS h, event_type, cnt FROM win_out")
        .orderBy("h", "event_type")
        .collect()
    )
    expected = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("hour", "ts").alias("h"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("h", "event_type")
        .collect()
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in expected]


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


@pytest.mark.slow
def test_streaming_funnel_matches_batch(spark, sf_dir, tmp_root):
    """applyInPandasWithState funnel over time-sliced micro-batches ==
    the batch min-cascade funnel (operators/funnel.py), nulls and
    all."""
    import os

    from pyspark.sql import Window

    from clickhouse_batcher_spark.operators.funnel import (
        FUNNEL_STAGES,
        FUNNEL_WINDOW_S,
        funnel_stage_times,
    )
    from clickhouse_batcher_spark.streaming.stateful import streaming_funnel

    events = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin(*FUNNEL_STAGES))
        .select("user_id", "event_type", "ts")
    )
    # 4 time slices written as one file each, mtimes ascending so the
    # file source replays them in event-time order (per-user arrival
    # is then time-sliced, the condition for batch equivalence)
    n_slices = 4
    w = Window.orderBy("ts", "user_id", "event_type")
    sliced = events.withColumn(
        "slice", F.ntile(n_slices).over(w)
    )
    src = f"{tmp_root}/src"
    os.makedirs(src)
    for i in range(1, n_slices + 1):
        part_dir = f"{tmp_root}/part{i}"
        sliced.filter(F.col("slice") == i).drop("slice").coalesce(
            1
        ).write.parquet(part_dir)
        name = [f for f in os.listdir(part_dir) if f.endswith(".parquet")][0]
        dst = f"{src}/slice{i}.parquet"
        os.rename(f"{part_dir}/{name}", dst)
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "1")
        .option("latestFirst", "false")
        .parquet(src)
    )
    out = streaming_funnel(stream, FUNNEL_STAGES, FUNNEL_WINDOW_S)
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("funnel_out")
        .option("checkpointLocation", f"{tmp_root}/ckpt")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    emitted = spark.sql(
        """SELECT user_id, t1_us, t2_us, t3_us FROM (
             SELECT *, row_number() OVER (
               PARTITION BY user_id ORDER BY version DESC) AS rn
             FROM funnel_out) WHERE rn = 1"""
    ).collect()
    streamed = {
        r["user_id"]: (r["t1_us"], r["t2_us"], r["t3_us"]) for r in emitted
    }

    def us(ts):
        return -1 if ts is None else int(ts.timestamp() * 1_000_000)

    batch = {
        r["user_id"]: (us(r["t1"]), us(r["t2"]), us(r["t3"]))
        for r in funnel_stage_times(events).collect()
    }
    assert streamed == batch


@pytest.mark.slow
def test_anomaly_streaming_equivalence(spark, sf_dir, tmp_root):
    """Continuous anomaly detection: per-micro-batch hourly-total
    states merged then finalized == the one-shot batch anomaly report
    (exact equality — decimal state merge + integer-moment z)."""
    from clickhouse_batcher_spark.operators.timeseries import (
        events_hourly_anomalies,
    )
    from clickhouse_batcher_spark.streaming.anomaly import (
        finalize_anomalies,
        merge_hourly_totals,
        partial_hourly_totals,
    )

    src = f"{tmp_root}/asrc"
    schema, _ = _write_source_files(spark, sf_dir, src, 5)
    states_dir = f"{tmp_root}/astates"

    def fold(batch_df, batch_id):
        partial_hourly_totals(batch_df).write.mode("append").parquet(
            states_dir
        )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", f"{tmp_root}/ackpt")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    states = spark.read.parquet(states_dir)
    assert states.count() > 0
    streamed = {
        (r["event_type"], r["hour"]): (r["hour_total"], r["zscore"])
        for r in finalize_anomalies(merge_hourly_totals(states)).collect()
    }
    batch = {
        (r["event_type"], r["hour"]): (r["hour_total"], r["zscore"])
        for r in events_hourly_anomalies(spark, sf_dir).collect()
    }
    assert streamed == batch


@pytest.mark.slow
def test_streaming_ohlc_matches_batch(spark, sf_dir, tmp_root):
    """Continuous OHLC bars over the stream == the batch chagg query:
    min_by/max_by state merges across micro-batches without drift."""
    from clickhouse_batcher_spark import catalog
    from clickhouse_batcher_spark.streaming.windowed import ohlc_stream

    catalog.load_all()
    src = f"{tmp_root}/src"
    schema, _ = _write_source_files(spark, sf_dir, src, 4)
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src)
    )
    bars = ohlc_stream(stream, window_duration="1 hour", watermark="0 seconds")
    q = (
        bars.writeStream.outputMode("complete")
        .format("memory")
        .queryName("ohlc_out")
        .option("checkpointLocation", f"{tmp_root}/ohlc_ckpt")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r["hour"], r["event_type"]): (
            r["open"], r["high"], r["low"], r["close"], r["n_events"]
        )
        for r in spark.sql(
            "SELECT win.start AS hour, event_type, open, high, low, close,"
            " n_events FROM ohlc_out"
        ).collect()
    }
    batch = {
        (r["hour"], r["event_type"]): (
            r["open"], r["high"], r["low"], r["close"], r["n_events"]
        )
        for r in catalog.QUERIES["events_ohlc_hourly"](spark, sf_dir).collect()
    }
    assert got == batch


@pytest.mark.slow
def test_streaming_hll_registers_match_batch(spark, sf_dir, tmp_root):
    """The streaming HLL register table == the batch sketch: MAX state
    merges across micro-batches without drift, so the streamed
    registers (and therefore the estimate, which is pure arithmetic
    over them) are exactly the batch recompute."""
    from clickhouse_batcher_spark.streaming.windowed import hll_stream

    src = f"{tmp_root}/src"
    schema, _ = _write_source_files(spark, sf_dir, src, 4)
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src)
    )
    regs = hll_stream(stream)
    q = (
        regs.writeStream.outputMode("complete")
        .format("memory")
        .queryName("hll_out")
        .option("checkpointLocation", f"{tmp_root}/hll_ckpt")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    streamed = {
        (r["event_type"], r["register"]): r["mj"]
        for r in spark.sql("SELECT * FROM hll_out").collect()
    }
    from clickhouse_batcher_spark.tables import load_table

    batch = {
        (r["event_type"], r["register"]): r["mj"]
        for r in hll_stream(load_table(spark, sf_dir, "events")).collect()
    }
    assert streamed == batch


@pytest.mark.slow
def test_streaming_hll_estimate_matches_batch_query(spark, sf_dir, tmp_root):
    """Registers streamed through hll_stream, finished with
    hll_estimate, must equal the batch hll_distinct_users estimates
    exactly (same integer-exact arithmetic over equal registers)."""
    from clickhouse_batcher_spark import catalog
    from clickhouse_batcher_spark.streaming.windowed import (
        hll_estimate,
        hll_stream,
    )

    catalog.load_all()
    src = f"{tmp_root}/src"
    schema, _ = _write_source_files(spark, sf_dir, src, 3)
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src)
    )
    q = (
        hll_stream(stream)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("hll_est_out")
        .option("checkpointLocation", f"{tmp_root}/hll_est_ckpt")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    streamed = {
        (r["event_type"]): (r["registers_hit"], r["hll_estimate"])
        for r in hll_estimate(spark.sql("SELECT * FROM hll_est_out")).collect()
    }
    batch = {
        (r["event_type"]): (r["registers_hit"], r["hll_estimate"])
        for r in catalog.QUERIES["hll_distinct_users"](spark, sf_dir).collect()
    }
    assert streamed == batch


@pytest.mark.slow
def test_streaming_dedup_within_watermark_matches_batch(spark, sf_dir, tmp_root):
    """dropDuplicatesWithinWatermark over a duplicated feed == batch
    dropDuplicates, when the watermark delay covers the full replay
    window (here: every duplicate redelivered one batch later, delay
    longer than the fixture's time span)."""
    from clickhouse_batcher_spark.streaming.windowed import dedup_stream

    events = load_table(spark, sf_dir, "events").limit(2000)
    src = f"{tmp_root}/dedup_src"
    # file 1: the original sample; file 2: a full replay of it (the
    # at-least-once redelivery scenario the reference's batcher guards
    # against with its ledger, hashes_test.go:78-134).
    events.coalesce(1).write.mode("overwrite").parquet(src)
    events.coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    deduped = dedup_stream(stream, keys=("event_id",), watermark="3650 days")
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_out")
        .option("checkpointLocation", f"{tmp_root}/dedup_ckpt")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql("SELECT event_id FROM dedup_out")
    assert got.count() == got.distinct().count()  # no dupes emitted
    expected_ids = {r.event_id for r in events.select("event_id").collect()}
    assert {r.event_id for r in got.collect()} == expected_ids


@pytest.mark.slow
def test_streaming_cms_counters_match_batch(spark, sf_dir, tmp_root):
    """The streaming CMS counter grid == the batch sketch: SUM state
    merges across micro-batches without drift. Also pins the CMS
    guarantee on the finalized grid: every user's point estimate
    (min over depth rows) >= the exact count."""
    from clickhouse_batcher_spark.streaming.windowed import cms_stream

    src = f"{tmp_root}/src"
    schema, _ = _write_source_files(spark, sf_dir, src, 4)
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src)
    )
    q = (
        cms_stream(stream)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("cms_out")
        .option("checkpointLocation", f"{tmp_root}/cms_ckpt")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    streamed = {
        (r["row_id"], r["bucket"]): r["cnt"]
        for r in spark.sql("SELECT * FROM cms_out").collect()
    }
    events = load_table(spark, sf_dir, "events")
    batch = {
        (r["row_id"], r["bucket"]): r["cnt"]
        for r in cms_stream(events).collect()
    }
    assert streamed == batch

    # CMS never undercounts: check the 20 most active users.
    from clickhouse_batcher_spark.operators.sketch import CMS_DEPTH, _bucket

    top = (
        events.groupBy(F.col("user_id").cast("string").alias("k"))
        .agg(F.count(F.lit(1)).alias("exact"))
        .orderBy(F.desc("exact"), "k")
        .limit(20)
        .select(
            "k",
            "exact",
            *[
                _bucket(F.col("k"), f"cms{i}|").alias(f"b{i}")
                for i in range(CMS_DEPTH)
            ],
        )
        .collect()
    )
    for r in top:
        est = min(streamed[(i, r[f"b{i}"])] for i in range(CMS_DEPTH))
        assert est >= r["exact"]


@pytest.mark.slow
def test_streaming_dedup_state_survives_restart(spark, sf_dir, tmp_root):
    """The dedup state store must recover from the checkpoint: rows
    replayed AFTER a stop/restart cycle are still recognized as
    duplicates (the reference's restart scenario, hashes_test.go
    restart-without-dupes, applied to the watermark-dedup operator)."""
    from clickhouse_batcher_spark.streaming.windowed import dedup_stream

    events = load_table(spark, sf_dir, "events").limit(1000)
    src = f"{tmp_root}/rst_src"
    ckpt = f"{tmp_root}/rst_ckpt"
    out = f"{tmp_root}/rst_out"
    events.coalesce(1).write.mode("overwrite").parquet(src)

    def run_once():
        stream = (
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        q = (
            dedup_stream(stream, keys=("event_id",), watermark="3650 days")
            .writeStream.outputMode("append")
            .format("parquet")  # memory sink can't recover a checkpoint
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run_once()
    first = spark.read.parquet(out).count()
    # Full replay lands as a new file AFTER the restart; recovered
    # state must drop every row of it.
    events.coalesce(1).write.mode("append").parquet(src)
    run_once()
    got = spark.read.parquet(out).select("event_id")
    assert first == events.count()
    assert got.count() == got.distinct().count()
    assert got.distinct().count() == events.count()


@pytest.mark.slow
def test_streaming_neardup_matches_batch(spark, sf_dir, tmp_root):
    """Incremental at-ingestion near-dup gate: streaming a document
    slice against a static band index must produce EXACTLY the band
    collisions the batch join finds for the same split — same
    signature function on both paths, so no drift is tolerated."""
    from clickhouse_batcher_spark.streaming.neardup import (
        build_band_index,
        match_against_index,
        run_streaming_neardup,
    )
    from clickhouse_batcher_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    existing = docs.filter(F.col("doc_id") % 4 != 0)
    incoming = docs.filter(F.col("doc_id") % 4 == 0)

    index = build_band_index(existing).cache()
    index.count()

    src = f"{tmp_root}/docs_src"
    incoming.repartition(3).write.mode("overwrite").parquet(src)

    out = f"{tmp_root}/matches"
    run_streaming_neardup(
        spark,
        src,
        incoming.schema,
        index,
        out,
        f"{tmp_root}/ckpt_neardup",
        max_files_per_trigger=1,
    )
    streamed = {
        (r["doc_id"], r["index_doc_id"])
        for r in spark.read.parquet(f"{out}/_batch_id=*").collect()
    }
    batch = {
        (r["doc_id"], r["index_doc_id"])
        for r in match_against_index(incoming, index).collect()
    }
    assert streamed == batch
    assert batch  # the twin construction guarantees collisions exist
    index.unpersist()


@pytest.mark.slow
def test_streaming_selfindex_neardup_equals_batch(spark, sf_dir, tmp_root):
    """The self-building gate (each batch scored against all earlier
    batches + itself, then indexed) must produce EXACTLY the batch
    detector's band-collision pair set over the same corpus, no matter
    how the stream was cut into micro-batches."""
    from clickhouse_batcher_spark.operators.dedup import (
        band_signatures,
        shingle_set,
        tokenized_corpus,
    )
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

    bands = band_signatures(shingle_set(tokenized_corpus(docs)))
    b1, b2 = bands.alias("b1"), bands.alias("b2")
    batch_pairs = {
        (r["a"], r["b"])
        for r in b1.join(
            b2,
            (F.col("b1.band_id") == F.col("b2.band_id"))
            & (F.col("b1.band_sig") == F.col("b2.band_sig"))
            & (F.col("b1.doc_id") < F.col("b2.doc_id")),
        )
        .select(F.col("b1.doc_id").alias("a"), F.col("b2.doc_id").alias("b"))
        .distinct()
        .collect()
    }
    assert streamed == batch_pairs
    assert batch_pairs  # twins guarantee collisions
    # the index now holds every batch's signatures exactly once
    n_sigs = spark.read.parquet(f"{idx}/_batch_id=*").count()
    assert n_sigs == bands.count()


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


def test_streaming_quality_gate_matches_batch(spark, sf_dir, tmp_root):
    """At-ingestion quality gate: a model trained once on a reference
    corpus must give BIT-IDENTICAL verdicts (decimal-exact log-odds)
    whether the incoming documents are scored in one batch job or
    drained through the stream in 1-file micro-batches."""
    from clickhouse_batcher_spark.streaming.qualitygate import (
        run_streaming_quality_gate,
        score_batch,
        train_gate_model,
    )
    from clickhouse_batcher_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    reference = docs.filter(F.col("doc_id") % 4 != 0)
    incoming = docs.filter(F.col("doc_id") % 4 == 0)

    llr, pri = train_gate_model(reference)
    llr = llr.cache()
    pri = pri.cache()
    llr.count(), pri.count()

    src = f"{tmp_root}/qg_src"
    incoming.repartition(3).write.mode("overwrite").parquet(src)
    out = f"{tmp_root}/qg_out"
    run_streaming_quality_gate(
        spark,
        src,
        incoming.schema,
        llr,
        pri,
        out,
        f"{tmp_root}/qg_ckpt",
        max_files_per_trigger=1,
    )
    streamed = {
        r["doc_id"]: (
            r["teacher_keep"],
            r["n_tokens"],
            r["nb_logodds"],
            r["nb_keep"],
        )
        for r in spark.read.parquet(f"{out}/_batch_id=*").collect()
    }
    batch = {
        r["doc_id"]: (
            r["teacher_keep"],
            r["n_tokens"],
            r["nb_logodds"],
            r["nb_keep"],
        )
        for r in score_batch(incoming, llr, pri).collect()
    }
    assert streamed == batch  # exact — decimal scores, no tolerance
    assert len(batch) == incoming.count()
    # the gate actually gates: the teacher rule has a real pass/fail
    # mix on this corpus (the NB verdict may legitimately collapse to
    # the majority side on the weak-lexical-signal synthetic corpus)
    teachers = {v[0] for v in batch.values()}
    assert teachers == {True, False}
    llr.unpersist(), pri.unpersist()


@pytest.mark.slow
def test_streaming_ingest_pipeline_quality_then_dedup(
    spark, sf_dir, tmp_root
):
    """The composed at-ingestion pipeline (quality gate -> self-
    indexing dedup gate in one foreachBatch): verdicts must equal the
    batch scoring, and the dedup pair set must equal the batch
    detector's collisions over ONLY the quality-kept documents —
    rejected docs never enter the index."""
    from clickhouse_batcher_spark.operators.dedup import (
        band_signatures,
        shingle_set,
        tokenized_corpus,
    )
    from clickhouse_batcher_spark.streaming.qualitygate import (
        run_streaming_ingest_pipeline,
        score_batch,
        train_gate_model,
    )
    from clickhouse_batcher_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    reference = docs.filter(F.col("doc_id") % 3 == 2)
    incoming = docs.filter(F.col("doc_id") % 3 != 2)

    llr, pri = train_gate_model(reference)
    llr = llr.cache()
    pri = pri.cache()
    llr.count(), pri.count()

    src = f"{tmp_root}/pl_src"
    incoming.repartition(4).write.mode("overwrite").parquet(src)
    vd, dd, ix = (
        f"{tmp_root}/pl_verdicts",
        f"{tmp_root}/pl_pairs",
        f"{tmp_root}/pl_index",
    )
    run_streaming_ingest_pipeline(
        spark,
        src,
        incoming.schema,
        llr,
        pri,
        vd,
        dd,
        ix,
        f"{tmp_root}/pl_ckpt",
        max_files_per_trigger=1,
    )
    streamed_verdicts = {
        r["doc_id"]: (r["teacher_keep"], r["nb_logodds"], r["nb_keep"])
        for r in spark.read.parquet(f"{vd}/_batch_id=*").collect()
    }
    batch_verdicts = {
        r["doc_id"]: (r["teacher_keep"], r["nb_logodds"], r["nb_keep"])
        for r in score_batch(incoming, llr, pri).collect()
    }
    assert streamed_verdicts == batch_verdicts

    kept = incoming.join(
        score_batch(incoming, llr, pri)
        .filter("teacher_keep")
        .select("doc_id"),
        "doc_id",
    )
    sigs = band_signatures(shingle_set(tokenized_corpus(kept)))
    a, b = sigs.alias("a"), sigs.alias("b")
    want_pairs = {
        (r["d1"], r["d2"])
        for r in a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2")
        )
        .distinct()
        .collect()
    }
    got_pairs = {
        (min(r["doc_id"], r["index_doc_id"]), max(r["doc_id"], r["index_doc_id"]))
        for r in spark.read.parquet(f"{dd}/_batch_id=*").collect()
    }
    assert got_pairs == want_pairs
    assert want_pairs  # twin construction guarantees collisions
    # no rejected doc ever entered the index (tokenized_corpus also
    # signs each doc's planted truncated twin at doc_id+TWIN_ID_OFFSET)
    from clickhouse_batcher_spark.operators.dedup import TWIN_ID_OFFSET

    indexed = {
        r["doc_id"]
        for r in spark.read.parquet(f"{ix}/_batch_id=*").collect()
    }
    kept_ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
    allowed = kept_ids | {i + TWIN_ID_OFFSET for i in kept_ids}
    assert indexed <= allowed
    llr.unpersist(), pri.unpersist()


def test_band_signatures_inline_bit_identical(spark, sf_dir):
    """The gate's narrow per-row signature path (round-8 throughput
    fix: zero shuffles, no vocab broadcast) must emit EXACTLY the
    batch pipeline's (doc_id, band_id, band_sig) rows — same salts,
    same sha2 prefixes, twins included, short docs excluded."""
    from clickhouse_batcher_spark.operators.dedup import (
        band_signatures,
        band_signatures_inline,
        shingle_set,
        tokenized_corpus,
    )
    from clickhouse_batcher_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    batch_rows = {
        (r["doc_id"], r["band_id"], r["band_sig"])
        for r in band_signatures(
            shingle_set(tokenized_corpus(docs))
        ).collect()
    }
    inline_rows = {
        (r["doc_id"], r["band_id"], r["band_sig"])
        for r in band_signatures_inline(docs).collect()
    }
    assert inline_rows == batch_rows
    assert batch_rows
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


@pytest.mark.slow
def test_streaming_drift_monitor_matches_batch_psi(spark, sf_dir, tmp_root):
    """The per-micro-batch PSI rows from the streaming monitor must be
    BIT-IDENTICAL to recomputing each file-batch's PSI in a plain
    batch job (same frozen model, same baseline histogram, same
    exact-decimal term sum), and the alert flag must equal
    psi > PSI_ALERT."""
    import glob as _glob

    from clickhouse_batcher_spark.streaming.qualitygate import (
        PSI_ALERT,
        baseline_bin_counts,
        psi_vs_baseline,
        run_streaming_drift_monitor,
        score_batch,
        train_gate_model,
    )
    from clickhouse_batcher_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    reference = docs.filter(F.col("doc_id") % 4 != 0)
    incoming = docs.filter(F.col("doc_id") % 4 == 0)

    llr, pri = train_gate_model(reference)
    llr, pri = llr.cache(), pri.cache()
    llr.count(), pri.count()
    base = baseline_bin_counts(score_batch(reference, llr, pri))

    src = f"{tmp_root}/dm_src"
    incoming.repartition(3).write.mode("overwrite").parquet(src)
    mon = f"{tmp_root}/dm_out"
    run_streaming_drift_monitor(
        spark,
        src,
        incoming.schema,
        llr,
        pri,
        base,
        mon,
        f"{tmp_root}/dm_ckpt",
        max_files_per_trigger=1,
    )
    streamed = {
        r["batch_id"]: (r["n_docs"], r["psi"], r["alert"])
        for r in spark.read.parquet(f"{mon}/_batch_id=*").collect()
    }
    assert len(streamed) >= 3  # one row per 1-file micro-batch

    # recompute per-batch PSI from the SAME file groups the stream saw
    # (1 file per trigger, source order = the listed file order)
    files = sorted(_glob.glob(f"{src}/part-*.parquet"))
    assert len(files) == len(streamed)
    expected = []
    for f in files:
        part = spark.read.parquet(f)
        counts = baseline_bin_counts(score_batch(part, llr, pri))
        psi = psi_vs_baseline(counts, base)
        expected.append((sum(counts.values()), psi, psi > PSI_ALERT))
    # the stream's file->batch assignment order is not the glob order;
    # compare the multisets of per-batch rows
    assert sorted(streamed.values()) == sorted(expected)
    for _, psi, alert in streamed.values():
        assert alert == (psi > PSI_ALERT)


@pytest.mark.slow
@pytest.mark.parametrize("files_per_trigger", [1, 3])
def test_quantile_streaming_equivalence(
    spark, sf_dir, tmp_root, files_per_trigger
):
    """Continuous quantiles: per-micro-batch histogram-bin states
    merged then finalized == the batch quantile_state_merge_daily
    operator's total-period answer (exact integer equality).

    Two trigger sizes (VERDICT r10 task 5): maxFilesPerTrigger 1 and 3
    slice the 5 source files into 5 vs 2 micro-batches — DIFFERENT
    partial-state multisets that must fold to the SAME merged state,
    the mergeability contract itself."""
    from clickhouse_batcher_spark import catalog
    from clickhouse_batcher_spark.streaming.quantiles import (
        finalize_quantiles,
        merge_bin_counts,
        partial_bin_counts,
    )

    catalog.load_all()
    src = f"{tmp_root}/qsrc"
    schema, _ = _write_source_files(spark, sf_dir, src, 5)
    states_dir = f"{tmp_root}/qstates"

    def fold(batch_df, batch_id):
        partial_bin_counts(batch_df).write.mode("append").parquet(
            states_dir
        )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(files_per_trigger))
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", f"{tmp_root}/qckpt")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    states = spark.read.parquet(states_dir)
    assert states.count() > 0
    streamed = {
        r["event_type"]: (
            r["n_events"], r["p50_bin"], r["p90_bin"], r["p99_bin"]
        )
        for r in finalize_quantiles(merge_bin_counts(states)).collect()
    }
    batch = {
        r["event_type"]: (
            r["n_events"], r["p50_bin"], r["p90_bin"], r["p99_bin"]
        )
        for r in catalog.QUERIES["quantile_state_merge_daily"](
            spark, sf_dir
        ).collect()
    }
    assert streamed == batch


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
