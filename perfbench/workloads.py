"""The three workloads. Each one drives a different layer of the
program, checks what the program produced, and fills in the end-to-end
and per-layer metrics of :mod:`spec` (README.md explains the choice of
each workload and the map from layer metric to end-to-end metric).

Every workload receives a :class:`Run`: the Spark session, the seed,
the measuring time, a private work directory, the failure tally, a
``ProgressLog`` listener, and a :class:`~tracing.Tracer` in the traced
run (``None`` otherwise). Timings of the program's own calls are taken
here, around the public entry points.
"""

from __future__ import annotations

import os
import random
import threading
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import functions as F

from clickhouse_batcher_spark.catalog import ORACLES, QUERIES
from clickhouse_batcher_spark.engine import BatcherEngine, EngineConfig
from clickhouse_batcher_spark.operators import memo
from clickhouse_batcher_spark.plans import chsql
from clickhouse_batcher_spark.sinks.parquet_sink import IdempotentParquetSink
from clickhouse_batcher_spark.streaming.batcher import BatcherConfig, MicroBatcher
from clickhouse_batcher_spark.streaming.neardup import run_streaming_neardup_selfindex

import datagen
import spec
from stats import OpenLoop, Tally, latency_summary, percentile, self_times
from tracing import ProgressLog, Tracer, job_counts

# ingest_async: open-loop producer rate (about half the closed-loop
# flush capacity on 4 cores) and a ticker period that lets both the
# size cap and the ticker fire within every period.
ASYNC_RATE = 10_000
ASYNC_TICK_S = 1.2
ASYNC_MAX_BATCH = 10_000
# A save_async call that returns after this long ran a size flush; a
# plain append takes microseconds, a flush hundreds of milliseconds.
SIZE_FLUSH_CALL_S = 0.05
VERIFY_WARM_ROUNDS = 2
VERIFY_ROUNDS = 3
# ingest_stream: backlog files of 10,000 rows (the reference cap); 26
# micro-batches support a p61.5 batch tail with 10 batches beyond it.
# A warm-up drain of 6 files runs first. Then the near-dup gate's corpus.
STREAM_ROWS_PER_FILE = 10_000
STREAM_FILES = 26
STREAM_WARM_FILES = 6
GATE_DOCS = 600
GATE_FILES = 2
# analytics: table sizes as a multiple of the sf0.01 layout.
ANALYTICS_SCALE = 1.0


@dataclass
class Run:
    spark: object
    seed: int
    seconds: float
    work: str
    tally: Tally
    progress: ProgressLog
    tracer: Tracer | None
    e2e: dict = field(default_factory=dict)
    layer: dict = field(default_factory=lambda: dict.fromkeys(spec.PER_LAYER, 0.0))
    context: dict = field(default_factory=dict)


def _p50(values) -> float:
    return percentile(values, 50) if values else 0.0


def _ms(spans) -> list[float]:
    return [(s["end"] - s["start"]) * 1e3 for s in spans]


# -- ingest_async -----------------------------------------------------------
def _trace_engine(tr: Tracer) -> None:
    tr.total(BatcherEngine, "save_async", "engine.save_async")
    tr.wrap(BatcherEngine, "flush", "engine.flush",
            after=lambda rec, rows: rec.update(rows=rows))
    tr.wrap(IdempotentParquetSink, "write_batch", "sinks.write_batch",
            after=lambda rec, wrote: rec.update(wrote=wrote))


def _span(tr: Tracer | None, name: str):
    return tr.span(name) if tr else nullcontext()


def ingest_async(run: Run) -> None:
    spark, tr = run.spark, run.tracer
    n = int(ASYNC_RATE * run.seconds)
    rows = datagen.limits_rows(run.seed, n)
    pick = random.Random(run.seed)
    user = f"user_{pick.randrange(datagen.LIMITS_USERS):03d}"
    cut = pick.randrange(200_000, 800_000)
    sink = IdempotentParquetSink(f"{run.work}/async_sink")
    engine = BatcherEngine(spark, sink, datagen.LIMITS_SCHEMA, EngineConfig(
        max_batch_rows=ASYNC_MAX_BATCH, flush_interval_s=ASYNC_TICK_S,
        migration_state_path=f"{run.work}/migrations.json"))
    if tr:
        _trace_engine(tr)
    engine.connect()

    # One producer thread (this one) on a fixed schedule; size flushes
    # run inside save_async here, tick flushes on the engine's timer.
    loop = OpenLoop(t0=time.time() + 0.05, rate=ASYNC_RATE, n=n)
    engine.start_auto_flush()
    busy = 0.0
    size_flushes: list[float] = []
    i = 0
    wall0 = time.perf_counter()
    while i < n:
        now = time.time()
        due = loop.due_count(now)
        if due <= i:
            time.sleep(min(0.002, max(0.0, loop.due(i) - now)))
            continue
        loop.record_send(i, now)
        for row in rows[i:due]:
            a = time.perf_counter()
            engine.save_async(row)
            took = time.perf_counter() - a
            busy += took
            if took > SIZE_FLUSH_CALL_S:
                size_flushes.append(took)
        i = due
    producer_wall = time.perf_counter() - wall0
    engine.close()
    # close() cancels the ticker but does not wait for a tick flush that
    # is already running on the timer thread; wait for it here so the
    # read-back sees every batch.
    for thread in threading.enumerate():
        if isinstance(thread, threading.Timer):
            thread.join(timeout=60)

    # Commit time of every batch is its ledger marker's mtime (the last
    # step of write_batch), so the untraced run needs no hook.
    commit_at = {b: os.stat(sink._marker(b)).st_mtime_ns / 1e9 for b in sink.committed_batches()}
    ranges = (
        spark.read.parquet(sink.data_dir)
        .groupBy("_batch_id")
        .agg(F.min(F.col("sha256sum").cast("long")).alias("lo"),
             F.max(F.col("sha256sum").cast("long")).alias("hi"),
             F.count(F.lit(1)).alias("n"),
             F.countDistinct("sha256sum").alias("d"))
        .collect()
    )
    lat: list[float] = []
    covered = 0
    for r in sorted(ranges, key=lambda r: r["lo"]):
        run.tally.check(r["n"] == r["d"] == r["hi"] - r["lo"] + 1 and r["lo"] == covered
                        and r["_batch_id"] in commit_at,
                        f"batch {r['_batch_id']} holds rows {r['lo']}..{r['hi']} ({r['n']})")
        covered = r["hi"] + 1
        lat.extend(loop.commit_latencies(r["lo"], r["hi"], commit_at.get(r["_batch_id"], 0.0)))
    run.tally.check(covered == n, f"batches cover {covered} of {n} rows")

    # Q1/Q2/Q3 on what was written, against the generator's own
    # tallies; repeated, and the median round reported. The first
    # rounds run at up to 1.5 times the steady time while the JIT
    # compiles the read path, so they are checked but not timed.
    want_q2 = sum(r[0] == user for r in rows)
    want_q3 = sum(r[1] >= cut for r in rows)
    rounds = []
    for k in range(VERIFY_WARM_ROUNDS + VERIFY_ROUNDS):
        timed = k >= VERIFY_WARM_ROUNDS
        trace = tr if timed else None
        t = time.perf_counter()
        with _span(trace, "engine.count"):
            q1 = engine.count()
        with _span(trace, "engine.filtered_count"):
            q2 = engine.filtered_count(user_id=user)
        with _span(trace, "engine.delete_where"):
            q3 = engine.delete_where(F.col("amount") < cut).count()
        if timed:
            rounds.append(time.perf_counter() - t)
        run.tally.check(q1 == n, f"Q1 count {q1} != {n}")
        run.tally.check(q2 == want_q2, f"Q2 filtered_count {q2} != {want_q2}")
        run.tally.check(q3 == want_q3, f"Q3 delete_where {q3} != {want_q3}")
    verify_s = percentile(rounds, 50)
    distinct = engine.read().select(F.countDistinct("sha256sum")).first()[0]
    run.tally.check(distinct == q1, f"exactly-once: {distinct} distinct of {q1}")

    summ = latency_summary(lat)
    # How many size flushes land in the producer thread depends on how
    # many rows the ticker took first, so the producer's total blocked
    # time swings by a whole flush between runs; the rate of one size
    # flush does not.
    run.e2e.update(op_p50_ms=summ["p50"] * 1e3, op_tail_ms=summ["tail"] * 1e3,
                   ops_per_s=ASYNC_MAX_BATCH / percentile(size_flushes, 50),
                   phase2_s=verify_s)
    sizes = [r["n"] for r in ranges]
    run.context.update(
        rows=n, rate_rows_per_s=ASYNC_RATE, tick_s=ASYNC_TICK_S,
        commit_tail_pct=summ["tail_pct"], commit_samples=summ["n"],
        blocked_frac=busy / producer_wall, producer_size_flushes=len(size_flushes),
        batches=len(sizes),
        full_batches=sum(s == ASYNC_MAX_BATCH for s in sizes),
        gen_lag_ms_max=loop.max_lag * 1e3, verify_ms=verify_s * 1e3,
        verify_rounds_ms=[round(x * 1e3) for x in rounds])

    lay = run.layer
    lay["gen.lag_ms_max"] = loop.max_lag * 1e3
    lay["sinks.batch_dirs"] = sum(d.startswith("_batch_id=") for d in os.listdir(sink.data_dir))
    lay["sinks.write_batch.rows"] = q1
    if tr:
        lay["engine.save_async.busy_s"] = tr.totals["engine.save_async"][1]
        flushes = [s for s in tr.named("engine.flush") if s.get("rows")]
        lay["engine.flush.count_size"] = sum(
            s["thread"] == "MainThread" and s["rows"] == ASYNC_MAX_BATCH for s in flushes)
        lay["engine.flush.count_tick"] = sum(s["thread"] != "MainThread" for s in flushes)
        own = self_times(tr.spans)
        lay["engine.flush.to_frame_ms_p50"] = _p50([own[s["id"]] * 1e3 for s in flushes])
        _sink_layer(run)
        for name in ("engine.count", "engine.filtered_count", "engine.delete_where"):
            lay[f"{name}.ms"] = _p50(_ms(tr.named(name)))


def _sink_layer(run: Run) -> None:
    writes = run.tracer.named("sinks.write_batch")
    ms = _ms(writes)
    lay = run.layer
    lay["sinks.write_batch.calls"] = len(writes)
    lay["sinks.write_batch.skipped"] = sum(not s.get("wrote") for s in writes)
    if ms:
        summ = latency_summary(ms)
        lay["sinks.write_batch.ms_p50"] = summ["p50"]
        lay["sinks.write_batch.ms_tail"] = summ["tail"]


# -- ingest_stream ----------------------------------------------------------
def _phase_ms(batches, key: str) -> float:
    return _p50([b["ms"].get(key, 0) for b in batches])


def _unordered(rows) -> set[tuple[int, int]]:
    return {(min(a, b), max(a, b)) for a, b in rows}


def _gate(spark, src: str, root: str) -> tuple[float, set[tuple[int, int]]]:
    """Run the near-dup gate over ``src``, one file per micro-batch;
    returns its wall seconds and the pairs it found."""
    t = time.perf_counter()
    run_streaming_neardup_selfindex(
        spark, src, datagen.DOCS_SCHEMA, f"{root}/out", f"{root}/index", f"{root}/ckpt",
        max_files_per_trigger=1)
    elapsed = time.perf_counter() - t
    pairs = spark.read.parquet(f"{root}/out").select("doc_id", "index_doc_id").collect()
    return elapsed, _unordered(pairs)


def _drain(spark, root: str, seed: int, files: int) -> tuple[IdempotentParquetSink, int, float]:
    """Drain a seeded backlog of ``files`` files through MicroBatcher,
    one file per trigger; returns the sink, the backlog's row count and
    the drain's wall seconds."""
    total = datagen.write_limits_backlog(f"{root}/src", seed, files, STREAM_ROWS_PER_FILE)
    sink = IdempotentParquetSink(f"{root}/sink")
    batcher = MicroBatcher(sink, BatcherConfig(trigger_interval="0 seconds"))
    t = time.perf_counter()
    batcher.run_until_drained(
        batcher.file_source(spark, f"{root}/src", datagen.LIMITS_SCHEMA), f"{root}/ckpt")
    return sink, total, time.perf_counter() - t


def ingest_stream(run: Run) -> None:
    spark, tr, log = run.spark, run.tracer, run.progress
    marks = [time.perf_counter()]

    # Warm-up, off the clock and before any tracing: a short drain of
    # its own. The first batches of a cold drain take up to twice the
    # steady time while the JIT compiles the streaming path, and how
    # many do depends on the host's load; measured batches skip that.
    log.phase = "warm-up"
    _drain(spark, f"{run.work}/stream_warm", run.seed + 1, STREAM_WARM_FILES)
    marks.append(time.perf_counter())
    if tr:
        tr.wrap(IdempotentParquetSink, "write_batch", "sinks.write_batch",
                after=lambda rec, wrote: rec.update(wrote=wrote))

    # Phase 1: drain a backlog through MicroBatcher, 1 file per trigger.
    log.phase = "drain"
    sink, total, drain_s = _drain(spark, f"{run.work}/stream", run.seed, STREAM_FILES)
    marks.append(time.perf_counter())
    committed = sink.committed_batches()
    batches = log.wait_for("drain", len(committed))
    stored = sink.count(spark)
    distinct = sink.read(spark).select(F.countDistinct("sha256sum")).first()[0]
    run.tally.ok(len(committed))
    run.tally.check(stored == total, f"stream sink holds {stored} of {total} rows")
    run.tally.check(distinct == total, f"stream sink: {distinct} distinct ids of {total}")
    run.tally.check(len(batches) == len(committed),
                    f"{len(batches)} progress reports for {len(committed)} batches")

    # Phase 2: the at-ingestion near-dup gate over seeded document files.
    docs = datagen.documents_table(np.random.default_rng(run.seed), GATE_DOCS)
    gate_src = f"{run.work}/gate_src"
    sizes = datagen.write_document_files(gate_src, docs, run.seed, GATE_FILES)
    log.phase = "gate"
    marks.append(time.perf_counter())
    gate_s, pairs = _gate(spark, gate_src, f"{run.work}/gate")
    gate_batches = log.wait_for("gate", sum(s > 0 for s in sizes))
    marks.append(time.perf_counter())

    # Off the clock: the same documents as a single-batch gate run.
    log.phase = "reference"
    one = f"{run.work}/gate_one"
    datagen.write_document_files(f"{one}/src", docs, run.seed, 1)
    _, reference = _gate(spark, f"{one}/src", one)
    run.tally.ok(len(gate_batches))
    run.tally.check(pairs == reference,
                    f"gate found {len(pairs)} pairs, single-batch gate {len(reference)}")
    run.tally.check(len(pairs) > 0, "gate found no pairs")
    marks.append(time.perf_counter())

    trig = [b["ms"]["triggerExecution"] for b in batches]
    summ = latency_summary(trig)
    run.e2e.update(op_p50_ms=summ["p50"], op_tail_ms=summ["tail"],
                   ops_per_s=total / drain_s, phase2_s=gate_s)
    run.context.update(
        backlog_rows=total, backlog_files=STREAM_FILES, batch_tail_pct=summ["tail_pct"],
        batch_samples=summ["n"], batch_ms=[round(x) for x in trig], gate_docs=GATE_DOCS,
        gate_files=GATE_FILES, gate_docs_per_s=GATE_DOCS / gate_s, gate_pairs=len(pairs),
        phase_s=dict(zip(("warm_up", "drain", "drain_checks", "gate", "reference"),
                         np.diff(marks).tolist())))

    lay = run.layer
    lay["streaming.batches"] = len(batches)
    lay["streaming.rows_per_batch_p50"] = _p50([b["rows"] for b in batches])
    for key, name in (("latestOffset", "latest_offset"), ("getBatch", "get_batch"),
                      ("queryPlanning", "query_planning"), ("addBatch", "add_batch"),
                      ("walCommit", "wal_commit"), ("commitOffsets", "commit_offsets")):
        lay[f"streaming.{name}_ms_p50"] = _phase_ms(batches, key)
    lay["streaming.idle_frac"] = max(0.0, 1.0 - sum(trig) / 1e3 / drain_s)
    lay["neardup.batches"] = len(gate_batches)
    lay["neardup.add_batch_ms_p50"] = _phase_ms(gate_batches, "addBatch")
    lay["neardup.query_planning_ms_p50"] = _phase_ms(gate_batches, "queryPlanning")
    lay["neardup.pairs"] = len(pairs)
    lay["neardup.index_partitions"] = sum(
        d.startswith("_batch_id=") for d in os.listdir(f"{run.work}/gate/index"))
    lay["sinks.batch_dirs"] = sum(d.startswith("_batch_id=") for d in os.listdir(sink.data_dir))
    lay["sinks.write_batch.rows"] = stored
    if tr:
        _sink_layer(run)


# -- analytics --------------------------------------------------------------
def _trace_analytics(tr: Tracer) -> None:
    def memo_key(args, kwargs):
        table, spark, sf_dir, _build, *extra = args
        return {"hit": (spark.sparkContext.applicationId, sf_dir, *extra) in table}

    tr.wrap(memo, "get_or_build", "memo.get_or_build", before=memo_key)
    tr.wrap(memo, "evict_all", "memo.evict_all")
    tr.wrap(chsql, "translate", "plans.chsql.translate")


def _basket_pass(run: Run, order, sf_dir: str, kind: str, idx: int) -> tuple[list, dict]:
    """One pass over the basket; returns the per-query wall seconds
    (query call plus collecting the result) and the results. A cold
    pass releases every cached frame and memo after each query; a warm
    pass keeps the memos until it ends."""
    spark, tr = run.spark, run.tracer
    walls, results = [], {}
    for q in order:
        if tr:
            spark.sparkContext.setJobGroup(f"{kind}{idx}:{q}", q)
        t = time.perf_counter()
        try:
            with _span(tr, f"{kind}.query"):
                with _span(tr, f"{kind}.build.{q}"):
                    df = QUERIES[q](spark, sf_dir)
                with _span(tr, f"{kind}.exec.{q}"):
                    results[q] = df.toPandas()
            run.tally.ok()
        except Exception as exc:  # noqa: BLE001 - a failed query is a counted failure
            run.tally.check(False, f"{kind} {q}: {type(exc).__name__}: {exc}")
        walls.append(time.perf_counter() - t)
        if kind == "cold":
            spark.catalog.clearCache()
            memo.evict_all()
    if kind == "warm":
        spark.catalog.clearCache()
        memo.evict_all()
    return walls, results


def _same(got, want) -> bool:
    import pandas as pd

    from tests.parity import canonicalize

    if len(got) != len(want) or sorted(got.columns) != sorted(want.columns):
        return False
    try:
        pd.testing.assert_frame_equal(canonicalize(got), canonicalize(want),
                                      check_dtype=False, check_exact=True)
    except AssertionError:
        return False
    return True


def _check_oracles(run: Run, results: dict, sf_dir: str) -> None:
    from tests.parity import duckdb_connection

    con = duckdb_connection(sf_dir)
    con.execute("SET enable_progress_bar = false")
    try:
        for q, got in results.items():
            run.tally.check(_same(got, con.execute(ORACLES[q]).df()),
                            f"{q} differs from its DuckDB oracle")
    finally:
        con.close()


def analytics(run: Run) -> None:
    tr = run.tracer
    sf_dir = f"{run.work}/sf"
    datagen.write_catalog(sf_dir, run.seed, ANALYTICS_SCALE)
    order = spec.BASKET
    if tr:
        _trace_analytics(tr)

    # The cold pass is the session's first run of every plan: it pays
    # code generation and every memo build. Warm passes follow, with the
    # memos kept within a pass, until the measuring time is up. Both run
    # in the basket's fixed order: first-run costs depend on what ran
    # before, and a seeded order moved the cold median by 30% between
    # seeds (the seed still sets the data).
    t_end = time.perf_counter() + run.seconds
    m0 = time.perf_counter()
    cold, cold_results = _basket_pass(run, order, sf_dir, "cold", 0)
    m1 = time.perf_counter()
    warm = []
    while not warm or time.perf_counter() < t_end:
        walls, warm_results = _basket_pass(run, order, sf_dir, "warm", len(warm))
        warm.append(sum(walls))
        if len(warm) == 1:
            m2 = time.perf_counter()
            for q, got in warm_results.items():
                run.tally.check(q in cold_results and _same(got, cold_results[q]),
                                f"{q}: warm result differs from cold")
    _check_oracles(run, cold_results, sf_dir)

    summ = latency_summary(cold)
    run.e2e.update(op_p50_ms=summ["p50"] * 1e3, op_tail_ms=summ["tail"] * 1e3,
                   ops_per_s=len(cold) / sum(cold), phase2_s=percentile(warm, 50))
    run.context.update(
        cold_query_s=dict(zip(order, cold)),
        query_tail_pct=summ["tail_pct"],
        basket_cold_s=sum(cold), basket_warm_s=warm, scale_vs_sf001=ANALYTICS_SCALE)
    if tr:
        _analytics_layer(run, order, (m0, m1, m2))


def _analytics_layer(run: Run, order, mark) -> None:
    """Per-layer numbers from the cold pass and the first warm pass."""
    tr, lay, spark = run.tracer, run.layer, run.spark
    own = self_times(tr.spans)
    cold0, warm0, end = mark
    for q in order:
        for part in ("build", "exec"):
            spans = tr.named(f"cold.{part}.{q}")
            lay[f"query.{q}.{part}_s"] = sum(s["end"] - s["start"] for s in spans)
        lay[f"query.{q}.tasks"] = job_counts(spark, f"cold0:{q}")["tasks"]
    for kind, lo, hi in (("cold", cold0, warm0), ("warm", warm0, end)):
        totals = {"jobs": 0, "stages": 0, "tasks": 0}
        for q in order:
            for k, v in job_counts(spark, f"{kind}0:{q}").items():
                totals[k] += v
        for k, v in totals.items():
            lay[f"spark.{kind}.{k}"] = v
        calls = tr.named("memo.get_or_build", lo, hi)
        misses = [s for s in calls if not s["hit"]]
        lay[f"memo.{kind}.calls"] = len(calls)
        lay[f"memo.{kind}.hits"] = len(calls) - len(misses)
        lay[f"memo.{kind}.misses"] = len(misses)
        lay[f"memo.{kind}.build_s"] = sum(own[s["id"]] for s in misses)
    lay["memo.evict_ms"] = sum(_ms(tr.named("memo.evict_all", cold0, warm0)))
    lay["plans.chsql.translate_ms"] = sum(_ms(tr.named("plans.chsql.translate", cold0, warm0)))


RUNNERS = {"ingest_async": ingest_async, "ingest_stream": ingest_stream, "analytics": analytics}
