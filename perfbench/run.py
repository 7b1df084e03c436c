"""Benchmark entry point.

Run from the root of a checkout::

    python3 perfbench/run.py --workload ingest_async --seed 1 --seconds 6 --trace 0

``--trace 0`` prints every end-to-end metric; ``--trace 1`` installs the
tracing wrappers and prints every per-layer metric instead. The last
line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``; the line before it carries
the run's context (seed, load average, core count, sample counts). The
full record, spans included for a traced run, is written under
``perfbench/out/``. The exit code is non-zero when an output check
fails.
"""

from __future__ import annotations

import time

PROCESS_T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CPUS = 4
HEAP = "1g"
SETUPS = 3


def _start_session(tmp: str):
    from clickhouse_batcher_spark.session import get_session

    # The whole heap is committed and touched at launch, so the JVM's
    # resident size does not depend on when G1 decides to grow the heap.
    # Scratch files stay inside the run's work directory.
    return get_session(app_name="perfbench", cpus=CPUS, extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": tmp,
        "spark.driver.extraJavaOptions":
            f"-Xms{HEAP} -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp}",
    })


def _warm_up(spark, work: str, k: int, tally) -> None:
    """One small ingest through the engine and one small catalog query."""
    import datagen
    from clickhouse_batcher_spark.catalog import QUERIES
    from clickhouse_batcher_spark.engine import BatcherEngine, EngineConfig
    from clickhouse_batcher_spark.sinks.parquet_sink import IdempotentParquetSink

    sink = IdempotentParquetSink(f"{work}/warm{k}")
    engine = BatcherEngine(spark, sink, datagen.LIMITS_SCHEMA, EngineConfig(
        max_batch_rows=1_000, migration_state_path=f"{work}/warm{k}.json"))
    for row in datagen.limits_rows(k, 1_000):
        engine.save_async(row)
    engine.close()
    tally.check(engine.count() == 1_000, "warm-up ingest lost rows")
    QUERIES["tpch_q1"](spark, f"{work}/tiny").write.format("noop").mode("overwrite").save()
    tally.ok()


def setup(work: str, seed: int, tally):
    """Start the session and warm it up ``SETUPS`` times; every start
    but the last is stopped again. The first start counts from process
    start, so it includes the imports and the JVM launch. Returns the
    session and the (start, warm-up) seconds of each round."""
    import datagen
    from clickhouse_batcher_spark import catalog
    from clickhouse_batcher_spark.operators import memo

    catalog.load_all()
    datagen.write_catalog(f"{work}/tiny", seed, scale=0.1)
    rounds = []
    t0 = PROCESS_T0
    for k in range(SETUPS):
        spark = _start_session(f"{work}/tmp")
        t1 = time.perf_counter()
        _warm_up(spark, work, k, tally)
        t2 = time.perf_counter()
        rounds.append((t1 - t0, t2 - t1))
        if k < SETUPS - 1:
            memo.evict_all()
            spark.stop()
            t0 = time.perf_counter()
    return spark, rounds


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    import spec

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=spec.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    import clickhouse_batcher_spark  # noqa: F401  (fails early outside a checkout)

    import workloads
    from stats import Tally, host_context, peak_rss_mb, steal_frac
    from statistics import median
    from tracing import ProgressLog, Tracer

    context = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
               "trace": args.trace, "load_start": host_context()}
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(HERE, "_work", run_id)
    out_dir = os.path.join(HERE, "out")
    os.makedirs(f"{work}/tmp", exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    os.environ["TMPDIR"] = f"{work}/tmp"
    tempfile.tempdir = None  # re-read TMPDIR
    tally = Tally()
    spark = None
    try:
        spark, rounds = setup(work, args.seed, tally)
        progress = ProgressLog()
        spark.streams.addListener(progress)
        tracer = Tracer(run_id) if args.trace else None
        run = workloads.Run(spark=spark, seed=args.seed, seconds=args.seconds, work=work,
                            tally=tally, progress=progress, tracer=tracer)
        t = time.perf_counter()
        try:
            workloads.RUNNERS[args.workload](run)
        finally:
            if tracer:
                tracer.unwrap_all()
        context["workload_s"] = time.perf_counter() - t
        spark.streams.removeListener(progress)
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        rss = peak_rss_mb([os.getpid(), jvm_pid])
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    run.e2e["setup_s"] = median(a + b for a, b in rounds)
    run.e2e["peak_rss_mb"] = rss
    run.layer["session.start_s"] = median(a for a, _ in rounds)
    run.layer["session.warm_s"] = median(b for _, b in rounds)
    end = host_context()
    context.update(run.context, setup_rounds_s=rounds, load_end=end,
                   steal_frac=steal_frac(context["load_start"]["cpu_ticks"], end["cpu_ticks"]),
                   failures=tally.reasons, failed_frac=tally.failed_frac)
    chosen = spec.PER_LAYER if args.trace else spec.END_TO_END
    values = run.layer if args.trace else run.e2e
    metrics = {name: {"value": float(values[name]), "unit": unit}
               for name, (unit, _better) in chosen.items()}
    correct = tally.failed == 0
    result = {"correct": correct, "attempted": tally.attempted, "failed": tally.failed,
              "metrics": metrics}
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
              "w") as fh:
        json.dump({"context": context, "result": result, "e2e": run.e2e, "layer": run.layer},
                  fh, indent=1, default=str)
    if tracer:
        tracer.dump(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-spans.jsonl"))
    print(json.dumps({"context": context}, default=str))
    print(json.dumps(result))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
