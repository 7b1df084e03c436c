"""Stateful streaming operator + IVF ANN tests."""

from pyspark.sql import functions as F

from clickhouse_batcher_spark import catalog

catalog.load_all()

from clickhouse_batcher_spark.streaming.stateful import running_user_totals
from clickhouse_batcher_spark.tables import load_table


def test_running_user_totals_across_batches(spark, sf_dir, tmp_path):
    """State carries across micro-batches: the LAST update emitted per
    user must equal the batch-mode groupBy over all data."""
    events = load_table(spark, sf_dir, "events").select("user_id", "value", "ts")
    src = str(tmp_path / "src")
    events.repartition(4).write.parquet(src)

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out = running_user_totals(stream)
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("state_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # memory sink in update mode appends each emitted update; the final
    # state per user is the row with the max n_events.
    final = spark.sql(
        """
        SELECT user_id, n_events, total_value FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                       ORDER BY n_events DESC) AS rn
          FROM state_out) WHERE rn = 1
        """
    )
    expected = events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value")
    )
    got = {r["user_id"]: (r["n_events"], round(r["total_value"], 6)) for r in final.collect()}
    exp = {r["user_id"]: (r["n_events"], round(r["total_value"], 6)) for r in expected.collect()}
    assert set(got) == set(exp)
    for uid in exp:
        assert got[uid][0] == exp[uid][0], uid
        assert abs(got[uid][1] - exp[uid][1]) < 1e-6, uid


import pytest


@pytest.mark.parametrize("fixture_dir", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"])
def test_ivf_recall_vs_bruteforce(spark, fixture_dir):
    """K-means centroids (seeded Lloyd) + soft assignment (IVF_ASSIGN=2)
    + nprobe=8: measured 0.92 / 0.96 recall on the two fixtures (the
    corpus is near-isotropic, so recall is candidate-coverage-bound —
    multi-assign is what buys coverage without probing every cell)."""
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in catalog.QUERIES["similarity_topk"](spark, fixture_dir).collect()
    }
    approx_rows = catalog.QUERIES["similarity_ann_ivf"](spark, fixture_dir).collect()
    approx = {(r["query_id"], r["neighbor_id"]) for r in approx_rows}
    assert approx
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.92, f"recall {recall}"


def test_stateful_state_survives_restart(spark, sf_dir, tmp_path):
    """Kill the stateful query mid-stream; restart from the checkpoint:
    per-key running totals must end exactly where a single
    uninterrupted run would."""
    import time as _time

    events = load_table(spark, sf_dir, "events").select("user_id", "value", "ts")
    src = str(tmp_path / "src")
    events.repartition(6).write.parquet(src)
    ckpt = str(tmp_path / "ckpt")

    out = str(tmp_path / "updates")

    def start():
        # memory sink cannot recover from a checkpoint; foreachBatch
        # can. Updates append at-least-once — harmless, because the
        # running counter is monotone and we take the max per user.
        stream = (
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        return (
            running_user_totals(stream)
            .writeStream.outputMode("update")
            .foreachBatch(
                lambda df, bid: df.write.mode("append").parquet(out)
            )
            .option("checkpointLocation", ckpt)
            .start()
        )

    # phase 1: process at least one batch, then stop mid-stream
    q = start()
    deadline = _time.time() + 60
    while _time.time() < deadline and q.lastProgress is None:
        _time.sleep(0.3)
    q.stop()
    q.awaitTermination()

    # phase 2: restart from the checkpoint, drain fully
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    final = (
        spark.read.parquet(out)
        .groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"))
    )
    got = {r["user_id"]: r["n_events"] for r in final.collect()}
    exp = {
        r["user_id"]: r["cnt"]
        for r in events.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    assert got == exp  # state carried across the restart exactly


@pytest.mark.parametrize("fixture_dir", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"])
def test_pq_recall_vs_bruteforce(spark, fixture_dir):
    """PQ ADC (M=8 subspaces x 32 codes = 8 bytes/vector) + exact
    rerank of 16x candidates: measured 0.90 / 0.86 recall on the two
    fixtures. Without an IVF coarse stage the ADC scan is exhaustive
    over codes — the compression, not the pruning, is what PQ buys."""
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in catalog.QUERIES["similarity_topk"](spark, fixture_dir).collect()
    }
    rows = catalog.QUERIES["similarity_ann_pq"](spark, fixture_dir).collect()
    approx = {(r["query_id"], r["neighbor_id"]) for r in rows}
    assert approx
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.85, f"recall {recall}"


def test_pq_deterministic(spark):
    # call the BUILD function directly (the catalog query memoizes its
    # result per session, which would make a second call vacuously
    # equal): two full recomputes must agree exactly
    from clickhouse_batcher_spark.operators.similarity import similarity_ann_pq

    _similarity_ann_pq_build = similarity_ann_pq.__wrapped__

    a = sorted(
        map(tuple, _similarity_ann_pq_build(spark, "/root/testdata/sf0.001").collect())
    )
    b = sorted(
        map(tuple, _similarity_ann_pq_build(spark, "/root/testdata/sf0.001").collect())
    )
    assert a == b
    # and the memoized catalog entry serves the same rows
    m = sorted(
        map(tuple, catalog.QUERIES["similarity_ann_pq"](spark, "/root/testdata/sf0.001").collect())
    )
    assert m == a
