"""Coverage for helper functions not exercised via the catalog."""

from __future__ import annotations

import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from clickhouse_batcher_spark.functions import portable_hash64


def test_portable_hash64_stable_and_nonnegative(spark):
    df = spark.createDataFrame([("a",), ("b",), ("a",)], "s STRING")
    rows = df.select("s", portable_hash64("s").alias("h")).collect()
    by_val = {}
    for r in rows:
        assert r["h"] >= 0
        by_val.setdefault(r["s"], set()).add(r["h"])
    assert all(len(v) == 1 for v in by_val.values())  # stable per value
    assert by_val["a"] != by_val["b"]
    # salted variant diverges
    salted = df.select(portable_hash64("s", salt="x").alias("h")).collect()
    assert {r["h"] for r in salted} != {r["h"] for r in rows}


def test_cli_list_runs_without_spark():
    proc = subprocess.run(
        [sys.executable, "-m", "clickhouse_batcher_spark", "list"],
        capture_output=True,
        text=True,
        cwd="/root/repo",
        timeout=120,
    )
    assert proc.returncode == 0
    assert "tpch_q1  [oracle]" in proc.stdout
    assert "similarity_ann_lsh  [rows-only]" in proc.stdout


def test_register_views_sql_surface(spark, sf_dir):
    """The spark.sql surface over registered table views."""
    from clickhouse_batcher_spark.tables import TABLE_NAMES, register_views

    register_views(spark, sf_dir)
    for t in TABLE_NAMES:
        assert spark.sql(f"SELECT COUNT(*) FROM {t}").collect()[0][0] > 0
    joined = spark.sql(
        """
        SELECT r_name, COUNT(*) AS n FROM region
        JOIN nation ON n_regionkey = r_regionkey GROUP BY r_name
        """
    )
    assert joined.count() == 5


def test_catalog_registry_invariants(spark):
    from clickhouse_batcher_spark import catalog

    catalog.load_all()
    # every oracle belongs to a registered query
    assert set(catalog.ORACLES) <= set(catalog.QUERIES)
    # all callables share the (spark, sf_dir) signature
    import inspect

    for name, fn in catalog.QUERIES.items():
        params = list(inspect.signature(fn).parameters)
        assert len(params) == 2, name
    # oracle SQL strings are single-statement (no stray semicolons)
    for name, sql in catalog.ORACLES.items():
        assert ";" not in sql, name


def test_driver_window_is_exactly_the_priority_list():
    """The driver checks the FIRST 50 entries of queries(); pin the
    window to _PRIORITY so a catalog edit can't silently rotate a
    query out before it has its green row (round-3 lesson: window
    membership is a correctness-gate decision, not an accident of
    registration order)."""
    import importlib.util
    import os

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "__spark_entry__.py",
    )
    spec = importlib.util.spec_from_file_location("__spark_entry__", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    names = list(mod.queries().keys())
    assert len(mod._PRIORITY) == 50
    assert names[: len(mod._PRIORITY)] == mod._PRIORITY
    # every priority entry must have an oracle (the window is the
    # hash-checked gate; rows-only entries do not belong there)
    oracled = set(mod.oracle_sql())
    missing = [n for n in mod._PRIORITY if n not in oracled]
    assert not missing, missing


def test_transfer_checksum_detects_corruption_and_ignores_order(spark, sf_dir):
    """The shipping-integrity property: permuting rows leaves the
    checksum unchanged (commutative fold); corrupting one value
    changes it."""
    from pyspark.sql import functions as F

    from clickhouse_batcher_spark import catalog
    from clickhouse_batcher_spark.tables import load_table

    catalog.load_all()
    base = {
        r["o_orderstatus"]: r["checksum"]
        for r in catalog.QUERIES["orders_transfer_checksum"](spark, sf_dir).collect()
    }
    # permute: recompute over a repartitioned (differently ordered) copy
    import clickhouse_batcher_spark.queries_ext5 as q5

    orders = load_table(spark, sf_dir, "orders").repartition(13)
    canonical = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.col("o_custkey").cast("string"),
        F.col("o_totalprice").cast("decimal(15,2)").cast("string"),
    )
    row_hash = F.conv(F.substring(F.sha2(canonical, 256), 1, 15), 16, 10).cast(
        "decimal(38,0)"
    )
    permuted = {
        r["o_orderstatus"]: r["checksum"]
        for r in orders.groupBy("o_orderstatus")
        .agg(
            (F.sum(row_hash) % F.lit(9223372036854775807).cast("decimal(38,0)"))
            .cast("bigint")
            .alias("checksum")
        )
        .collect()
    }
    assert permuted == base

    # corrupt one row's totalprice -> that group's checksum must move
    corrupted_orders = load_table(spark, sf_dir, "orders").withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") == 1, F.col("o_totalprice") + 0.01).otherwise(
            F.col("o_totalprice")
        ),
    )
    status_of_key1 = corrupted_orders.filter("o_orderkey = 1").collect()[0][
        "o_orderstatus"
    ]
    canonical2 = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.col("o_custkey").cast("string"),
        F.col("o_totalprice").cast("decimal(15,2)").cast("string"),
    )
    row_hash2 = F.conv(F.substring(F.sha2(canonical2, 256), 1, 15), 16, 10).cast(
        "decimal(38,0)"
    )
    corrupted = {
        r["o_orderstatus"]: r["checksum"]
        for r in corrupted_orders.groupBy("o_orderstatus")
        .agg(
            (F.sum(row_hash2) % F.lit(9223372036854775807).cast("decimal(38,0)"))
            .cast("bigint")
            .alias("checksum")
        )
        .collect()
    }
    assert corrupted[status_of_key1] != base[status_of_key1]
    for k in base:
        if k != status_of_key1:
            assert corrupted[k] == base[k]


def test_with_global_cumsum_matches_single_window(spark, sf_dir):
    """The two-level distributed running sum must equal the naive
    single-partition Window.orderBy cumsum bit-for-bit, under any
    input partitioning (integer sums commute)."""
    from pyspark.sql.window import Window

    from clickhouse_batcher_spark.functions import with_global_cumsum
    from clickhouse_batcher_spark.tables import load_table

    ev = (
        load_table(spark, sf_dir, "events")
        .select("event_id", F.col("value").cast("bigint").alias("v"))
        .limit(5000)
    )
    w = Window.orderBy("event_id").rowsBetween(Window.unboundedPreceding, 0)
    naive = {
        r["event_id"]: r["cs"]
        for r in ev.select(
            "event_id", F.sum("v").over(w).alias("cs")
        ).collect()
    }
    for parts in (1, 7):
        got = {
            r["event_id"]: r["cs"]
            for r in with_global_cumsum(
                ev.repartition(parts), "v", ["event_id"], cumsum_name="cs"
            ).collect()
        }
        assert got == naive


def _scan_input(spark, name):
    """(frame, order keys) for the ordered-scan property test.

    ``agg100k``: 100k rows out of a hash aggregate, so every recompute
    delivers them in a new order and range sampling is forced; a
    float key with ties, NULLs and NaNs, a unique ``uid`` tiebreak,
    NULL values, and a ``w`` payload that no key reads.
    ``rows12``: twelve rows with tied keys and NULL values (the first
    row in key order has a NULL ``w``), keyed by columns, not names.
    """
    if name == "rows12":
        df = spark.createDataFrame(
            list(
                zip(
                    [5, 1, 3, 3, 2, 2, 2, 9, 0, 7, 7, 4],
                    [2, None, 4, 4, 8, 1, 5, 0, 3, None, 6, 7],
                    [None, 10, 30, 0, 1, None, 2, 3, None, 5, 6, 7],
                    range(12),
                )
            ),
            "k INT, v INT, w INT, uid INT",
        )
        return df, [F.col("k"), F.col("uid")]
    n = 100_000
    s = (
        spark.range(0, 2 * n, numPartitions=4)
        .groupBy((F.col("id") % n).alias("uid"))
        .agg(F.sum("id").alias("s"))
    )
    df = s.select(
        "uid",
        F.expr(
            "CASE WHEN uid % 101 = 0 THEN NULL"
            " WHEN uid % 103 = 0 THEN double('NaN')"
            " ELSE CAST(s * 7919 % 10007 AS DOUBLE) / 8 END"
        ).alias("k"),
        F.expr("CASE WHEN uid % 37 = 0 THEN NULL ELSE s % 1000 - 500 END").alias(
            "v"
        ),
        (F.col("uid") % 17).alias("w"),
    )
    return df, ["k", "uid"]


@pytest.mark.parametrize(
    "name,parts,aqe",
    [("agg100k", p, aqe) for p in (2, 4, 8, 32) for aqe in (True, False)]
    + [("rows12", p, True) for p in (1, 3, 64)],
)
def test_ordered_scan_matches_single_window(spark, name, parts, aqe):
    """Global index, cumsum and inclusive/exclusive cummax equal a
    single-partition ``Window.orderBy`` recompute at every bucket count
    (1, more buckets than rows, and the sampled range 2..32), with AQE
    on and off. The index is a permutation of 0..n-1 even when its
    consumer reads a non-key column, so the scan's count and numbering
    branches plan different exchanges. NULL values add 0 to a running
    sum (never a NULL output); exclusive cummax is NULL on the first
    row."""
    from pyspark.sql import Window

    from clickhouse_batcher_spark.functions import (
        with_global_cumsum,
        with_global_cummax,
        with_global_index,
    )

    df, keys = _scan_input(spark, name)
    incl = Window.orderBy(*keys).rowsBetween(Window.unboundedPreceding, 0)
    excl = Window.orderBy(*keys).rowsBetween(Window.unboundedPreceding, -1)
    want = {
        r[0]: tuple(r[1:])
        for r in df.select(
            "uid",
            F.row_number().over(Window.orderBy(*keys)) - 1,
            F.sum(F.coalesce("v", F.lit(0))).over(incl),
            F.sum(F.coalesce("w", F.lit(0))).over(incl),
            F.max("v").over(incl),
            F.max("v").over(excl),
        ).collect()
    }
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", str(aqe).lower())
    try:
        idx = with_global_index(df, keys, "gi", num_partitions=parts)
        gi = {r.uid: r.gi for r in idx.select("uid", "gi", "w").collect()}
        cs = {
            r.uid: (r.cs, r.cs2)
            for r in with_global_cumsum(
                df, {"v": "cs", "w": "cs2"}, keys, num_partitions=parts
            ).collect()
        }
        mi = {
            r.uid: r.m
            for r in with_global_cummax(df, "v", keys, "m", parts).collect()
        }
        me = {
            r.uid: r.m
            for r in with_global_cummax(
                df, {"v": "m"}, keys, num_partitions=parts, exclusive=True
            ).collect()
        }
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    assert sorted(gi.values()) == list(range(len(want)))
    got = {u: (gi[u], *cs[u], mi[u], me[u]) for u in want}
    bad = [(u, want[u], got[u]) for u in want if got[u] != want[u]]
    assert not bad, f"{len(bad)} rows differ, e.g. {bad[:3]}"
    assert None not in {c for pair in cs.values() for c in pair}


def test_ordered_scan_pins_nothing(spark, tmp_path):
    """The scan cuts no lineage: running index, cumsum and cummax to
    completion leaves the persistent RDDs as they were and writes no
    checkpoint file, even with a checkpoint dir set. Most callers are
    plain queries, so a cut there would stay pinned for the session."""
    from clickhouse_batcher_spark.functions import (
        with_global_cumsum,
        with_global_cummax,
        with_global_index,
    )

    sc = spark.sparkContext
    df, keys = _scan_input(spark, "rows12")
    before = sc._jsc.getPersistentRDDs().size()
    sc.setCheckpointDir(str(tmp_path / "ckpt"))
    try:
        for out in (
            with_global_index(df, keys, num_partitions=3),
            with_global_cumsum(df, "v", keys, num_partitions=3),
            with_global_cummax(df, "v", keys, num_partitions=3, exclusive=True),
        ):
            assert out.count() == 12
    finally:
        scala_none = getattr(getattr(sc._jvm.scala, "None$"), "MODULE$")
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(scala_none)
    assert sc._jsc.getPersistentRDDs().size() == before
    assert not [p for p in tmp_path.rglob("*") if p.is_file()]


def test_scan_bounds_keep_timestamps_exact(spark, monkeypatch):
    """A timestamp bound drawn across a DST fold comes back as the same
    instant (and a TIMESTAMP_NTZ bound as the same wall time): the
    bucket tree needs its bounds in key order, and PySpark's own
    round trip maps both 01:30s of a repeated hour to one instant."""
    import time

    from pyspark.sql.types import TimestampNTZType, TimestampType

    from clickhouse_batcher_spark.functions import _literal

    start = 1_730_610_000_000_000  # 2024-11-03 01:00 EDT
    micros = [start + i * 1_800_000_000 + 7 * i for i in range(4)]
    ts, ntz = TimestampType(), TimestampNTZType()
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        bounds = [_literal(ts.fromInternal(m), ts) for m in micros]
        walls = [_literal(ntz.fromInternal(m), ntz) for m in micros]
    finally:
        monkeypatch.undo()
        time.tzset()
    row = spark.range(1).select(*[F.unix_micros(b) for b in bounds], *walls).first()
    assert list(row) == micros + [ntz.fromInternal(m) for m in micros]


def test_pareto_skyline_matches_quadratic_definition(spark, sf_dir):
    """The linear sweep equals the O(n^2) NOT EXISTS dominance
    definition computed independently in DuckDB."""
    import duckdb

    from clickhouse_batcher_spark import catalog

    catalog.load_all()
    got = sorted(
        r["o_orderkey"]
        for r in catalog.QUERIES["orders_pareto_skyline"](
            spark, sf_dir
        ).collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW orders AS SELECT * FROM '{sf_dir}/orders.parquet'"
    )
    want = [
        r[0]
        for r in con.execute(
            """
            SELECT o_orderkey FROM orders p
            WHERE NOT EXISTS (
              SELECT 1 FROM orders q
              WHERE q.o_totalprice >= p.o_totalprice
                AND q.o_orderdate >= p.o_orderdate
                AND (q.o_totalprice > p.o_totalprice
                     OR q.o_orderdate > p.o_orderdate)
            )
            ORDER BY o_orderkey
            """
        ).fetchall()
    ]
    assert got == want and len(got) >= 1
