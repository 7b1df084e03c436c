"""Physical-layout scale proofs: partition pruning and bucketed joins."""

from __future__ import annotations

from pyspark.sql import functions as F

from clickhouse_batcher_spark.sources.layout import (
    read_partitioned,
    write_bucketed_table,
    write_partitioned_by_month,
)
from clickhouse_batcher_spark.tables import load_table


def _plan(df) -> str:
    jvm = df.sparkSession._jvm
    return df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_partition_pruning_on_month_layout(spark, sf_dir, tmp_path):
    events = load_table(spark, sf_dir, "events")
    path = str(tmp_path / "events_by_month")
    write_partitioned_by_month(events, "ts", path)

    back = read_partitioned(spark, path)
    jan = back.filter((F.col("_year") == 2024) & (F.col("_month") == 1))
    plan = _plan(jan.select("event_id"))
    # the predicate must become a PartitionFilter (directory pruning),
    # not a row-level PushedFilter
    assert "PartitionFilters" in plan
    assert "_month" in plan.split("PartitionFilters", 1)[1][:300]
    assert jan.count() == events.filter(F.month("ts") == 1).count()


def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path):
    """Both sides bucketed on the join key -> sort-merge join with no
    shuffle Exchange: the 100 TB co-location story, verified on the
    actual plan."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    try:
        orders = load_table(spark, sf_dir, "orders")
        lineitem = load_table(spark, sf_dir, "lineitem")
        write_bucketed_table(
            orders.select("o_orderkey", "o_totalprice"), "b_orders", "o_orderkey", 8
        )
        write_bucketed_table(
            lineitem.select("l_orderkey", "l_quantity"), "b_lineitem", "l_orderkey", 8
        )
        joined = spark.table("b_lineitem").join(
            spark.table("b_orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = _plan(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # co-located: shuffle paid at write
        # correctness unchanged
        expected = lineitem.join(
            orders, lineitem.l_orderkey == orders.o_orderkey
        ).count()
        assert joined.count() == expected
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_compaction_preserves_data_and_reduces_files(spark, sf_dir, tmp_path):
    """Compacting a many-small-files table must keep every row/value
    and shrink the file count to the bin-packing plan's bin count."""
    from clickhouse_batcher_spark.sources.layout import (
        compact_parquet,
        list_data_files,
        plan_compaction,
    )
    from clickhouse_batcher_spark.tables import load_table

    src = str(tmp_path / "fragmented")
    dst = str(tmp_path / "compacted")
    events = load_table(spark, sf_dir, "events")
    events.repartition(40).write.parquet(src)

    files = list_data_files(spark, src)
    assert len(files) == 40
    total = sum(sz for _, sz in files)
    target = max(1, total // 4)
    plan = plan_compaction(files, target)
    # every file appears in exactly one bin
    assert sorted(f for b in plan for f in b) == sorted(f for f, _ in files)
    # no bin of 2+ small files exceeds the target
    by_name = dict(files)
    for b in plan:
        if len(b) > 1:
            assert sum(by_name[f] for f in b) <= target

    n_bins = compact_parquet(spark, src, dst, target)
    assert n_bins == len(plan)
    out_files = list_data_files(spark, dst)
    assert len(out_files) == n_bins < len(files)

    before = events.orderBy("event_id").toPandas()
    after = spark.read.parquet(dst).orderBy("event_id").toPandas()
    assert before.equals(after)


def test_compaction_size_fidelity_mode_tracks_plan_bins(spark, sf_dir, tmp_path):
    """size_fidelity=True writes each planned bin as one output file,
    so output sizes — not just the count — follow the plan: every
    output built from a multi-file bin stays within the target plus
    the single-file re-encode overhead (ADVICE r4: plain coalesce
    merges by adjacency and can blow past target_bytes arbitrarily)."""
    from clickhouse_batcher_spark.sources.layout import (
        compact_parquet,
        list_data_files,
        plan_compaction,
    )
    from clickhouse_batcher_spark.tables import load_table

    src = str(tmp_path / "fragmented")
    dst = str(tmp_path / "compacted")
    events = load_table(spark, sf_dir, "events")
    events.repartition(24).write.parquet(src)

    files = list_data_files(spark, src)
    total = sum(sz for _, sz in files)
    target = max(1, total // 3)
    plan = plan_compaction(files, target)

    n_bins = compact_parquet(spark, src, dst, target, size_fidelity=True)
    assert n_bins == len(plan)
    out_files = list_data_files(spark, dst)
    assert len(out_files) == n_bins
    # Re-encoding merged row groups shifts sizes a little; 1.25x covers
    # dictionary/statistics overhead while still failing on the
    # adjacency-merge pathology this mode exists to prevent.
    for _, sz in out_files:
        assert sz <= target * 1.25, (sz, target)

    before = events.orderBy("event_id").toPandas()
    after = spark.read.parquet(dst).orderBy("event_id").toPandas()
    assert before.equals(after)


def test_queries_md_matches_live_catalog():
    """QUERIES.md is generated from the catalog; a new operator that
    skips `tools/gen_query_index.py` leaves the committed index stale
    (round-8 verdict item #5: the index said 231/219 while the catalog
    registered 235/223). This pins the counts and the name set."""
    import pathlib
    import re

    from clickhouse_batcher_spark import catalog

    catalog.load_all()
    md = (
        pathlib.Path(__file__).parent.parent / "QUERIES.md"
    ).read_text()
    m = re.search(r"\*\*(\d+) queries, (\d+) oracled\.\*\*", md)
    assert m, "QUERIES.md missing the generated count line"
    assert int(m.group(1)) == len(catalog.QUERIES), (
        f"QUERIES.md says {m.group(1)} queries, catalog registers "
        f"{len(catalog.QUERIES)} — rerun tools/gen_query_index.py"
    )
    assert int(m.group(2)) == len(catalog.ORACLES), (
        f"QUERIES.md says {m.group(2)} oracled, catalog has "
        f"{len(catalog.ORACLES)} — rerun tools/gen_query_index.py"
    )
    listed = set(re.findall(r"^\| `([a-z0-9_]+)` \|", md, re.M))
    assert listed == set(catalog.QUERIES), (
        "QUERIES.md rows diverge from the catalog: "
        f"missing={sorted(set(catalog.QUERIES) - listed)[:5]} "
        f"extra={sorted(listed - set(catalog.QUERIES))[:5]}"
    )
