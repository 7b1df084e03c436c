"""Incremental rollup maintenance (materialized-view merge pattern).

A 100-TB pipeline never recomputes a daily rollup from raw events; it
keeps per-partition *partial aggregate states* and folds new data in
(the ClickHouse ``SummingMergeTree`` / materialized-view pattern, and
TimescaleDB's continuous aggregates). The relational requirement is
that the aggregate state is **mergeable**: ``merge(agg(A), agg(B)) ==
agg(A union B)``. Counts merge by sum; value sums merge exactly
because they are carried as DECIMAL(27,6) partials (``functions.dec``)
— double partials would make the merged result depend on which split
produced them.

``incremental_rollup_events`` demonstrates the full cycle: the
"existing" rollup state is built from events before ``SPLIT_DAY``,
the "arriving" increment from the rest, and the published rollup is
the merge. Its oracle is the *direct full recompute* — the equality
IS the mergeability proof, checked value-exact by the driver.

Scale: each partial aggregation is map-side-combined before its
shuffle, and the merge shuffles only rollup-key rows (days x types —
tiny). At 100 TB the "old" side is the stored state table (never
rescanned in production; scanned here only to construct the
demonstration), so maintaining the rollup costs one pass over the
increment alone.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clickhouse_batcher_spark.catalog import query
from clickhouse_batcher_spark.functions import dec
from clickhouse_batcher_spark.tables import load_table

SPLIT_DAY = "2024-01-20"  # events before this day = existing state


def partial_rollup(events: DataFrame) -> DataFrame:
    """Mergeable per-(day, event_type) aggregate state.

    ``sum_state`` stays DECIMAL — the exact, order-independent carrier
    for the value sum; ``cnt`` merges by addition.
    """
    return (
        events.select(
            F.date_trunc("day", "ts").alias("day"),
            "event_type",
            "value",
        )
        .groupBy("day", "event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(dec("value")).alias("sum_state"),
        )
    )


def merge_rollups(*states: DataFrame) -> DataFrame:
    """Fold partial states into the published rollup (exact merge)."""
    merged = states[0]
    for s in states[1:]:
        merged = merged.unionByName(s)
    return (
        merged.groupBy("day", "event_type")
        .agg(
            F.sum("cnt").alias("cnt"),
            F.sum("sum_state").cast("double").alias("sum_value"),
        )
        .select("day", "event_type", "cnt", "sum_value")
    )


@query(
    "incremental_rollup_events",
    oracle="""
    SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
           event_type,
           CAST(count(*) AS BIGINT) AS cnt,
           CAST(sum(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def incremental_rollup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged old-state + increment rollup == full recompute (oracle)."""
    events = load_table(spark, sf_dir, "events")
    split = F.lit(SPLIT_DAY).cast("date")
    old_state = partial_rollup(events.filter(F.to_date("ts") < split))
    increment = partial_rollup(events.filter(F.to_date("ts") >= split))
    return merge_rollups(old_state, increment)


# ---------------------------------------------------------------------------
# ABC (Pareto 80/15/5) classification of parts by revenue
# ---------------------------------------------------------------------------
def discount_pct_int(discount):  # noqa: ANN001 - Column in/out
    """Integer discount percent via DECIMAL, never a raw double->int
    cast: Spark CAST(double AS INT) truncates where DuckDB rounds, so
    0.29 (stored as 0.28999...996*100) would split 28 vs 29 between the
    engines; DECIMAL(4,2)*100 is exact on both. Unit-pinned against
    DuckDB for every awkward 2-dp double in tests/test_operators.py."""
    return (discount.cast("decimal(4,2)") * 100).cast("int")


def _abc_oracle() -> str:
    return """
    WITH pr AS (
      SELECT l_partkey,
        SUM(CAST(l_extendedprice AS DECIMAL(18,2))
            * CAST(100 - CAST(CAST(l_discount AS DECIMAL(4,2)) * 100
                              AS INTEGER) AS DECIMAL(5,0)))
          AS rev100
      FROM lineitem GROUP BY 1
    ), tot AS (
      SELECT SUM(rev100) AS t FROM pr
    ), c AS (
      SELECT l_partkey, rev100,
        SUM(rev100) OVER (ORDER BY rev100 DESC, l_partkey
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS crev
      FROM pr
    ), cls AS (
      SELECT l_partkey, rev100,
        CASE WHEN crev * 100 <= t * 80 THEN 'A'
             WHEN crev * 100 <= t * 95 THEN 'B'
             ELSE 'C' END AS abc_class
      FROM c CROSS JOIN tot
    )
    SELECT abc_class,
      CAST(COUNT(*) AS BIGINT) AS n_parts,
      CAST(SUM(CAST(rev100 AS HUGEINT)) AS VARCHAR) AS revenue_c100,
      CAST(SUM(CAST(rev100 AS HUGEINT)) * 1000000
           // (SELECT CAST(t AS HUGEINT) FROM tot) AS BIGINT)
        AS revenue_ppm
    FROM cls GROUP BY 1
    """


@query("parts_abc_classification", oracle=_abc_oracle())
def parts_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto inventory classification: parts sorted by
    discounted revenue; the top parts covering the first 80% of
    cumulative revenue are class A, the next 15% B, the tail C — the
    classic 80/20 cut purchasing and cache-tiering decisions key off.

    Exactness: revenue is carried as an integer *cent-x-100* quantity
    (price DECIMAL(18,2) times the integer percent (100 - discount%)),
    so the cumulative sums, the 80/95% boundary comparisons (crev*100
    <= t*80 — cross-multiplied, no division), and the class labels are
    all exact integer decisions; class totals render as strings /
    integer ppm (the repo's HUGEINT-free hash convention).

    Scale: per-part revenue is one map-side-combinable groupBy; the
    cumulative sum over the part frame is a fold of the two-level
    ordered scan (``with_global_cumsum``, never a single-partition
    window); the
    final rollup is 3 rows.
    """
    from clickhouse_batcher_spark.functions import with_global_cumsum

    li = load_table(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(100) - discount_pct_int(F.col("l_discount"))
    ).cast("decimal(5,0)")
    pr = li.groupBy("l_partkey").agg(F.sum(rev).alias("rev100"))
    c = with_global_cumsum(
        pr.withColumn("_negr", -F.col("rev100")),
        {"rev100": "crev"},
        ["_negr", "l_partkey"],
    ).drop("_negr")
    tot = pr.agg(F.sum("rev100").alias("t"))
    cls = c.crossJoin(F.broadcast(tot)).select(
        "l_partkey",
        "rev100",
        F.when(F.col("crev") * 100 <= F.col("t") * 80, "A")
        .when(F.col("crev") * 100 <= F.col("t") * 95, "B")
        .otherwise("C")
        .alias("abc_class"),
    )
    big = "decimal(38,0)"
    out = cls.groupBy("abc_class").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_parts"),
        F.sum(F.col("rev100").cast(big)).alias("revc"),
    )
    return out.crossJoin(F.broadcast(tot)).select(
        "abc_class",
        "n_parts",
        F.col("revc").cast(big).cast("string").alias("revenue_c100"),
        F.expr(
            "CAST(CAST(revc AS DECIMAL(38,0)) * 1000000"
            " DIV CAST(t AS DECIMAL(38,0)) AS BIGINT)"
        ).alias("revenue_ppm"),
    )
