"""Skew mitigation: the salted join and the join-key skew report.

The 100-TB failure mode of a shuffle is a hot key: one reducer
receives the whole key's rows while the rest of the cluster idles.
``salted_join`` covers joins; an aggregation already combines
map-side, so its hot key reaches the reducer as one partial per task.
Spark's AQE skew-join (enabled in ``session.get_session``) splits
oversized partitions at runtime, but it only helps sort-merge joins
and only after a stage materializes. Explicit salting is the
plan-level cure that works for any join the optimizer picks:

- **big side**: add ``salt = xxhash64(row) % N`` — a deterministic
  per-row value that spreads each hot key over N reducers;
- **small side**: replicate each row N times, once per salt value
  (``explode(sequence(0, N-1))``) — N· |small| rows, still tiny;
- join on ``(key, salt)`` — every big row matches exactly one of the
  N replicas, so the result multiset is identical to the unsalted
  join while the shuffle fans each key out N ways.

The salt comes from ``xxhash64`` of the row contents (never
``rand()`` / ``monotonically_increasing_id()``, which change across
task retries and would break exactly-once semantics).

Reference parity note: the reference (kostyasolovev/clickhouse-batcher)
delegates all join execution to ClickHouse (SURVEY.md §2.2); this is
part of the natively-rebuilt surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clickhouse_batcher_spark.catalog import query
from clickhouse_batcher_spark.functions import dec_sum
from clickhouse_batcher_spark.tables import load_table

SALT_BUCKETS = 8


def salted_join(
    big: DataFrame,
    small: DataFrame,
    big_key: str,
    small_key: str,
    n_salts: int = SALT_BUCKETS,
    how: str = "inner",
) -> DataFrame:
    """Join ``big`` to ``small`` on ``big_key == small_key`` with the
    hot keys of ``big`` spread over ``n_salts`` shuffle partitions.

    Result multiset is identical to the plain equi-join (each big row
    pairs with exactly one small replica). Only inner/left joins are
    meaningful here — a right/outer join would see N copies of
    unmatched small rows.
    """
    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports inner/left, got {how!r}")
    big_salted = big.withColumn(
        "_salt", F.pmod(F.xxhash64(*[F.col(c) for c in big.columns]), F.lit(n_salts))
    )
    small_replicated = small.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    joined = big_salted.join(
        small_replicated,
        (big_salted[big_key] == small_replicated[small_key])
        & (big_salted["_salt"] == small_replicated["_salt"]),
        how,
    )
    return joined.drop("_salt")


@query(
    "salted_join_user_segments",
    oracle="""
    SELECT c.c_mktsegment AS segment,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(e.value AS DECIMAL(27,6))) AS DOUBLE) AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def salted_join_user_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event volume + exact value sum per customer segment, joined via
    the salted path. events.user_id is hot by construction (~N_events /
    150 rows per key vs 1 row per customer key); the salt spreads each
    user's rows over SALT_BUCKETS reducers. The oracle is the PLAIN
    join — proving the salted plan changes execution, not results.
    """
    events = load_table(spark, sf_dir, "events").select("user_id", "value")
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    j = salted_join(events, customer, "user_id", "c_custkey")
    return j.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count(F.lit(1)).alias("n_events"),
        dec_sum("value", "total_value"),
    )


# ---------------------------------------------------------------------------
# Join-key skew report (the salting decision's input)
# ---------------------------------------------------------------------------
def key_skew_stats(tbl: DataFrame, key: str, side: str) -> DataFrame:
    """One summary row for ``key``'s distribution in ``tbl``:
    (side, n_rows, n_keys, max_key_rows, avg_key_rows, skew_ratio,
    top_key). ``skew_ratio`` = heaviest key's rows over the mean —
    the number the salt-or-not decision reads. Deterministic: the
    top key breaks count ties by MIN key id.

    One map-side-combinable groupBy to key-distinct rows, then 1-row
    aggregates (the crossJoins below broadcast 1-row frames — bounded
    by construction at any scale)."""
    counts = tbl.groupBy(F.col(key).alias("k")).agg(
        F.count(F.lit(1)).alias("c")
    )
    stats = counts.agg(
        F.sum("c").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.max("c").cast("bigint").alias("max_key_rows"),
    )
    top = (
        counts.join(
            F.broadcast(stats), F.col("c") == F.col("max_key_rows")
        )
        .agg(F.min("k").cast("bigint").alias("top_key"))
    )
    avg = F.col("n_rows").cast("double") / F.col("n_keys")
    return stats.crossJoin(F.broadcast(top)).select(
        F.lit(side).alias("side"),
        "n_rows",
        "n_keys",
        "max_key_rows",
        F.round(avg, 6).alias("avg_key_rows"),
        F.round(F.col("max_key_rows").cast("double") / avg, 6).alias(
            "skew_ratio"
        ),
        "top_key",
    )


def _skew_side_sql(table: str, key: str, side: str) -> str:
    return f"""
      SELECT '{side}' AS side, s.n_rows, s.n_keys, s.max_key_rows,
        round(CAST(s.n_rows AS DOUBLE) / s.n_keys, 6) AS avg_key_rows,
        round(CAST(s.max_key_rows AS DOUBLE)
              / (CAST(s.n_rows AS DOUBLE) / s.n_keys), 6) AS skew_ratio,
        t.top_key
      FROM (
        SELECT CAST(SUM(c) AS BIGINT) AS n_rows,
               CAST(COUNT(*) AS BIGINT) AS n_keys,
               CAST(MAX(c) AS BIGINT) AS max_key_rows
        FROM (SELECT {key} AS k, COUNT(*) AS c FROM {table} GROUP BY 1)
      ) s CROSS JOIN (
        SELECT CAST(MIN(k) AS BIGINT) AS top_key
        FROM (SELECT {key} AS k, COUNT(*) AS c FROM {table} GROUP BY 1) cc
        WHERE cc.c = (
          SELECT MAX(c)
          FROM (SELECT {key} AS k2, COUNT(*) AS c FROM {table} GROUP BY 1)
        )
      ) t
    """


@query(
    "join_key_skew_report",
    oracle=f"""
    {_skew_side_sql('lineitem', 'l_orderkey', 'lineitem.l_orderkey')}
    UNION ALL
    {_skew_side_sql('orders', 'o_custkey', 'orders.o_custkey')}
    UNION ALL
    {_skew_side_sql('events', 'user_id', 'events.user_id')}
    """,
)
def join_key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-distribution report for the repo's three big join keys —
    the pre-flight check a 100 TB pipeline runs before choosing plain
    vs salted vs AQE-skew join. ``skew_ratio`` near 1 = uniform keys
    (plain shuffle join is fine); large = a hot key that one reducer
    would own (salt it — ``salted_join`` above — or let AQE split it
    and verify the plan)."""
    return (
        key_skew_stats(
            load_table(spark, sf_dir, "lineitem"),
            "l_orderkey",
            "lineitem.l_orderkey",
        )
        .unionByName(
            key_skew_stats(
                load_table(spark, sf_dir, "orders"),
                "o_custkey",
                "orders.o_custkey",
            )
        )
        .unionByName(
            key_skew_stats(
                load_table(spark, sf_dir, "events"),
                "user_id",
                "events.user_id",
            )
        )
    )
