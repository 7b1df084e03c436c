"""As-of / range joins — operators Spark lacks natively.

``asof_join`` is pure DataFrame composition: equi-join on the key,
range predicate, then a window picks the latest match per left row.
Deterministic (total tie-break order) and oracle-checkable. The
equi-join keeps the shuffle keyed (no cross product); the window
dedup is the standard Catalyst-friendly formulation.

At 100 TB it shuffles once on the join key. Its intermediate is
|matches| rows, so a key with long per-key match lists (one user with
millions of events) leans on AQE skew splitting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from clickhouse_batcher_spark.catalog import query
from clickhouse_batcher_spark.tables import load_table


def asof_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    left_ts: str,
    right_ts: str,
    right_tiebreak: str,
    right_cols: list[str],
    direction: str = "backward",
    strict: bool = False,
) -> DataFrame:
    """For each left row: the closest right row on the same key in the
    given direction (ClickHouse ASOF JOIN's four inequalities):

    - ``backward`` (default): greatest ``right_ts`` <= ``left_ts``
      (``<`` when ``strict``) — "latest state at event time";
    - ``forward``: smallest ``right_ts`` >= ``left_ts`` (``>`` when
      ``strict``) — "next action after event time".

    Ties break by ``right_tiebreak`` (a unique column) toward the same
    extreme, making the result deterministic. Left rows with no match
    are kept with nulls (left join)."""
    lt, rt = F.col(left_ts), F.col(right_ts)
    if direction == "backward":
        range_pred = rt < lt if strict else rt <= lt
        order = [rt.desc(), F.col(right_tiebreak).desc()]
    elif direction == "forward":
        range_pred = rt > lt if strict else rt >= lt
        order = [rt.asc(), F.col(right_tiebreak).asc()]
    else:
        raise ValueError(f"unknown asof direction: {direction!r}")
    # Partition the match-dedup window on a synthetic per-row id, not
    # on left.columns: two fully identical left rows would otherwise
    # share one window partition and collapse to a single output row
    # (ADVICE r5). ClickHouse ASOF JOIN keeps both.
    tagged = left.withColumn("_asof_lid", F.monotonically_increasing_id())
    matched = tagged.join(
        right, (F.col(left_key) == F.col(right_key)) & range_pred, "left"
    )
    w = Window.partitionBy("_asof_lid").orderBy(*order)
    return (
        matched.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(*left.columns, *right_cols)
    )


@query(
    "asof_events_orders",
    oracle="""
    SELECT event_id, user_id, o_orderkey, o_orderdate FROM (
      SELECT e.event_id, e.user_id, o.o_orderkey, o.o_orderdate,
             ROW_NUMBER() OVER (PARTITION BY e.event_id
                                ORDER BY o.o_orderdate DESC, o.o_orderkey DESC)
               AS rn
      FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
            FROM events WHERE event_id < 1000) e
      LEFT JOIN orders o
        ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
    ) t WHERE rn = 1
    """,
)
def asof_events_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each event joined to the customer's latest order at event time."""
    events = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") < 1000)
        .select("event_id", "user_id", "ts")
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate"
    )
    joined = asof_join(
        events,
        orders,
        left_key="user_id",
        right_key="o_custkey",
        left_ts="ts",
        right_ts="o_orderdate",
        right_tiebreak="o_orderkey",
        right_cols=["o_orderkey", "o_orderdate"],
    )
    return joined.select("event_id", "user_id", "o_orderkey", "o_orderdate")


@query(
    "asof_forward_events_orders",
    oracle="""
    SELECT event_id, user_id, o_orderkey, o_orderdate FROM (
      SELECT e.event_id, e.user_id, o.o_orderkey, o.o_orderdate,
             ROW_NUMBER() OVER (PARTITION BY e.event_id
                                ORDER BY o.o_orderdate ASC, o.o_orderkey ASC)
               AS rn
      FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
            FROM events WHERE event_id < 1000) e
      LEFT JOIN orders o
        ON o.o_custkey = e.user_id AND o.o_orderdate >= e.ts
    ) t WHERE rn = 1
    """,
)
def asof_forward_events_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of (ClickHouse ASOF JOIN with >=): each event joined
    to the customer's FIRST order at or after event time — the
    "next conversion after touchpoint" shape attribution pipelines
    need alongside the backward "state at event time" join."""
    events = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") < 1000)
        .select("event_id", "user_id", "ts")
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate"
    )
    joined = asof_join(
        events,
        orders,
        left_key="user_id",
        right_key="o_custkey",
        left_ts="ts",
        right_ts="o_orderdate",
        right_tiebreak="o_orderkey",
        right_cols=["o_orderkey", "o_orderdate"],
        direction="forward",
    )
    return joined.select("event_id", "user_id", "o_orderkey", "o_orderdate")


@query(
    "asof_nearest_events_orders",
    oracle="""
    SELECT event_id, user_id, o_orderkey, o_orderdate, gap_us FROM (
      SELECT e.event_id, e.user_id, o.o_orderkey, o.o_orderdate,
        abs(epoch_us(CAST(o.o_orderdate AS TIMESTAMP))
            - epoch_us(e.ts)) AS gap_us,
        ROW_NUMBER() OVER (PARTITION BY e.event_id
          ORDER BY abs(epoch_us(CAST(o.o_orderdate AS TIMESTAMP))
                       - epoch_us(e.ts)) ASC,
                   (CAST(o.o_orderdate AS TIMESTAMP) <= e.ts) DESC,
                   CASE WHEN CAST(o.o_orderdate AS TIMESTAMP) <= e.ts
                        THEN -o.o_orderkey ELSE o.o_orderkey END ASC)
            AS rn
      FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
            FROM events WHERE event_id < 1000) e
      JOIN orders o ON o.o_custkey = e.user_id
    ) t WHERE rn = 1
    """,
)
def asof_nearest_events_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest as-of: each event joined to the customer's CLOSEST
    order in time, either direction — completing the as-of trio
    (backward `asof_events_orders`, forward
    `asof_forward_events_orders`). Tie break: smaller gap, then
    earlier date, then key — a total order, so the pick is
    hash-stable.

    Tie semantics: smaller gap wins; on a gap tie the backward side
    wins, and each side resolves same-date ties with its own as-of
    tiebreak (backward: max key — "latest state"; forward: min key —
    "first next"). Implementation composes the two directional as-of
    passes (each a per-key sorted merge, no all-pairs join) and keeps
    the nearer candidate per event — the oracle's
    |events|x|orders-of-user| ranking join is the SEMANTIC statement,
    not the plan; the composed plan touches each side once per
    direction.
    """
    events = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") < 1000)
        .select("event_id", "user_id", "ts")
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate"
    )
    common = dict(
        left_key="user_id",
        right_key="o_custkey",
        left_ts="ts",
        right_ts="o_orderdate",
        right_tiebreak="o_orderkey",
        right_cols=["o_orderkey", "o_orderdate"],
    )
    back = asof_join(events, orders, direction="backward", **common).select(
        "event_id",
        F.col("o_orderkey").alias("b_key"),
        F.col("o_orderdate").alias("b_date"),
    )
    fwd = asof_join(events, orders, direction="forward", **common).select(
        F.col("event_id").alias("f_eid"),
        F.col("o_orderkey").alias("f_key"),
        F.col("o_orderdate").alias("f_date"),
    )
    j = (
        events.join(back, "event_id", "left")
        .join(fwd, F.col("event_id") == F.col("f_eid"), "left")
    )
    b_gap = F.abs(
        F.unix_micros(F.col("b_date").cast("timestamp"))
        - F.unix_micros("ts")
    )
    f_gap = F.abs(
        F.unix_micros(F.col("f_date").cast("timestamp"))
        - F.unix_micros("ts")
    )
    # prefer the smaller gap; on a gap tie the BACKWARD side wins
    # (each side already resolved its internal date ties with its own
    # as-of tiebreak: backward keeps the max key, forward the min —
    # the oracle mirrors exactly this ordering). NULL side loses.
    take_back = F.when(F.col("b_date").isNull(), F.lit(False)).otherwise(
        F.when(F.col("f_date").isNull(), F.lit(True)).otherwise(
            b_gap <= f_gap
        )
    )
    return j.filter(
        F.col("b_date").isNotNull() | F.col("f_date").isNotNull()
    ).select(
        "event_id",
        "user_id",
        F.when(take_back, F.col("b_key"))
        .otherwise(F.col("f_key"))
        .alias("o_orderkey"),
        F.when(take_back, F.col("b_date"))
        .otherwise(F.col("f_date"))
        .alias("o_orderdate"),
        F.when(take_back, b_gap).otherwise(f_gap).alias("gap_us"),
    )
