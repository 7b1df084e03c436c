"""Range join and rollup hierarchy."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from clickhouse_batcher_spark import catalog

catalog.load_all()

from clickhouse_batcher_spark.tables import load_table
from tests.parity import assert_parity


@pytest.mark.parametrize(
    "name", ["range_join_orders_window", "events_rollup_hierarchy"]
)
def test_rangejoin_rollup_parity(spark, sf_dir, name):
    assert_parity(spark, name, sf_dir)


def test_bucketed_range_join_equals_naive(spark, sf_dir):
    """The bucketized plan must produce exactly the naive join's rows."""
    from clickhouse_batcher_spark.operators.rangejoin import (
        RANGE_DAYS,
        range_join_orders_window,
    )

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    naive = (
        li.join(
            orders,
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (F.col("l_shipdate") >= F.col("o_orderdate"))
            & (
                F.col("l_shipdate")
                <= F.col("o_orderdate") + F.expr(f"INTERVAL {RANGE_DAYS} DAY")
            ),
        )
        .groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    bucketed = range_join_orders_window(spark, sf_dir).select(
        "o_orderkey", F.col("n_lineitems").alias("n")
    )
    a = {(r["o_orderkey"], r["n"]) for r in naive.collect()}
    b = {(r["o_orderkey"], r["n"]) for r in bucketed.collect()}
    assert a == b

