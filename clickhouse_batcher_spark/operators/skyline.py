"""Pareto skyline (maximal-vector) operator.

The skyline / Pareto-front query — "orders not dominated by any other
order on (totalprice, orderdate)" — is the classic multi-criteria
operator (Börzsönyi et al., ICDE 2001) that SQL engines express as a
quadratic NOT EXISTS self-join. The reference's users run exactly that
shape against ClickHouse for best-of frontiers (price/recency,
cost/quality); here it is first-class and LINEAR after one sort.

Dominance contract (maximizing both dimensions): q dominates p iff
q >= p componentwise AND q > p on at least one dimension. Exact ties
on BOTH dimensions do not dominate each other — duplicate frontier
points all survive (the standard skyline convention).

2-D sweep, distributed: group rows by price (gmax = max date per
price), then the strictly-greater-price running max of gmax — computed
by ``with_global_cummax(exclusive=True)``, a fold of the two-level
ordered scan, NOT a single-partition window — decides dominance:

    on_skyline(p)  <=>  p.date == gmax(p.price)           (within-price)
                    AND (m1(p.price) IS NULL OR m1 < p.date)  (cross-price)

Scale shape: one map-side-combinable groupBy to the distinct-price
frame, one range shuffle over that frame for the exclusive cummax, one
hash join back — every stage fully parallel. The O(n^2) NOT EXISTS
the oracle uses for spot checks in tests is exactly what this operator
replaces.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clickhouse_batcher_spark.catalog import query
from clickhouse_batcher_spark.functions import with_global_cummax
from clickhouse_batcher_spark.tables import load_table


@query(
    "orders_pareto_skyline",
    oracle="""
    WITH g AS (
      SELECT o_totalprice AS price,
             MAX(CAST(o_orderdate AS TIMESTAMP)) AS gmax
      FROM orders GROUP BY 1
    ),
    m AS (
      SELECT price, gmax,
             MAX(gmax) OVER (ORDER BY price DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS m1
      FROM g
    )
    SELECT o.o_orderkey, o.o_totalprice,
           CAST(o.o_orderdate AS TIMESTAMP) AS o_orderdate
    FROM orders o JOIN m ON m.price = o.o_totalprice
    WHERE CAST(o.o_orderdate AS TIMESTAMP) = m.gmax
      AND (m.m1 IS NULL OR m.m1 < m.gmax)
    """,
)
def orders_pareto_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders on the (o_totalprice, o_orderdate)-maximizing Pareto
    front: no other order is both at least as expensive AND at least
    as recent with one strict improvement. See the module docstring
    for the sweep derivation and the scale argument.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderdate"
    )
    g = orders.groupBy(F.col("o_totalprice").alias("price")).agg(
        F.max("o_orderdate").alias("gmax")
    )
    # Strictly-greater-price running max of gmax: order by price DESC
    # via the negated key (range partitioner orders ascending).
    m = with_global_cummax(
        g.withColumn("_negp", -F.col("price")),
        {"gmax": "m1"},
        ["_negp"],
        exclusive=True,
    ).drop("_negp")
    return (
        orders.join(
            m, orders["o_totalprice"] == m["price"], "inner"
        )
        .filter(
            (F.col("o_orderdate") == F.col("gmax"))
            & (F.col("m1").isNull() | (F.col("m1") < F.col("gmax")))
        )
        .select("o_orderkey", "o_totalprice", "o_orderdate")
    )
