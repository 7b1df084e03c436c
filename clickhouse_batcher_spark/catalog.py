"""Query catalog: named queries + their DuckDB oracle SQL.

Every operator the engine claims is registered here as a callable
``(spark, sf_dir) -> DataFrame`` plus, when the semantics are
SQL-expressible, an equivalent ANSI-SQL string the driver runs on
DuckDB over the same parquet tables. The driver compares row count,
schema, and an order-insensitive value hash — so implementations must
be *deterministic* (no ties broken arbitrarily, no float sums that
depend on partition order; see ``functions.dec_sum``).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a query; ``oracle`` is DuckDB SQL over the shared views.

    Queries without an oracle get the driver's weaker rows-only check
    (reserved for genuinely non-SQL-expressible ops).
    """

    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = " ".join(oracle.split())
        return fn

    return deco


def load_all() -> None:
    """Import every module that registers queries (idempotent)."""
    from clickhouse_batcher_spark import (  # noqa: F401
        queries,
        queries_chsql,
        queries_ext,
        queries_ext2,
        queries_ext3,
        queries_ext4,
        queries_ext5,
        queries_ext6,
    )
    from clickhouse_batcher_spark.operators import (  # noqa: F401
        asof,
        attribution,
        bloomjoin,
        chagg,
        chagg2,
        classifier,
        cluster,
        cohort,
        companions,
        corr,
        corpus,
        curriculum,
        dedup,
        funnel,
        fuzzy,
        graph,
        invindex,
        lttb,
        merge,
        multimodal,
        ngrams,
        packing,
        pca,
        profile,
        quality,
        rangejoin,
        regress,
        rollup,
        sampling,
        skyline,
        similarity,
        spancorrupt,
        sketch,
        skew,
        text,
        timeseries,
        zorder,
    )
