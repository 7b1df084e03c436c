"""Table loading and registration for the driver testdata layout.

One parquet file per table under ``<sf_dir>/<name>.parquet``
(``TESTDATA.md``). Loading is lazy and declarative: a plain parquet
scan (``sources.readers.read_parquet``) so Catalyst keeps predicate
pushdown, column pruning and partition pruning. A table's schema is
inferred once per file (path, modification time and length); every
later load passes it to the scan and starts no Spark job. Each load is
still a new relation, so two loads of one table self-join cleanly. At
100 TB each table would be a partitioned/bucketed directory tree
instead of a single file — the reader is agnostic to that (the path
just becomes a directory).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clickhouse_batcher_spark.sources.readers import read_parquet

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables that are always small relative to the fact tables
# (region/nation are fixed-size; customer/supplier/part grow ~linearly
# but stay orders of magnitude below lineitem/orders/events). These
# are the broadcast-join candidates at any scale factor.
SMALL_DIMS = ("region", "nation", "supplier")


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir.rstrip('/')}/{name}.parquet"


def _normalize_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize a physical-schema-dependent timestamp column to a
    session-TZ Spark TIMESTAMP, branching on the dtype Spark actually
    observed in the parquet footer rather than assuming one encoding.

    The driver's testdata generator has shipped ``events.ts`` as both
    TIMESTAMP(NANOS) (read by Spark as epoch-nanos LONG under the
    legacy conf, or unreadable without it) and TIMESTAMP(MICROS,
    isAdjustedToUTC=false) (read as TIMESTAMP_NTZ). Handling every
    observed encoding here is the schema-drift guard that keeps a
    fixture regeneration from breaking every events query at once
    (tests/test_schema_contract.py exercises each branch).

    - LongType: epoch nanoseconds -> integer-divide to micros (a double
      division would lose precision above 2^53 ns).
    - TimestampNTZType: the session timezone is pinned to UTC
      (session.py), so reinterpreting NTZ wall-clock as a UTC instant
      preserves the values and matches DuckDB's naive-timestamp oracle.
    - TimestampType: already what we want; passthrough.
    """
    dtype = df.schema[col].dataType.typeName()
    if dtype in ("long", "integer"):
        return df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
    if dtype == "timestamp_ntz":
        return df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # Spark refuses to scan TIMESTAMP(NANOS) parquet outright
        # ("Illegal Parquet type") unless the legacy conf maps it to
        # LONG — without this the _normalize_ts LongType branch is
        # unreachable and a generator flip back to the round-1/2 NANOS
        # encoding would fail at scan time. A harmless no-op for the
        # micros encodings; idempotent per session. Set before every
        # read: a remembered LongType schema still needs it at scan time.
        try:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except Exception:
            pass
        return _normalize_ts(read_parquet(spark, table_path(sf_dir, name)))
    return read_parquet(spark, table_path(sf_dir, name))


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every table as a temp view (for the spark.sql surface)."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs


def run_sql(
    spark: SparkSession,
    sql: str,
    sf_dir: str,
    dialect: str = "spark",
    sample_keys: dict[str, str] | None = None,
    final_keys: dict[str, tuple] | None = None,
    params: list | dict | None = None,
    funnel_windowed: bool = False,
) -> DataFrame:
    """The SQL switching path: register the tables as views and run a
    query against them — ``dialect="clickhouse"`` first translates the
    supported ClickHouse-dialect subset (``plans.chsql``), so a user of
    the reference's ClickHouse backend can paste their existing
    queries. Catalyst plans the registered parquet views exactly like
    the DataFrame API (pushdown, pruning, AQE all apply).

    ``params`` binds placeholders engine-side (never string-spliced):
    a list for positional ``?`` markers — the reference's exact query
    shape (`hashes_test.go:191-196`) — or a dict for named ``:name`` /
    ClickHouse ``{name:Type}`` parameters."""
    register_views(spark, sf_dir)
    if dialect == "clickhouse":
        from clickhouse_batcher_spark.plans.chsql import translate

        sql = translate(
            sql,
            sample_keys=sample_keys,
            final_keys=final_keys,
            funnel_windowed=funnel_windowed,
        )
    elif dialect != "spark":
        raise ValueError(f"unknown dialect: {dialect!r}")
    if params is not None:
        return spark.sql(sql, args=params)
    return spark.sql(sql)
