"""Z-order (Morton) layout keys — multi-dimensional data skipping.

At 100 TB the fastest scan is the one that never happens: lakehouse
engines (Delta OPTIMIZE ZORDER, ClickHouse's ORDER BY tuples,
Iceberg sort orders) cluster data so per-file min/max statistics
prune files on EITHER of two predicate columns. Sorting by one
column makes its ranges tight and leaves the other column's ranges
spanning the full domain; interleaving the bits of both (the Morton
curve) makes BOTH dimensions' per-bucket ranges shrink like
sqrt(bucket fraction).

Everything here is exact BIGINT arithmetic (div/mod/multiply — no
engine-specific bit intrinsics), so the key, the bucketing, and the
per-bucket min/max stats are bit-identical on Spark and DuckDB; the
catalog query IS the skipping demonstration: per-bucket (user, time)
envelopes a reader would prune against.

Scale: computing the key is a per-row projection (codegen'd); a
z-clustered write would be one repartitionByRange+sortWithinPartitions
on the key — the same single total-order shuffle a one-column sort
costs. The stats query is a plain groupBy(bucket) with map-side
combine.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from clickhouse_batcher_spark.catalog import query
from clickhouse_batcher_spark.tables import load_table

Z_BITS = 16          # bits kept per dimension (key fits in 32 bits)
Z_NORM_BITS = 8      # catalog query: dims min-max normalized to 8 bits
Z_BUCKET_SHIFT = 10  # bucket = zkey16 div 2^10 => 64 buckets (8x8 grid)


def zorder_key(a: Column, b: Column, bits: int = Z_BITS) -> Column:
    """Morton-interleave the low ``bits`` of two non-negative BIGINTs.

    bit i of a lands at position 2i, bit i of b at 2i+1. Bit masks
    (not division through doubles) keep it exact for ANY 64-bit
    input; for non-negative values below 2^bits this equals the
    div/mod formulation the SQL oracle uses.
    """
    terms = []
    for i in range(bits):
        terms.append(
            F.when(a.bitwiseAND(F.lit(1 << i)) != 0, F.lit(1 << (2 * i)))
            .otherwise(F.lit(0))
            .cast("bigint")
        )
        terms.append(
            F.when(b.bitwiseAND(F.lit(1 << i)) != 0, F.lit(1 << (2 * i + 1)))
            .otherwise(F.lit(0))
            .cast("bigint")
        )
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def _sql_zorder_key(a: str, b: str, bits: int = Z_BITS) -> str:
    terms = []
    for i in range(bits):
        terms.append(f"(({a} // {1 << i}) % 2) * {1 << (2 * i)}")
        terms.append(f"(({b} // {1 << i}) % 2) * {1 << (2 * i + 1)}")
    return "(" + " + ".join(terms) + ")"


# Dimensions MUST be normalized to equal bit widths before
# interleaving — raw user_id occupies ~8 bits while the minute index
# occupies 16, and with unbalanced widths the curve degenerates into
# a single-column sort on the wider dimension (measured exactly that
# before normalization: user ranges stayed global-wide). Min-max
# normalization to Z_NORM_BITS is pure integer arithmetic, so the
# oracle reproduces it bit-for-bit; the 1-row bounds frame joins back
# as a broadcast (BNLJ whitelisted — bounded by construction).

_SQL_DIMS = """
    SELECT user_id AS ua,
           (epoch_us(CAST(ts AS TIMESTAMP)) // 60000000) AS tb
    FROM events
"""


@query(
    "events_zorder_bucket_stats",
    oracle=f"""
    WITH dims AS ({_SQL_DIMS}),
    bounds AS (
      SELECT min(ua) AS ua0, max(ua) AS ua1, min(tb) AS tb0, max(tb) AS tb1
      FROM dims
    ),
    norm AS (
      SELECT ua, tb,
        ((ua - b.ua0) * {1 << Z_NORM_BITS}) // (b.ua1 - b.ua0 + 1) AS na,
        ((tb - b.tb0) * {1 << Z_NORM_BITS}) // (b.tb1 - b.tb0 + 1) AS nb
      FROM dims CROSS JOIN bounds b
    ),
    keyed AS (
      SELECT ua, tb,
        {_sql_zorder_key("na", "nb", 8)} // {1 << Z_BUCKET_SHIFT} AS bucket
      FROM norm
    )
    SELECT bucket, CAST(count(*) AS BIGINT) AS cnt,
           CAST(min(ua) AS BIGINT) AS min_user,
           CAST(max(ua) AS BIGINT) AS max_user,
           CAST(min(tb) AS BIGINT) AS min_minute,
           CAST(max(tb) AS BIGINT) AS max_minute
    FROM keyed GROUP BY bucket
    """,
)
def events_zorder_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-z-bucket (user, minute) envelopes — the prunable metadata a
    z-clustered write would give each file."""
    events = load_table(spark, sf_dir, "events")
    dims = events.select(
        F.col("user_id").alias("ua"),
        (F.unix_micros("ts") / 60_000_000).cast("bigint").alias("tb"),
    )
    bounds = dims.agg(
        F.min("ua").alias("ua0"),
        F.max("ua").alias("ua1"),
        F.min("tb").alias("tb0"),
        F.max("tb").alias("tb1"),
    )
    scale = F.lit(1 << Z_NORM_BITS)
    norm = dims.crossJoin(F.broadcast(bounds)).select(
        "ua",
        "tb",
        ((F.col("ua") - F.col("ua0")) * scale / (F.col("ua1") - F.col("ua0") + 1))
        .cast("bigint")
        .alias("na"),
        ((F.col("tb") - F.col("tb0")) * scale / (F.col("tb1") - F.col("tb0") + 1))
        .cast("bigint")
        .alias("nb"),
    )
    keyed = norm.select(
        "ua",
        "tb",
        (zorder_key(F.col("na"), F.col("nb"), Z_NORM_BITS) / (1 << Z_BUCKET_SHIFT))
        .cast("bigint")
        .alias("bucket"),
    )
    return keyed.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.min("ua").cast("bigint").alias("min_user"),
        F.max("ua").cast("bigint").alias("max_user"),
        F.min("tb").cast("bigint").alias("min_minute"),
        F.max("tb").cast("bigint").alias("max_minute"),
    )
