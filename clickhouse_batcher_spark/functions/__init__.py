"""Scalar-function helpers shared by operators and the query catalog.

Two concerns drive this module:

1. **Oracle parity** — every helper has deterministic, engine-portable
   semantics so the same logic can be written in ANSI SQL for DuckDB
   and hash-match the Spark result (the driver's correctness gate).
   Floating-point aggregates are the classic trap: summing doubles is
   order-dependent, and Spark and DuckDB will not sum in the same
   order. ``dec_sum``/``dec_avg`` route sums through DECIMAL, which is
   exact and order-independent, then cast back to DOUBLE.

2. **Scale** — everything here is built-in ``pyspark.sql.functions``
   (JVM-side, whole-stage-codegen'd). No Python UDFs.

The reference's only scalar computation is the SHA-256 content hash
carried in its ``sha256sum`` column (``hashes.go:25``);
``sha256_hex`` reproduces it engine-side.
"""

from __future__ import annotations

import datetime

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampType

# Decimal wide enough for sums over billions of rows of money-scale
# values without overflow: 38 total digits, 6 fractional.
_DEC = "DECIMAL(27,6)"


def dec(col: Column | str) -> Column:
    """Cast a double column to exact decimal (order-independent math)."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(_DEC)


def dec_sum(col: Column | str, alias: str) -> Column:
    """Exact SUM of a double column, returned as DOUBLE.

    SUM over DECIMAL is exact => independent of partitioning / shuffle
    order => identical on Spark and DuckDB. The final cast to DOUBLE is
    a single deterministic conversion of an identical decimal value.
    """
    return dec_sum_expr(dec(col)).alias(alias)


def dec_sum_expr(dec_col: Column) -> Column:
    return F.sum(dec_col).cast("double")


def dec_avg(col: Column | str, alias: str) -> Column:
    """Exact-sum-based AVG: (decimal sum as double) / (count as double).

    Both operands are bit-identical across engines, and double division
    is deterministic IEEE-754, so the quotient matches exactly.
    """
    c = F.col(col) if isinstance(col, str) else col
    return (F.sum(dec(c)).cast("double") / F.count(c).cast("double")).alias(alias)


def sha256_hex(col: Column | str) -> Column:
    """Lowercase hex SHA-256 of a string/binary column.

    Engine-side reproduction of the reference's ``sha256sum`` input
    column (``hashes.go:25``). DuckDB oracle: ``sha256(x)``.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.sha2(c, 256)


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization of lowercased text, empty strings removed.

    DuckDB oracle equivalent:
    ``list_filter(string_split_regex(lower(x), '\\s+'), t -> t <> '')``.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.lower(c), r"\s+"), lambda t: t != "")


def portable_hash64(col: Column | str, salt: str = "") -> Column:
    """Deterministic 60-bit hash of a string as a non-negative BIGINT.

    Built from SHA-256 so the value is stable across Spark versions,
    JVMs, and engines (unlike ``xxhash64``/``hash`` whose seeds and
    algorithms are engine-specific). Used by MinHash / SimHash /
    fingerprinting where reproducibility matters more than speed; still
    fully JVM-side and codegen-friendly.
    """
    c = F.col(col) if isinstance(col, str) else col
    salted = F.concat(F.lit(salt), c) if salt else c
    # 15 hex chars = 60 bits: fits a signed 64-bit int, always >= 0.
    return F.conv(F.substring(F.sha2(salted, 256), 1, 15), 16, 10).cast("bigint")


# Rows the driver draws per bucket to place the scan's bucket bounds
# (Spark's RangePartitioner draws ~60 per partition). The sample size
# depends on the bucket count alone, never on the input size.
_SCAN_SAMPLE_PER_BUCKET = 60


def _literal(v, dtype) -> Column:
    """``v``, collected from a column of type ``dtype``, as an exact
    literal of that type. PySpark collects a timestamp as local wall
    time, and ``F.lit`` maps that back with ``mktime``, which drops the
    DST fold: two bounds in a repeated hour could swap order."""
    if isinstance(v, datetime.datetime):
        if isinstance(dtype, TimestampType):
            v = v.astimezone(datetime.timezone.utc)  # honours the fold
        return F.lit(v.isoformat(" ")).cast(dtype)
    return F.lit(v).cast(dtype)


def _row_bucket(df, keys: list, buckets: int) -> Column:
    """Bucket in ``[0, buckets)`` of each row: the number of bounds
    that sort strictly below the row's ``struct(keys)``.

    The bounds are drawn once, on the driver, from a random sample of
    ``_SCAN_SAMPLE_PER_BUCKET * buckets`` rows (a per-task top-k on a
    random key, not a sort of the input), and enter the plan as typed
    struct literals. A row's bucket is therefore a function of the row
    alone: every plan branch that evaluates it agrees, under any column
    pruning, exchange reuse, AQE setting or partition count, and bucket
    b holds strictly lower keys than bucket b+1. The bounds steer only
    the balance of the buckets, never the result.
    """
    key = F.struct(*[k.alias(f"k{i}") for i, k in enumerate(keys)])
    bounds = []
    if buckets > 1:
        keyed = df.select(key.alias("k"))
        fields = keyed.schema["k"].dataType.fields
        n = _SCAN_SAMPLE_PER_BUCKET * buckets
        sample = keyed.orderBy(F.rand(0)).limit(n).orderBy("k").collect()
        cuts = {len(sample) * j // buckets for j in range(1, buckets)} if sample else ()
        bounds = [
            F.struct(*[_literal(v, f.dataType) for v, f in zip(sample[c].k, fields)])
            for c in sorted(cuts)
        ]

    def pick(lo: int, hi: int) -> Column:
        # The row's bucket lies in [lo, hi]: a balanced CASE tree, so
        # each row makes log2(buckets) comparisons.
        if lo == hi:
            return F.lit(lo)
        mid = (lo + hi) // 2
        return F.when(key <= bounds[mid], pick(lo, mid)).otherwise(
            pick(mid + 1, hi)
        )

    return pick(0, len(bounds))


# A fold's monoid: the aggregate run within a bucket and over the bucket
# totals, and how a row's bucket offset and in-bucket running value
# combine (either is NULL over an empty frame).
_SUM = (
    F.sum,
    lambda off, run: F.coalesce(off, F.lit(0)) + F.coalesce(run, F.lit(0)),
)
_MAX = (F.max, F.greatest)  # greatest() skips NULLs


def _ordered_scan(df, cols: list, folds: dict, num_partitions, exclusive=False):
    """Exact running aggregates in the total order given by ``cols``
    (ascending column names or columns), WITHOUT a single-partition
    global sort: the one two-level scan under ``with_global_index``,
    ``with_global_cumsum`` and ``with_global_cummax``.

    ``folds`` maps each output name to ``(monoid, value column)``.
    ``_row_bucket`` cuts the rows into ``num_partitions`` ordered
    buckets. The per-bucket totals and the in-bucket running windows
    both read that one bucket column, and a broadcast prefix over the
    (<= num_partitions) bucket totals lifts each in-bucket value to the
    global one. ``exclusive`` ends every running frame before the row.

    A naive ``Window.orderBy(cols)`` moves every row through one task
    (WindowExec's "Moving all data to a single partition"), the
    canonical 100-TB scale-killer; here the in-bucket windows run in
    parallel over a range shuffle of the bucket column.
    """
    from pyspark.sql.window import Window

    if num_partitions is None:
        num_partitions = df.sparkSession.sparkContext.defaultParallelism
    keys = [F.col(c) if isinstance(c, str) else c for c in cols]
    # <= num_partitions rows: this global window is bounded.
    earlier = Window.orderBy("_scan_b").rowsBetween(Window.unboundedPreceding, -1)
    within = (
        Window.partitionBy("_scan_b")
        .orderBy(*keys)
        .rowsBetween(Window.unboundedPreceding, -1 if exclusive else 0)
    )
    totals, prefix, running, temps, out = [], [], [], ["_scan_b"], {}
    for i, (name, ((agg, combine), value)) in enumerate(folds.items()):
        t, o, r = f"_scan_t{i}", f"_scan_o{i}", f"_scan_r{i}"
        totals.append(agg(value).alias(t))
        prefix.append(agg(t).over(earlier).alias(o))
        running.append(agg(value).over(within).alias(r))
        out[name] = combine(F.col(o), F.col(r))
        temps += [o, r]
    b = df.withColumn("_scan_b", _row_bucket(df, keys, num_partitions))
    offsets = b.groupBy("_scan_b").agg(*totals).select("_scan_b", *prefix)
    ranged = b.repartitionByRange(num_partitions, "_scan_b").select("*", *running)
    return (
        ranged.join(F.broadcast(offsets), "_scan_b")
        .withColumns(out)
        .drop(*temps)
    )


def with_global_index(
    df,
    cols: list,
    index_name: str = "_gidx",
    num_partitions: int | None = None,
):
    """Exact 0-based global row index in the total order given by
    ``cols``: the exclusive running count of ``_ordered_scan``.

    ``cols`` must define a total order (include a unique tiebreaker),
    or indices within a tie group are arbitrary.
    """
    return _ordered_scan(
        df, cols, {index_name: (_SUM, F.lit(1))}, num_partitions, exclusive=True
    )


def with_global_cumsum(
    df,
    values,
    cols: list,
    cumsum_name: str = "_gcsum",
    num_partitions: int | None = None,
):
    """Exact INCLUSIVE running sum(s) in the total order given by
    ``cols`` (unique tiebreaker included), a fold of ``_ordered_scan``.

    ``values`` is a single column name (output named ``cumsum_name``)
    or a ``{value_col: output_name}`` mapping; every running sum rides
    the same scan. NULL values contribute 0 by contract (the running
    sum is the total of non-nulls so far, never a NULL output).
    Integer/decimal sums are exact under any bucketing; for doubles
    route through decimal first (the repo-wide determinism contract).
    """
    if isinstance(values, str):
        values = {values: cumsum_name}
    folds = {n: (_SUM, F.coalesce(F.col(v), F.lit(0))) for v, n in values.items()}
    return _ordered_scan(df, cols, folds, num_partitions)


def with_global_cummax(
    df,
    values,
    cols: list,
    cummax_name: str = "_gcmax",
    num_partitions: int | None = None,
    exclusive: bool = False,
):
    """Exact running MAX(s) in the total order given by ``cols``
    (unique tiebreaker included), a fold of ``_ordered_scan``.

    ``values`` is as in ``with_global_cumsum``. ``exclusive=True``
    gives the STRICTLY-PRECEDING running max (NULL for the global first
    row). MAX is an order-insensitive monoid, so the result is exact
    for any comparable type.
    """
    if isinstance(values, str):
        values = {values: cummax_name}
    folds = {n: (_MAX, F.col(v)) for v, n in values.items()}
    return _ordered_scan(df, cols, folds, num_partitions, exclusive)
