"""Predicate delete (the reference's Q3: ``DELETE ... WHERE``).

The reference issues a ClickHouse lightweight delete
(``hashes_test.go:235-239``). On an immutable data lake the engine
expresses deletion as an **anti-filter rewrite**: keep rows where the
predicate is NOT satisfied (null predicate = not satisfied, matching
SQL DELETE semantics, where only rows evaluating TRUE are removed).

At 100 TB the rewrite is partition-pruned: combine with a partition
predicate so only affected partitions are rewritten (or use a
format with deletion vectors — Delta/Iceberg — when available; the
logical operator is identical).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from clickhouse_batcher_spark.sources.readers import read_parquet


def delete_where(df: DataFrame, predicate: Column | str) -> DataFrame:
    """Return ``df`` minus rows matching ``predicate``.

    SQL DELETE removes rows where the predicate is TRUE; rows where it
    is NULL survive — hence ``NOT coalesce(pred, false)`` rather than a
    plain negation.
    """
    pred = F.expr(predicate) if isinstance(predicate, str) else predicate
    return df.filter(~F.coalesce(pred, F.lit(False)))


def delete_where_in_place(df: DataFrame, predicate: Column | str, path: str) -> None:
    """Materialized delete: rewrite ``path`` without the matching rows.

    Two-phase to avoid reading and overwriting the same location in one
    job: stage to ``path + '.staging'``, rename the original aside,
    rename staging in, and delete the old copy LAST — at every crash
    point there is a complete copy of the data on disk (``path``,
    ``.old``, or ``.staging``), never a window with no live data.
    Partition-pruned deployments should instead rewrite only affected
    partitions.
    """
    import shutil

    base = path.rstrip("/")
    staging, old = base + ".staging", base + ".old"
    _recover_interrupted_swap(base, old)
    delete_where(df, predicate).write.mode("overwrite").parquet(staging)
    shutil.rmtree(old, ignore_errors=True)  # stale copy; base is live
    shutil.move(base, old)
    shutil.move(staging, base)
    shutil.rmtree(old)


def _recover_interrupted_swap(base: str, old: str) -> None:
    """Crash recovery: a run that died between ``move(base, old)`` and
    ``move(staging, base)`` left the sole complete copy at ``.old`` —
    restore it rather than letting the next rewrite delete it as
    leftover garbage (or fail on the missing base)."""
    import os
    import shutil

    if not os.path.exists(base) and os.path.exists(old):
        shutil.move(old, base)


def delete_where_at(spark, predicate: Column | str, path: str) -> None:
    """Self-rewrite entry point: recover any interrupted swap FIRST,
    then read ``path`` and rewrite it without the matching rows.

    Callers rewriting a table in place should prefer this over
    constructing the DataFrame themselves — after a mid-swap crash the
    base dir may not exist until recovery runs, and ``spark.read``
    resolves (and fails on) the path eagerly.
    """
    base = path.rstrip("/")
    _recover_interrupted_swap(base, base + ".old")
    delete_where_in_place(read_parquet(spark, base), predicate, path)
