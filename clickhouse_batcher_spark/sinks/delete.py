"""Predicate delete (the reference's Q3: ``DELETE ... WHERE``).

The reference issues a ClickHouse lightweight delete
(``hashes_test.go:235-239``). On an immutable data lake the engine
expresses deletion as an **anti-filter**: keep rows where the
predicate is NOT satisfied (null predicate = not satisfied, matching
SQL DELETE semantics, where only rows evaluating TRUE are removed).
``BatcherEngine.delete_where`` and the catalog's ``delete_where_counts``
apply it to a frame; nothing is rewritten on disk (ROADMAP D10).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def delete_where(df: DataFrame, predicate: Column | str) -> DataFrame:
    """Return ``df`` minus rows matching ``predicate``.

    SQL DELETE removes rows where the predicate is TRUE; rows where it
    is NULL survive — hence ``NOT coalesce(pred, false)`` rather than a
    plain negation.
    """
    pred = F.expr(predicate) if isinstance(predicate, str) else predicate
    return df.filter(~F.coalesce(pred, F.lit(False)))

