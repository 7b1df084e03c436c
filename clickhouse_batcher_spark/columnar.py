"""Columnar batch builder: Python rows -> one Arrow-backed Spark frame.

The reference sends each flush as a columnar native-protocol batch
(``conn.PrepareBatch`` / ``batch.Append`` / ``batch.Send``). This is
the Spark analogue of ``PrepareBatch`` + ``Append``: every row is
checked with the type verifier and converted with the converters that
``spark.createDataFrame(rows, schema)`` runs, then the batch is laid
out column by column as a ``pyarrow.Table``.

Spark plans the resulting frame as a ``LocalTableScan``, so writing it
runs in the JVM alone. A frame built from a Python list is instead a
pickled Python RDD (``Scan ExistingRDD``), and every task of its write
starts a Python worker.

The verifier is not optional: bare pyarrow silently truncates ``1.5``
to ``1`` in an int64 column, a value the list path rejects.
"""

from __future__ import annotations

import decimal

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    ArrayType,
    DataType,
    DecimalType,
    MapType,
    StructType,
    _create_converter,
    _make_type_verifier,
)

# Wide enough to rescale any DECIMAL(38, s) value without the default
# 28-digit context rounding it first.
_DECIMAL_CONTEXT = decimal.Context(prec=80)


def _decimal_fix(dt: DataType):
    """Per-value function that applies what the JVM does to a Python
    ``Decimal`` on the list path (``Decimal.set``: rescale HALF_UP; an
    unsigned NaN becomes null), or None when ``dt`` holds no decimal.
    Precision overflow is left to pyarrow, which raises on it as the
    list path does."""
    if isinstance(dt, DecimalType):
        quantum = decimal.Decimal(1).scaleb(-dt.scale)

        def fix(v):
            if v is None or (v.is_qnan() and not v.is_signed()):
                return None
            if not v.is_finite():
                raise ValueError(f"{v} cannot be represented as {dt.simpleString()}")
            return v.quantize(quantum, decimal.ROUND_HALF_UP, _DECIMAL_CONTEXT)

        return fix
    if isinstance(dt, ArrayType):
        elem = _decimal_fix(dt.elementType)
        return elem and (lambda v: None if v is None else [elem(x) for x in v])
    if isinstance(dt, MapType):
        val = _decimal_fix(dt.valueType)
        return val and (lambda v: None if v is None else {k: val(x) for k, x in v.items()})
    if isinstance(dt, StructType):
        fixes = [_decimal_fix(f.dataType) for f in dt.fields]
        if any(fixes):
            fixes = [f or (lambda x: x) for f in fixes]
            return lambda v: None if v is None else tuple(f(x) for f, x in zip(fixes, v))
    return None


class ColumnarBatchBuilder:
    """Builds frames of one schema. Parse once, build many: the struct,
    its Arrow schema, the row verifier and the converters are made at
    construction (a DDL string needs an active Spark session)."""

    def __init__(self, schema: StructType | str) -> None:
        self.struct = schema if isinstance(schema, StructType) else StructType.fromDDL(schema)
        self.names = self.struct.fieldNames()
        self._arrow_schema = to_arrow_schema(self.struct)
        self._verify = _make_type_verifier(self.struct)
        self._convert = _create_converter(self.struct)
        self._fixes = [_decimal_fix(f.dataType) for f in self.struct.fields]

    def frame(self, spark: SparkSession, rows) -> DataFrame:
        """One frame holding ``rows`` (tuples, lists, dicts or Rows, as
        ``createDataFrame`` takes them). Raises before building anything
        if any row fails the verifier."""
        internal = []
        for row in rows:
            self._verify(row)
            internal.append(self.struct.toInternal(self._convert(row)))
        columns = list(zip(*internal)) if internal else [()] * len(self.names)
        arrays = [
            pa.array([fix(v) for v in col] if fix else col, type=field.type)
            for col, fix, field in zip(columns, self._fixes, self._arrow_schema)
        ]
        table = pa.Table.from_arrays(arrays, schema=self._arrow_schema)
        return spark.createDataFrame(table, self.struct)
