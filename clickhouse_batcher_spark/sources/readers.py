"""The package's one batch parquet reader.

The reference's only source is its in-process channel (R1). Catalog
tables and the parquet sink's batches are read through ``read_parquet``:
a plain declarative scan, so Catalyst applies predicate pushdown,
column pruning and partition pruning. Other formats need no wrapper
here; Spark's own ``spark.read`` readers (``csv``, ``json``, ``jdbc``,
``orc``, ``text``, ``binaryFile``) already return the same kind of
scan.
"""

from __future__ import annotations

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# Parquet schemas already inferred, keyed by what inference reads. With
# mergeSchema off, Spark infers a schema from one footer under the first
# root path, and that costs a Spark job on every read. The key is that
# path plus its modification time and length, so a file rewritten in
# place, or a directory whose entries changed, is inferred again. A
# StructType holds no JVM reference, so one dict serves every session
# and thread; it gains one small entry per version of a path read.
# Frames are never cached: each read is a new relation with its own
# attribute ids, and it lists its files afresh.
_SCHEMAS: dict[tuple[str, int, int], StructType] = {}


def _schema_key(spark: SparkSession, path: str) -> tuple[str, int, int] | None:
    """(path, mtime, length) from one ``FileSystem.getFileStatus``
    call, or None when ``path`` names nothing (a glob pattern, or a
    missing path that the read itself reports)."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    try:
        status = hpath.getFileSystem(spark._jsc.hadoopConfiguration()).getFileStatus(hpath)
    except Py4JJavaError:
        return None
    return status.getPath().toString(), status.getModificationTime(), status.getLen()


def read_parquet(spark: SparkSession, *paths: str, base_path: str | None = None) -> DataFrame:
    """The package's parquet reader. The first read of a path infers
    its schema (one Spark job); every later read hands the remembered
    schema to ``spark.read.schema``, which starts no job. ``base_path``
    is Spark's ``basePath`` option: partition columns are discovered
    below it."""
    reader = spark.read if base_path is None else spark.read.option("basePath", base_path)
    key = _schema_key(spark, paths[0])
    schema = _SCHEMAS.get(key)
    if schema is not None:
        return reader.schema(schema).parquet(*paths)
    df = reader.parquet(*paths)
    if key is not None:
        _SCHEMAS[key] = df.schema
    return df

