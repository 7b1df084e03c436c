"""Batch source readers: the scan surface the reference delegates.

The reference's only source is its in-process channel (R1); every
format below is engine-native. All readers return plain declarative
scans so Catalyst applies predicate pushdown, column pruning, and
partition pruning — at 100 TB those three decide whether a query
reads terabytes or gigabytes.
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


def read_csv(
    spark: SparkSession,
    path: str,
    schema: StructType | str,
    *,
    header: bool = True,
    delimiter: str = ",",
) -> DataFrame:
    """CSV with an explicit schema — inference is a full extra pass over
    the data and non-deterministic under sampling; never at scale."""
    return (
        spark.read.schema(schema)
        .option("header", str(header).lower())
        .option("delimiter", delimiter)
        .csv(path)
    )


def read_json(spark: SparkSession, path: str, schema: StructType | str) -> DataFrame:
    return spark.read.schema(schema).json(path)


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    *,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int = 8,
    options: dict[str, str] | None = None,
) -> DataFrame:
    """Parallel JDBC read (e.g. back out of ClickHouse).

    Without ``partition_column`` a JDBC read is a single connection on
    one executor — useless at scale. With bounds, Spark issues
    ``num_partitions`` range-predicated queries in parallel, and
    Catalyst pushes filters/projections into each.
    """
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    if partition_column is not None:
        if lower_bound is None or upper_bound is None:
            raise ValueError("partitioned JDBC read needs lower/upper bounds")
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", str(num_partitions))
        )
    for k, v in (options or {}).items():
        reader = reader.option(k, v)
    return reader.load()


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan — same pushdown/pruning properties as parquet."""
    return spark.read.orc(path)


def read_binary_files(
    spark: SparkSession,
    path: str,
    *,
    glob: str | None = None,
    recursive: bool = False,
) -> DataFrame:
    """Opaque-media ingestion: Spark's built-in ``binaryFile`` source.

    Returns (path, modificationTime, length, content BINARY) — the raw
    on-ramp for the multimodal pipeline (operators/multimodal.py
    decodes/resizes the ``content`` column via Arrow-batched
    mapInPandas). Scale notes: listing parallelizes across executors;
    one row per file, so ship many small media files as a few large
    parquet/tar shards upstream when file counts reach the driver-
    listing limit (the standard small-files discipline,
    sources/layout.py). ``glob`` maps to pathGlobFilter (pushed into
    the listing, e.g. ``*.png``) so non-matching files are never
    opened.
    """
    reader = spark.read.format("binaryFile")
    if glob is not None:
        reader = reader.option("pathGlobFilter", glob)
    if recursive:
        reader = reader.option("recursiveFileLookup", "true")
    return reader.load(path)


def read_text(
    spark: SparkSession,
    path: str,
    *,
    whole_file: bool = False,
    line_sep: str | None = None,
) -> DataFrame:
    """Raw text ingestion: one row per line (default) or one row per
    file (``whole_file`` — a document per file, the raw-corpus on-ramp
    for the text/dedup operators). Declarative scan: column pruning
    applies (the single ``value`` column), and file splitting keeps
    line mode fully parallel; whole-file mode makes each file one
    task's row, so shard oversized documents upstream.
    """
    kwargs = {"wholetext": whole_file}
    if line_sep is not None:
        kwargs["lineSep"] = line_sep
    return spark.read.text(path, **kwargs)


def kafka_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    *,
    max_offsets_per_trigger: int = 10_000,
    starting_offsets: str = "latest",
) -> DataFrame:
    """Kafka streaming source builder (the production ingest front end).

    ``maxOffsetsPerTrigger`` is the reference's batch cap applied at the
    source (``hashes.go:68``): every micro-batch is bounded, giving the
    size-or-time flush guarantee with ``trigger(processingTime=T)``.

    The Kafka connector jar is not bundled in this environment —
    construction succeeds (options validated) but ``load()`` raises
    until ``spark-sql-kafka`` is on the classpath; callers get a clear
    error from this function instead of a deep Spark stack.
    """
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .option("maxOffsetsPerTrigger", str(max_offsets_per_trigger))
    )
    try:
        return reader.load()
    except Exception as exc:  # connector jar absent
        raise RuntimeError(
            "Kafka source requires the spark-sql-kafka connector on the "
            "classpath (not bundled in this environment)"
        ) from exc
