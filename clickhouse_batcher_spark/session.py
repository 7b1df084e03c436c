"""SparkSession factory with scale-minded defaults.

Local testing runs on ``local[N]`` but every default here is chosen to
also be correct on a 1000-executor cluster:

- AQE on (runtime coalescing, skew-join splitting, dynamic join
  selection) so plans re-optimize with real statistics;
- shuffle partitions sized from the env (cores locally; on a cluster
  this would be ~2-3x total cores, and AQE coalesces down);
- session timezone pinned to UTC so results are reproducible and
  oracle-comparable (DuckDB timestamps are UTC-naive);
- Arrow enabled for any pandas-UDF path;
- ``lower()``/``upper()`` through the JVM's case mapping (the Spark 3.x
  behaviour), not ICU: ``spark.sql.icu.caseMappings.enabled=false``.
  The first ICU case mapping in a JVM loads ICU's data, 1.35-1.50 s
  against 0.17 s for the JVM mapping (4-core box). That cost is paid
  once per JVM — so on a cluster by every executor, and by every
  streaming near-dup gate whose first batch tokenizes text. The two
  mappings agree on the differential corpus of
  ``tests/test_session.py`` (Greek final sigma, Turkish dotted and
  dotless i, ß, titlecase digraphs, Cyrillic, Armenian ligatures,
  combining marks) except on case pairs newer than the JDK's Unicode
  version, which the test lists. The JVM mapping follows the JVM default
  locale, so run executors under a non-Turkish locale
  (``-Duser.language=en``);
- streaming checkpoint logs (offsets, commits, file-source log) written
  through the Hadoop ``FileSystem`` checkpoint manager
  (``spark.sql.streaming.checkpointFileManagerClass``), not Spark's
  default ``FileContext`` one. Without the native Hadoop library
  (``libhadoop``; Spark's pip build ships none, and
  ``NativeCodeLoader`` warns at start) the local filesystem forks
  ``chmod`` for every file and directory it creates, and the
  ``FileContext`` manager also forks ``readlink`` eight times for each
  rename: 10 forks per log file against 2. Each streaming trigger
  writes three log files, so this takes 24 forks off every trigger.
  Both managers write a temporary file and rename it into place, and
  Spark creates these logs without overwrite, so the commit is as
  atomic as the rename: atomic on local disks and HDFS. On object
  stores (S3, GCS, ABFS) neither manager's rename is atomic; checkpoint
  there through a store-specific manager passed in ``extra_conf``. The
  conf is internal to Spark; ``tests/test_session.py`` loads the class,
  so an upgrade that moves it fails there.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

ICU_CASE_MAPPINGS = "spark.sql.icu.caseMappings.enabled"
CHECKPOINT_FILE_MANAGER = "spark.sql.streaming.checkpointFileManagerClass"
FILESYSTEM_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def tune_session(spark: SparkSession) -> None:
    """Idempotent tuning for externally-built sessions (e.g. the
    driver's): if the session still has Spark's stock 200 shuffle
    partitions (25x over-parallelized for every local run), set it to
    the actual parallelism. Touches nothing a user configured
    explicitly — 200 is only ever the untouched default. Sessions from
    :func:`get_session` already size this correctly. Also pins UTC (same
    only-if-untouched rule), the JVM case mapping and, when none is
    set, the ``FileSystem`` checkpoint manager, as :func:`get_session`
    does."""
    try:
        if spark.conf.get("spark.sql.shuffle.partitions") == "200":
            spark.conf.set(
                "spark.sql.shuffle.partitions",
                str(spark.sparkContext.defaultParallelism),
            )
    except Exception:
        pass
    # The TIMESTAMP_NTZ branch in tables._normalize_ts reinterprets
    # NTZ wall-clock as an instant in the SESSION timezone; that is
    # only oracle-exact when the session runs UTC. get_session pins
    # it, but externally-built sessions (the driver's) inherit the
    # JVM default — pin it here too, with the same only-if-untouched
    # rule as above: if the conf still equals the JVM default TZ the
    # user never chose it explicitly.
    try:
        tz = spark.conf.get("spark.sql.session.timeZone")
        jvm_default = spark._jvm.java.util.TimeZone.getDefault().getID()
        if tz == jvm_default and tz != "UTC":
            spark.conf.set("spark.sql.session.timeZone", "UTC")
    except Exception:
        pass
    # The engine's lower() is the JVM case mapping (module docstring);
    # sessions built elsewhere get it too, so the oracle sweep checks
    # the lowercasing the engine runs.
    try:
        spark.conf.set(ICU_CASE_MAPPINGS, "false")
    except Exception:
        pass
    # Streaming checkpoint logs (module docstring); a manager the user
    # chose is kept.
    try:
        if spark.conf.get(CHECKPOINT_FILE_MANAGER, None) is None:
            spark.conf.set(CHECKPOINT_FILE_MANAGER, FILESYSTEM_CHECKPOINT_MANAGER)
    except Exception:
        pass


def get_session(
    app_name: str = "clickhouse_batcher_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` or all local cores. On a
    real cluster the master/resource settings come from spark-submit;
    everything set here is cluster-safe.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.spill.compress", "true")
        .config(ICU_CASE_MAPPINGS, "false")
        .config(CHECKPOINT_FILE_MANAGER, FILESYSTEM_CHECKPOINT_MANAGER)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
