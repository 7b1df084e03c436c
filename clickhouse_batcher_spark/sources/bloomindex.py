"""Bloom-filter file-skipping index (ClickHouse ``bloom_filter`` skip
index, re-expressed for a parquet data lake).

ClickHouse skips granules whose bloom filter cannot contain the probed
value; the parquet analogue skips FILES. Parquet footers already give
min/max pruning (and Z-ordering concentrates ranges — see
``operators.zorder``); a bloom index adds point-lookup skipping for
high-cardinality keys where ranges overlap.

Design for 100 TB:

- **Build is one relational pass**: every row contributes
  ``BLOOM_HASHES`` bit positions (portable SHA-prefix hashes, distinct
  salts), positions explode to (file, word, bit) and a
  ``bit_or`` aggregate folds them into ``BLOOM_WORDS`` longs per file
  — fully map-side-combinable, output is |files| x 16 rows.
- **The sidecar is tiny** (~128 B per data file), so the probe is
  driver-side: recompute the value's positions in pure Python
  (same SHA math — engine-portable by construction) and keep files
  whose words have ALL probe bits set. No false negatives ever
  (bloom property); false positives only cost an extra file scan.
- **Reading prunes before Spark ever lists row groups**: the kept
  file list feeds ``read_parquet(spark, *files)`` directly.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clickhouse_batcher_spark.sources.readers import read_parquet

BLOOM_BITS = 1024
BLOOM_WORDS = BLOOM_BITS // 64
BLOOM_HASHES = 3


def _position(value: str, i: int) -> int:
    """Bit position i for a value — EXACTLY functions.portable_hash64
    (15-hex-char SHA-256 prefix) mod BLOOM_BITS, in pure Python so the
    driver can probe without Spark."""
    h = hashlib.sha256(f"bloom{i}:{value}".encode()).hexdigest()[:15]
    return int(h, 16) % BLOOM_BITS


def build_bloom_index(
    spark: SparkSession, data_path: str, col: str
) -> DataFrame:
    """(file, word_idx, word) bloom sidecar for ``col`` over every
    parquet file under ``data_path``."""
    rows = (
        read_parquet(spark, data_path)
        .select(F.col(col).cast("string").alias("v"))
        .withColumn("file", F.input_file_name())
    )
    positions = F.array(
        *[
            F.conv(
                F.substring(
                    F.sha2(F.concat(F.lit(f"bloom{i}:"), F.col("v")), 256),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("bigint")
            % BLOOM_BITS
            for i in range(BLOOM_HASHES)
        ]
    )
    bits = (
        rows.select("file", F.explode(positions).alias("pos"))
        .distinct()
        .select(
            "file",
            (F.col("pos") / 64).cast("int").alias("word_idx"),
            # shiftleft's Python binding takes only literal shift
            # counts; the SQL form accepts a column.
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))"
            ).alias("bit"),
        )
    )
    return bits.groupBy("file", "word_idx").agg(
        F.bit_or("bit").alias("word")
    )


def prune_files(index_rows: list, value) -> list[str]:
    """Files that MAY contain ``value`` (bloom: no false negatives).

    ``index_rows`` is the collected sidecar (Row(file, word_idx, word))
    — ~16 rows per data file, so driver-side probing is O(files).
    """
    words: dict[str, dict[int, int]] = {}
    for r in index_rows:
        words.setdefault(r["file"], {})[r["word_idx"]] = r["word"]
    probes = [_position(str(value), i) for i in range(BLOOM_HASHES)]
    kept = []
    for f, w in words.items():
        if all(
            (w.get(p // 64, 0) >> (p % 64)) & 1 for p in probes
        ):
            kept.append(f)
    return sorted(kept)


def read_with_bloom_prune(
    spark: SparkSession,
    data_path: str,
    index: DataFrame,
    col: str,
    value,
) -> DataFrame:
    """Point-lookup read: scan ONLY the files whose bloom may contain
    ``value``, then apply the exact filter (false positives drop
    here). Returns an empty frame (correct schema) when every file is
    pruned."""
    kept = prune_files(index.collect(), value)
    if not kept:
        return (
            read_parquet(spark, data_path)
            .filter(F.lit(False))
            .filter(F.col(col) == value)
        )
    return read_parquet(spark, *kept).filter(F.col(col) == value)
