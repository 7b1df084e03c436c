"""Training-export operators: deterministic sharding and sequence
packing.

The last mile of an LLM data pipeline: the cleaned corpus has to leave
the engine as (a) a fixed number of pseudorandomly-shuffled shards
(so data loaders stream without a global sort) and (b) token-budgeted
packs (so sequences fill context windows with minimal padding). Both
are pure relational plans here — hash arithmetic + windows, zero UDFs
— and both are mirrored bit-exactly in DuckDB SQL for the driver's
correctness gate.

Scale design (100 TB):

- Shard assignment is a stateless hash — embarrassingly parallel.
- The within-shard position and within-pack running sum use
  ``Window.partitionBy(shard)`` — one task per shard, so the shard
  count is the parallelism knob. Production exports pick
  shards >> executor count with each shard ~file-sized (the same
  reasoning every training-data format uses); the constants here are
  test-sized, the plan shape does not change.
- The pseudorandom order inside a shard comes from the same portable
  SHA-256 bucket used for shard assignment (different salt), so the
  shuffle is reproducible across engines, runs, and cluster sizes —
  no ``rand()``, which would be partition-order-dependent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from clickhouse_batcher_spark.catalog import query
from clickhouse_batcher_spark.functions import with_global_cumsum
from clickhouse_batcher_spark.operators.sampling import _sql_bucket
from clickhouse_batcher_spark.tables import load_table

N_SHARDS = 16
PACK_BUDGET_CHARS = 4096
PACK_SUBSHARDS = 8


def _bucket(col: str, buckets: int, salt: str):
    """Portable hash bucket (mirror of sampling._sql_bucket): first 4
    hex chars of salted SHA-256 as an int, mod buckets."""
    return (
        F.conv(
            F.substring(
                F.sha2(F.concat(F.lit(salt), F.col(col).cast("string")), 256),
                1,
                4,
            ),
            16,
            10,
        ).cast("bigint")
        % buckets
    )


@query(
    "shard_documents_for_training",
    oracle=f"""
    SELECT doc_id,
      CAST({_sql_bucket("doc_id", buckets=N_SHARDS, salt="shard")} AS BIGINT)
        AS shard,
      CAST(row_number() OVER (
        PARTITION BY {_sql_bucket("doc_id", buckets=N_SHARDS, salt="shard")}
        ORDER BY {_sql_bucket("doc_id", buckets=1000000, salt="shuffle")},
                 doc_id
      ) - 1 AS BIGINT) AS pos,
      n_chars
    FROM documents
    """,
)
def shard_documents_for_training(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard the corpus for training-data export: stable hash shard +
    contiguous pseudorandom position within the shard.

    A data loader can then read shard k sequentially and see a
    reproducible shuffle — no global sort, no driver state. The
    position window parallelizes across shards (one task per shard;
    shard count is the parallelism/file-size knob at scale).
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    shard = _bucket("doc_id", N_SHARDS, "shard")
    order = _bucket("doc_id", 1_000_000, "shuffle")
    w = Window.partitionBy("shard").orderBy("shuffle_key", "doc_id")
    return (
        docs.withColumn("shard", shard.cast("bigint"))
        .withColumn("shuffle_key", order)
        .withColumn("pos", (F.row_number().over(w) - 1).cast("bigint"))
        .select("doc_id", "shard", "pos", "n_chars")
    )


@query(
    "pack_sequences_budget",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id, source, n_chars,
        CAST({_sql_bucket("doc_id", buckets=PACK_SUBSHARDS, salt="pack")}
             AS BIGINT) AS subshard,
        {_sql_bucket("doc_id", buckets=1000000, salt="packorder")} AS ord
      FROM documents
    )
    SELECT doc_id, source, subshard,
      CAST((SUM(n_chars) OVER (
              PARTITION BY source, subshard ORDER BY ord, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
            ) - n_chars) // {PACK_BUDGET_CHARS} AS BIGINT) AS pack_id,
      n_chars
    FROM keyed
    """,
)
def pack_sequences_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy-in-order sequence packing: within each (source, subshard)
    stream, documents are packed into fixed character-budget bins by
    exclusive running total div budget.

    The streaming-friendly formulation of packing: pack membership is
    a pure function of the running sum, so packs can be produced
    incrementally and are identical on any cluster size. Subsharding
    bounds each window partition (source alone would skew: one window
    task per source regardless of corpus size).
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    sub = _bucket("doc_id", PACK_SUBSHARDS, "pack")
    order = _bucket("doc_id", 1_000_000, "packorder")
    w = (
        Window.partitionBy("source", "subshard")
        .orderBy("ord", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        docs.withColumn("subshard", sub.cast("bigint"))
        .withColumn("ord", order)
        .withColumn("_running", F.sum("n_chars").over(w))
        .withColumn(
            "pack_id",
            F.expr(f"(_running - n_chars) div {PACK_BUDGET_CHARS}").cast("bigint"),
        )
        .select("doc_id", "source", "subshard", "pack_id", "n_chars")
    )


# ---------------------------------------------------------------------------
# Concat-then-chunk block packing (round-5 third session): the
# GPT-pretraining layout — concatenate documents in a deterministic
# order into one token stream, cut fixed BLOCK_TOKENS blocks, and
# account for which documents each block spans (crossing a boundary
# means attention masks / loss masks need the doc split points).
# Complements `pack_sequences_budget` (first-fit bins that never split
# a doc): blocks here have ZERO padding by construction and documents
# DO straddle block boundaries. Pure relational: one global ordered
# cumulative sum over per-doc token counts, then each doc explodes to
# exactly the blocks it overlaps.
# ---------------------------------------------------------------------------

BLOCK_TOKENS = 512


@query(
    "concat_block_packing",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
        len(list_filter(string_split_regex(lower(text), '\\s+'),
                        t -> t <> '')) AS n_toks
      FROM documents
    ), offs AS (
      SELECT doc_id, n_toks,
        SUM(n_toks) OVER (ORDER BY doc_id
                          ROWS UNBOUNDED PRECEDING) - n_toks AS c_start,
        SUM(n_toks) OVER (ORDER BY doc_id
                          ROWS UNBOUNDED PRECEDING) AS c_end
      FROM toks WHERE n_toks > 0
    ), spans AS (
      SELECT doc_id, n_toks, c_start, c_end,
        unnest(range(CAST(c_start // {BLOCK_TOKENS} AS BIGINT),
                     CAST((c_end - 1) // {BLOCK_TOKENS} AS BIGINT) + 1))
          AS block_id
      FROM offs
    )
    SELECT block_id,
      CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(MIN(doc_id) AS BIGINT) AS first_doc,
      CAST(MAX(doc_id) AS BIGINT) AS last_doc,
      CAST(SUM(least(c_end, (block_id + 1) * {BLOCK_TOKENS})
               - greatest(c_start, block_id * {BLOCK_TOKENS}))
           AS BIGINT) AS n_tokens
    FROM spans GROUP BY block_id
    """,
)
def concat_block_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per fixed-size training block: how many documents it spans,
    the first/last doc ids, and its token fill (= BLOCK_TOKENS
    everywhere except the final block — zero padding by
    construction).

    Offsets come from ``with_global_cumsum`` — the exact running sum
    of the two-level ordered scan, fully parallel where a bare
    ``Window.orderBy`` would funnel every row through one task; each
    doc then explodes to exactly the ceil(n/B)-ish blocks it overlaps.
    Token counts are integers, so the cumsum is partitioning-independent
    and bit-identical to the single-window form.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.size(
            F.filter(
                F.split(F.lower("text"), r"\s+"), lambda t: t != ""
            )
        ).alias("n_toks"),
    ).filter(F.col("n_toks") > 0)
    offs = with_global_cumsum(
        toks, "n_toks", ["doc_id"], cumsum_name="c_end"
    ).select(
        "doc_id",
        "n_toks",
        (F.col("c_end") - F.col("n_toks")).alias("c_start"),
        "c_end",
    )
    b = BLOCK_TOKENS
    spans = offs.select(
        "doc_id",
        "c_start",
        "c_end",
        F.explode(
            F.sequence(
                (F.col("c_start") / b).cast("bigint"),
                ((F.col("c_end") - 1) / b).cast("bigint"),
            )
        ).alias("block_id"),
    )
    return spans.groupBy("block_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.min("doc_id").cast("bigint").alias("first_doc"),
        F.max("doc_id").cast("bigint").alias("last_doc"),
        F.sum(
            F.least(F.col("c_end"), (F.col("block_id") + 1) * b)
            - F.greatest(F.col("c_start"), F.col("block_id") * b)
        )
        .cast("bigint")
        .alias("n_tokens"),
    )


# ---------------------------------------------------------------------------
# Sequence-length bucketing / padding-waste report: the third packing
# regime next to first-fit bins (pack_sequences_budget) and zero-pad
# concat blocks (concat_block_packing). Batch-shaped training and
# inference pad every sequence in a batch to a common length; bucketing
# by length caps that waste. This report quantifies the choice: for a
# power-of-two bucket ladder, per bucket — document count, real
# tokens, padded tokens at the bucket cap, and waste in integer ppm —
# plus what the SAME documents would cost padded to the global max cap
# (the no-bucketing baseline). Everything is integer arithmetic, so
# the driver hash is exact by construction.
#
# Scale: one zero-shuffle per-row token count + a CASE ladder, then a
# map-side-combinable aggregate to len(ladder) rows. Nothing here
# depends on corpus size.
# ---------------------------------------------------------------------------

PAD_BUCKET_CAPS = [16, 32, 64, 128, 256, 512]


def _pad_oracle() -> str:
    caps = PAD_BUCKET_CAPS
    ladder = " ".join(
        f"WHEN n_toks <= {c} THEN {c}" for c in caps[:-1]
    )
    return f"""
    WITH toks AS (
      SELECT doc_id,
        len(list_filter(string_split_regex(lower(text), '\\s+'),
                        t -> t <> '')) AS n_toks
      FROM documents
    ), nz AS (SELECT * FROM toks WHERE n_toks > 0),
    b AS (
      SELECT doc_id,
        CASE {ladder} ELSE {caps[-1]} END AS bucket_cap,
        least(n_toks, {caps[-1]}) AS kept_toks,
        CASE WHEN n_toks > {caps[-1]} THEN 1 ELSE 0 END AS truncated
      FROM nz
    )
    SELECT CAST(bucket_cap AS BIGINT) AS bucket_cap,
      CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(SUM(truncated) AS BIGINT) AS n_truncated,
      CAST(SUM(kept_toks) AS BIGINT) AS real_tokens,
      CAST(COUNT(*) * bucket_cap AS BIGINT) AS padded_tokens,
      CAST(floor((CAST(COUNT(*) * bucket_cap AS DOUBLE)
                  - CAST(SUM(kept_toks) AS DOUBLE))
                 / CAST(COUNT(*) * bucket_cap AS DOUBLE)
                 * 1000000 + 0.5) AS BIGINT) AS waste_ppm,
      CAST(COUNT(*) * {caps[-1]} AS BIGINT) AS maxlen_padded_tokens
    FROM b GROUP BY bucket_cap
    """


@query("padding_efficiency_report", oracle=_pad_oracle())
def padding_efficiency_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per length-bucket padding accounting for batch-shaped export.

    Buckets are the PAD_BUCKET_CAPS ladder (smallest cap that fits;
    over-length documents truncate to the top cap and are counted).
    ``waste_ppm`` is the padding overhead inside the bucket;
    ``maxlen_padded_tokens`` is the no-bucketing baseline cost of the
    same documents, so SUM(padded)/SUM(maxlen_padded) across the
    report is the bucketing win.
    """
    caps = PAD_BUCKET_CAPS
    docs = load_table(spark, sf_dir, "documents")
    n_toks = F.size(
        F.filter(F.split(F.lower("text"), r"\s+"), lambda t: t != "")
    )
    nz = docs.select("doc_id", n_toks.alias("n_toks")).filter(
        F.col("n_toks") > 0
    )
    bucket = F.lit(caps[-1])
    for c in reversed(caps[:-1]):
        bucket = F.when(F.col("n_toks") <= c, c).otherwise(bucket)
    b = nz.select(
        bucket.alias("bucket_cap"),
        F.least(F.col("n_toks"), F.lit(caps[-1])).alias("kept_toks"),
        F.when(F.col("n_toks") > caps[-1], 1).otherwise(0).alias("truncated"),
    )
    return (
        b.groupBy("bucket_cap")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("truncated").cast("bigint").alias("n_truncated"),
            F.sum("kept_toks").cast("bigint").alias("real_tokens"),
        )
        .select(
            F.col("bucket_cap").cast("bigint").alias("bucket_cap"),
            "n_docs",
            "n_truncated",
            "real_tokens",
            (F.col("n_docs") * F.col("bucket_cap"))
            .cast("bigint")
            .alias("padded_tokens"),
            F.floor(
                (
                    (F.col("n_docs") * F.col("bucket_cap")).cast("double")
                    - F.col("real_tokens").cast("double")
                )
                / (F.col("n_docs") * F.col("bucket_cap")).cast("double")
                * 1000000
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("waste_ppm"),
            (F.col("n_docs") * caps[-1])
            .cast("bigint")
            .alias("maxlen_padded_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# Shard checksum manifest: what a training loader validates on read
# ---------------------------------------------------------------------------
def _sql_hex24(col: str, start: int) -> str:
    """DuckDB SQL for a 24-bit int from 6 hex digits of ``col``
    starting at 1-based ``start`` — positional strpos arithmetic,
    not the '0x'||hex cast (DuckDB-version-sensitive, round-6
    lesson), and plain BIGINT, never DECIMAL (DECIMAL(38,0)
    canonicalization diverged between engines in round 9)."""
    return " + ".join(
        f"(strpos('0123456789abcdef', substring({col}, {start + i}, 1)) - 1)"
        f" * {16 ** (5 - i)}"
        for i in range(6)
    )


@query(
    "shard_checksum_manifest",
    oracle=f"""
    WITH assigned AS (
      SELECT doc_id, n_chars,
        CAST({_sql_bucket("doc_id", buckets=N_SHARDS, salt="shard")}
             AS BIGINT) AS shard,
        CAST({_sql_hex24("h12", 1)} AS BIGINT) AS hi24,
        CAST({_sql_hex24("h12", 7)} AS BIGINT) AS lo24
      FROM (SELECT doc_id, n_chars, text,
              substring(sha256(text), 1, 12) AS h12
            FROM documents) hsrc
    )
    SELECT shard,
      CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(SUM(n_chars) AS BIGINT) AS n_chars,
      CAST(SUM(hi24) AS BIGINT) AS checksum_hi,
      CAST(SUM(lo24) AS BIGINT) AS checksum_lo,
      CAST(MIN(doc_id) AS BIGINT) AS min_doc_id,
      CAST(MAX(doc_id) AS BIGINT) AS max_doc_id
    FROM assigned GROUP BY shard
    """,
)
def shard_checksum_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per training shard: row count, char volume, an ORDER-INDEPENDENT
    content checksum (exact sums of each document's 48-bit sha-prefix,
    carried as two 24-bit BIGINT half-sums — commutative, so any read
    order / partitioning reproduces it, and ``hi_sum * 2**24 + lo_sum``
    reconstructs the full 48-bit sum), and the doc-id range. This is
    the manifest a training loader validates before consuming a shard
    — the export-side half of the reference's transfer-fidelity
    concern (hashes_test.go's checksum trio), applied to the shard
    layout ``shard_documents_for_training`` produces.

    The round-9 driver flagged the previous single-DECIMAL(38,0)
    rendering as a hash mismatch even though values matched under the
    repo's own sweep — DECIMAL canonicalization is engine/version
    sensitive. 24-bit halves summed into BIGINT stay exact at any
    shard size (2**24 * rows overflows int64 only past ~5e11 rows per
    shard) and render identically everywhere; one hash-partitioned
    groupBy is still the whole plan."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars", "text"
    )
    h12 = F.substring(F.sha2(F.col("text"), 256), 1, 12)
    assigned = docs.select(
        "doc_id",
        "n_chars",
        _bucket("doc_id", N_SHARDS, "shard").cast("bigint").alias("shard"),
        F.conv(F.substring(h12, 1, 6), 16, 10).cast("bigint").alias("hi24"),
        F.conv(F.substring(h12, 7, 6), 16, 10).cast("bigint").alias("lo24"),
    )
    return assigned.groupBy("shard").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("n_chars"),
        F.sum("hi24").cast("bigint").alias("checksum_hi"),
        F.sum("lo24").cast("bigint").alias("checksum_lo"),
        F.min("doc_id").cast("bigint").alias("min_doc_id"),
        F.max("doc_id").cast("bigint").alias("max_doc_id"),
    )


# ---------------------------------------------------------------------------
# Resharding stability: mod-hash vs rendezvous (HRW) under N -> N+1
# ---------------------------------------------------------------------------
def _sql_hexval(sql_expr: str, ndigits: int) -> str:
    """DuckDB SQL turning the first ``ndigits`` hex chars of
    ``sql_expr`` (a sha256 string expression) into a BIGINT —
    positional strpos digit arithmetic (the engine-portable form, same
    rationale as ``_sql_hex24``)."""
    return " + ".join(
        f"(strpos('0123456789abcdef', substring({sql_expr}, {i + 1}, 1)) - 1)"
        f" * {16 ** (ndigits - 1 - i)}"
        for i in range(ndigits)
    )


_HRW_SHA = (
    "sha256('hrw' || CAST(t.sh AS VARCHAR) || ':' "
    "|| CAST(d.doc_id AS VARCHAR))"
)


@query(
    "resharding_stability_report",
    oracle=f"""
    WITH modsch AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(CASE WHEN
               ({_sql_bucket("doc_id", buckets=N_SHARDS, salt="shard")})
               <> ({_sql_bucket("doc_id", buckets=N_SHARDS + 1, salt="shard")})
               THEN 1 ELSE 0 END) AS BIGINT) AS moved
      FROM documents
    ),
    w AS (
      SELECT d.doc_id, t.sh,
             CAST({_sql_hexval(_HRW_SHA, 8)} AS BIGINT) * 32 + t.sh AS wt
      FROM documents d
      CROSS JOIN (SELECT unnest(generate_series(0, {N_SHARDS})) AS sh) t
    ),
    hrw AS (
      SELECT doc_id,
             MAX(CASE WHEN sh < {N_SHARDS} THEN wt END) % 32 AS old_sh,
             MAX(wt) % 32 AS new_sh
      FROM w GROUP BY doc_id
    ),
    hrwsch AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(CASE WHEN old_sh <> new_sh THEN 1 ELSE 0 END)
                  AS BIGINT) AS moved
      FROM hrw
    )
    SELECT 'mod' AS scheme, n_docs, moved,
           CAST(moved * 1000000 // n_docs AS BIGINT) AS moved_ppm
    FROM modsch
    UNION ALL
    SELECT 'rendezvous', n_docs, moved,
           CAST(moved * 1000000 // n_docs AS BIGINT)
    FROM hrwsch
    """,
)
def resharding_stability_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How many documents MOVE when the shard count grows 16 -> 17,
    under the two sharding disciplines: mod-hash (what
    ``shard_documents_for_training`` uses) vs rendezvous/HRW hashing
    (highest-random-weight: shard = argmax over shards of
    hash(doc, shard)).

    This is the capacity-planning number a 100 TB training-data store
    lives by — mod-hash invalidates ~N/(N+1) of every shard's data on
    reshard (here ~94%), while rendezvous moves only ~1/(N+1) (~5.9%),
    the minimum possible. The HRW argmax is computed IN-ROW (an
    array_max over a 17-element weight array — zero shuffle, scales
    with the scan); weights are salted-SHA so both engines reproduce
    them exactly, and each weight carries its shard id in the low 5
    bits so the argmax is a plain integer MAX with a deterministic
    total order (no float, no tie ambiguity).
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    n_new = N_SHARDS + 1
    mod_moved = (
        _bucket("doc_id", N_SHARDS, "shard")
        != _bucket("doc_id", n_new, "shard")
    )
    weights = F.transform(
        F.sequence(F.lit(0), F.lit(N_SHARDS)),
        lambda s: F.conv(
            F.substring(
                F.sha2(
                    F.concat(
                        F.lit("hrw"),
                        s.cast("string"),
                        F.lit(":"),
                        F.col("doc_id").cast("string"),
                    ),
                    256,
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        * 32
        + s.cast("bigint"),
    )
    flags = docs.select(
        mod_moved.alias("mod_moved"),
        (
            F.array_max(F.slice(weights, 1, N_SHARDS)) % 32
            != F.array_max(weights) % 32
        ).alias("hrw_moved"),
    )
    agg = flags.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.col("mod_moved").cast("bigint")).cast("bigint").alias("m_mod"),
        F.sum(F.col("hrw_moved").cast("bigint")).cast("bigint").alias("m_hrw"),
    )
    return agg.select(
        F.expr(
            "stack(2, 'mod', m_mod, 'rendezvous', m_hrw) AS (scheme, moved)"
        ),
        "n_docs",
    ).select(
        "scheme",
        "n_docs",
        "moved",
        F.expr("CAST(moved * 1000000 div n_docs AS BIGINT)").alias(
            "moved_ppm"
        ),
    )


# ---------------------------------------------------------------------------
# Near-dup exposure spacing in the training stream
# ---------------------------------------------------------------------------
def _dup_spacing_oracle() -> str:
    from clickhouse_batcher_spark.catalog import ORACLES

    mh = ORACLES["dedup_minhash_lsh"]
    return f"""
    WITH mh AS ({mh}),
    r AS (
      SELECT doc_id,
             CAST(row_number() OVER (
               ORDER BY {_sql_bucket("doc_id", buckets=1000000,
                                     salt="shuffle")}, doc_id
             ) - 1 AS BIGINT) AS rnk
      FROM documents
    ),
    sp AS (
      SELECT ABS(ra.rnk - rb.rnk) AS spacing
      FROM mh
      JOIN r ra ON ra.doc_id = mh.doc_a
      JOIN r rb ON rb.doc_id = mh.doc_b
    )
    SELECT CAST(LENGTH(bin(spacing)) AS BIGINT) AS spacing_bits,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(MIN(spacing) AS BIGINT) AS min_spacing,
           CAST(MAX(spacing) AS BIGINT) AS max_spacing
    FROM sp GROUP BY 1
    """


@query("dup_pair_training_spacing")  # oracle registered below (composed)
def dup_pair_training_spacing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How close together the members of each near-duplicate pair sit
    in the training stream: |rank_a - rank_b| under the corpus's
    reproducible shuffle order (the same 'shuffle' hash that orders
    ``shard_documents_for_training``), bucketed by bit-length
    (floor(log2)+1 — integer-exact in both engines via LENGTH(bin()),
    no float log).

    Duplicate EXPOSURE SPACING is a memorization knob: near-dups seen
    within a few thousand steps of each other behave like a doubled
    learning rate on that content, while widely-spaced ones act as
    natural review. Plan shape: the pair frame is the memoized
    bucketed-LSH relation (never all-pairs), the global rank is the
    ``with_global_index`` of the two-level ordered scan (no
    single-partition window), and the two rank lookups
    are keyed joins on doc id.
    """
    from clickhouse_batcher_spark.functions import with_global_index
    from clickhouse_batcher_spark.operators.dedup import (
        minhash_pairs_cached,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    keyed = docs.withColumn(
        "shuffle_key", _bucket("doc_id", 1_000_000, "shuffle")
    )
    ranked = with_global_index(
        keyed, ["shuffle_key", "doc_id"], "rnk"
    ).select("doc_id", "rnk")
    pairs = minhash_pairs_cached(spark, sf_dir).select("doc_a", "doc_b")
    sp = (
        pairs.join(
            ranked.select(
                F.col("doc_id").alias("doc_a"), F.col("rnk").alias("ra")
            ),
            "doc_a",
        )
        .join(
            ranked.select(
                F.col("doc_id").alias("doc_b"), F.col("rnk").alias("rb")
            ),
            "doc_b",
        )
        .select(F.abs(F.col("ra") - F.col("rb")).alias("spacing"))
    )
    return (
        sp.groupBy(
            F.length(F.bin("spacing")).cast("bigint").alias("spacing_bits")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.min("spacing").cast("bigint").alias("min_spacing"),
            F.max("spacing").cast("bigint").alias("max_spacing"),
        )
    )


from clickhouse_batcher_spark.catalog import ORACLES as _PK_ORACLES  # noqa: E402

_PK_ORACLES["dup_pair_training_spacing"] = " ".join(
    _dup_spacing_oracle().split()
)
