"""Deduplication operators: exact, content-hash, n-gram Jaccard,
MinHash-LSH, and SimHash.

Design for 100 TB:

- **exact / content-hash**: one hash-partitioned groupBy on the
  64-bit/256-bit content key — the minimal possible shuffle; rows
  shuffle as (key, id) pairs, never full documents.
- **n-gram Jaccard**: candidate pairs come from an equi-join on
  shared shingles with a *document-frequency cap* (a shingle present
  in more than ``max_shingle_df`` docs generates no candidates) — the
  standard guard that keeps the candidate set near-linear instead of
  quadratic when common boilerplate appears in millions of docs.
- **MinHash-LSH**: signatures are ``num_perms`` independent min-hashes;
  banding turns near-dup search into an equi-join on (band_id,
  band_signature) — O(n) shuffle, no pairwise scan. Verification
  (exact Jaccard) runs only on band-collision candidates.
- **SimHash**: 64-bit signature from token-hash bit voting; candidate
  blocking on 16-bit chunks (a Hamming-distance<=4 pair must agree on
  at least one of 4 chunks), verify exact Hamming on collisions.

Hashes are built from SHA-256 hex (``functions.portable_hash64``
rationale): stable across engines, which is what makes every one of
these pipelines expressible as a DuckDB oracle. A throughput-tuned
deployment can swap ``xxhash64`` in for a ~2-3x hash speedup at the
cost of oracle portability — the plan shape is identical.

Each operator also ships a *corpus builder* that unions the documents
with deterministically truncated twins (last ``TRUNCATE_TOKENS``
tokens dropped): the synthetic corpus has few natural near-dups, and
the twins give the detectors a known, deterministic signal to find —
on both engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from clickhouse_batcher_spark.catalog import query
from clickhouse_batcher_spark.functions import sha256_hex, tokens
from clickhouse_batcher_spark.operators import memo
from clickhouse_batcher_spark.tables import load_table

TWIN_ID_OFFSET = 100_000
TRUNCATE_TOKENS = 5
MIN_TWIN_TOKENS = 20
SHINGLE_K = 3
MAX_SHINGLE_DF = 50
JACCARD_THRESHOLD = 0.6
MINHASH_PERMS = 16
MINHASH_BANDS = 4  # rows per band = MINHASH_PERMS / MINHASH_BANDS = 4
MINHASH_VERIFY_THRESHOLD = 0.5
SIMHASH_BITS = 64
SIMHASH_CHUNKS = 4
SIMHASH_MAX_HAMMING = 4
# Per-(chunk_id, chunk) bucket membership cap: a bucket past this is
# skipped (loud warning + LAST_SIMHASH_BUCKET_OVERFLOW), bounding every
# bucket's pair fan-out at cap*(cap-1)/2 — the simhash analogue of
# MAX_SHINGLE_DF. Never binds on the real fixtures (max bucket 290 at
# sf0.1); trims the low-entropy synthetic corpus's pathological head.
SIMHASH_BUCKET_CAP = 512
LAST_SIMHASH_BUCKET_OVERFLOW = 0

# --- shared SQL fragments (DuckDB oracle side) -----------------------------
SQL_TOKENS = "list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '')"

SQL_CORPUS = f"""
toks AS (
  SELECT doc_id, {SQL_TOKENS} AS tokens FROM documents
), corpus AS (
  SELECT doc_id, tokens FROM toks
  UNION ALL
  SELECT doc_id + {TWIN_ID_OFFSET} AS doc_id,
         tokens[1:len(tokens)-{TRUNCATE_TOKENS}] AS tokens
  FROM toks WHERE len(tokens) >= {MIN_TWIN_TOKENS}
)"""

SQL_SHINGLES = f"""
shingles AS (
  SELECT DISTINCT doc_id,
    unnest(list_transform(generate_series(1, len(tokens)-{SHINGLE_K - 1}),
           i -> tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2])) AS shingle
  FROM corpus WHERE len(tokens) >= {SHINGLE_K}
)"""

SQL_SIZES = "sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id)"


# --- shared Spark-side builders -------------------------------------------
def tokenized_corpus(docs: DataFrame, spread: bool = True) -> DataFrame:
    """documents + truncated twins as (doc_id, tokens).

    Repartitioned to the session's parallelism: the documents table
    arrives as a couple of parquet splits, which would leave the
    downstream per-row hash folds (shingling, minhash, simhash) on a
    fraction of the cores. The shuffle moves only (id, tokens) rows —
    trivial next to the compute it parallelizes. ``spread=False``
    skips it for callers whose input is already a small micro-batch
    (the streaming gate) where a 32-task stage is pure overhead.
    """
    if spread:
        docs = docs.repartition(
            docs.sparkSession.sparkContext.defaultParallelism
        )
    toks = docs.select("doc_id", tokens("text").alias("tokens"))
    twins = toks.filter(F.size("tokens") >= MIN_TWIN_TOKENS).select(
        (F.col("doc_id") + TWIN_ID_OFFSET).alias("doc_id"),
        F.slice(
            "tokens", 1, F.size("tokens") - TRUNCATE_TOKENS
        ).alias("tokens"),
    )
    return toks.unionByName(twins)


# --- the MinHash signature, as Spark SQL text ------------------------------
# The shingle array and the signature are one SQL expression string
# each: Catalyst parses it in one call, where the equivalent Column DSL
# (a Python lambda per transform) costs a py4j round trip per node —
# ~100 columns and 250-470 ms of driver time per signature plan, paid
# by every gate micro-batch.
def _shingles_sql(k: int = SHINGLE_K) -> str:
    """In-row k-shingle array over a ``tokens`` column."""
    parts = ", ".join(f"element_at(tokens, i + {j})" for j in range(k))
    return f"transform(sequence(1, size(tokens) - {k - 1}), i -> concat_ws(' ', {parts}))"


def _perm_hash_sql(i: int, x: str) -> str:
    """Permutation-i hash of the string expression ``x``: the 16-char
    SHA-256 prefix of the salted value (the oracle's ``mh`` CTE)."""
    return f"substring(sha2(concat('{i:02d}|', {x}), 256), 1, 16)"


# The signature of a distinct-shingle array column ``sh``: the
# MINHASH_PERMS per-permutation minima, concatenated in permutation order.
MINHASH_SIGNATURE_SQL = "concat({})".format(
    ", ".join(
        f"array_min(transform(sh, s -> {_perm_hash_sql(i, 's')}))"
        for i in range(MINHASH_PERMS)
    )
)


def doc_shingle_arrays(corpus: DataFrame) -> DataFrame:
    """(doc_id, sh): each doc's DISTINCT k-shingles, in-row — no
    shuffle. Docs shorter than one shingle are dropped."""
    return corpus.filter(F.size("tokens") >= SHINGLE_K).selectExpr(
        "doc_id", f"array_distinct({_shingles_sql()}) AS sh"
    )


def signature_bands(docsh: DataFrame) -> DataFrame:
    """(doc_id, sh) -> (doc_id, band_id, band_sig): the in-row MinHash
    signature (``array_min`` over each permutation's hashes — nothing
    leaves the row) cut into MINHASH_BANDS bands. Duplicate shingles
    cannot move a MIN, so hashing the distinct array gives the
    ``dedup_minhash_lsh`` oracle's ``bands`` rows (``SQL_BANDS``) bit
    for bit. Expensive per row (16 interpreted sha2 folds): a consumer
    that reads the result twice — a band self-join — should cut it
    with ``memo.materialize`` first."""
    return _explode_bands(
        docsh.selectExpr("doc_id", f"{MINHASH_SIGNATURE_SQL} AS signature")
    )


def shingle_set(corpus: DataFrame, k: int = SHINGLE_K) -> DataFrame:
    """Distinct k-token shingles per doc: (doc_id, shingle).

    Round-14 measured and KEPT AS IS (guide §1 — keep the lesson): an
    in-row rewrite (``explode(array_distinct(shingle array))``, no
    global distinct() shuffle) measured 11.7-16.3 s vs 0.7-2.4 s for
    this form at sf0.1 — Catalyst collapses the array_distinct into
    the Generate input and the expression ends up re-evaluated
    per output element. The dedup family gets the in-row benefit
    safely through ``_doc_shingles_cached`` (the arrays are
    MATERIALIZED before any explode); this un-memoized builder keeps
    the explode + distinct shape."""
    return (
        corpus.filter(F.size("tokens") >= k)
        .select("doc_id", F.explode(F.expr(_shingles_sql(k))).alias("shingle"))
        .distinct()
    )


# Shared-shingle memo: the jaccard/minhash/consensus queries all start
# from the identical (doc_id, shingle) relation; within one session the
# memoized frame is computed once and reused across catalog queries (the
# driver and bench invoke them back to back). Keyed on the Spark
# application id (unique per SparkContext — ``id(spark)`` could be
# reused after a session is GC'd, silently serving a DataFrame owned by
# a dead session) plus sf_dir.
#
# Materialized via eager ``localCheckpoint()`` rather than ``cache()``
# (round-13 optimization): the bench/driver loop calls
# ``spark.catalog.clearCache()`` after EVERY query, which silently
# unpersisted a cache()-backed memo — every later consumer recomputed
# the full tokenize+shingle pipeline (up to 3x per query inside
# ``_minhash_pairs`` alone) and the cross-query amortization this memo
# exists for never happened in the timed pass. A localCheckpoint is
# RDD-backed, not CacheManager-backed, so clearCache cannot evict it —
# the same discipline every memo of the package uses: it is declared
# with ``@memo.shared`` (operators/memo.py), materialized through
# memo.materialize() — a reliable checkpoint() when the context has a
# checkpoint dir (cluster runs per SCALE.md), localCheckpoint()
# otherwise — and released by memo.evict_all().
#
# Round-14 restructure (guide §2.4): the memo holds PER-DOC DISTINCT
# SHINGLE ARRAYS (doc_id, sh: array<string>) built entirely in-row —
# tokenize, shingle, array_distinct — ZERO shuffles where the old
# exploded (doc_id, shingle) relation paid a global distinct() shuffle
# of the family's largest intermediate. Consumers derive what they
# need without re-shuffling: the exploded relation is one explode over
# the materialized arrays, per-doc sizes are F.size(sh) (previously a
# groupBy(doc_id) exchange), MinHash signatures are in-row array_min
# folds (previously a vocab distinct + join + 16-way min aggregate —
# three exchanges), and pair verification intersects the arrays
# directly (previously a collect_set groupBy).
@memo.shared
def _doc_shingles_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, sh: array<string>) — each doc's DISTINCT k-shingles,
    memoized per (session, sf_dir). See the note above."""
    docs = load_table(spark, sf_dir, "documents")
    return doc_shingle_arrays(tokenized_corpus(docs))


def _shingles_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exploded (doc_id, shingle) relation — a lazy explode over
    the materialized per-doc arrays (no second checkpoint: consumers
    reference it at most once and the explode is narrow)."""
    return _doc_shingles_cached(spark, sf_dir).select(
        "doc_id", F.explode("sh").alias("shingle")
    )


def _doc_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n): distinct-shingle count per doc — a projection of
    the array memo, NOT a groupBy over the exploded relation."""
    return _doc_shingles_cached(spark, sf_dir).select(
        "doc_id", F.size("sh").alias("n")
    )


def _jaccard(shared: Column, na: Column, nb: Column) -> Column:
    return shared.cast("double") / (na + nb - shared)


def exact_dedup(df: DataFrame, key_cols: list[str], id_col: str) -> DataFrame:
    """Generic exact dedup: deterministic survivor = min(id) per key."""
    return df.groupBy(*key_cols).agg(F.min(id_col).alias(id_col))


# ---------------------------------------------------------------------------
# Content-hash dedup: group by SHA-256 of the normalized content
# ---------------------------------------------------------------------------
@query(
    "dedup_content_hash",
    oracle="""
    SELECT sha256(text) AS content_hash, MIN(doc_id) AS keep_doc_id,
           COUNT(*) AS n_copies
    FROM documents GROUP BY sha256(text)
    """,
)
def dedup_content_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(sha256_hex("text").alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


# ---------------------------------------------------------------------------
# N-gram Jaccard near-dup pairs
# ---------------------------------------------------------------------------
# Verified-pair memo (round-13): minhash_recall_curve (the "truth"
# side) and dedup_consensus both re-derived this exact pair frame;
# materialize once per (session, sf_dir).
@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH {SQL_CORPUS}, {SQL_SHINGLES}, {SQL_SIZES},
    rare AS (
      SELECT shingle FROM shingles GROUP BY shingle
      HAVING COUNT(*) <= {MAX_SHINGLE_DF}
    ),
    cand AS (
      SELECT s1.doc_id AS doc_a, s2.doc_id AS doc_b, COUNT(*) AS shared
      FROM shingles s1
      JOIN rare r ON s1.shingle = r.shingle
      JOIN shingles s2 ON s1.shingle = s2.shingle AND s1.doc_id < s2.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           CAST(shared AS DOUBLE) / (sa.n + sb.n - shared) AS jaccard
    FROM cand
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(shared AS DOUBLE) / (sa.n + sb.n - shared) >= {JACCARD_THRESHOLD}
    """,
)
@memo.shared
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    shingles = _shingles_cached(spark, sf_dir)
    sizes = _doc_sizes(spark, sf_dir)
    # Pair generation without a self-join: group each rare shingle's
    # doc list (bounded by the DF cap) and emit its i<j combinations
    # in-row, then count per pair. One groupBy on shingle replaces the
    # shuffle-heavy shingle⋈shingle join; the candidate multiset is
    # identical (pairs sharing a rare shingle, counted once per shared
    # rare shingle). The DF cap bounds each row's fan-out at
    # cap*(cap-1)/2 — the same guard that kept the join near-linear.
    doc_lists = (
        shingles.groupBy("shingle")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("docs"))
        .filter(F.size("docs") <= MAX_SHINGLE_DF)
    )
    pairs = doc_lists.select(
        F.explode(
            F.expr(
                "flatten(transform(docs, (x, i) ->"
                " transform(slice(docs, i + 2, size(docs) - i - 1),"
                "           y -> struct(x AS doc_a, y AS doc_b))))"
            )
        ).alias("p")
    )
    cand = (
        pairs.select(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jac = _jaccard(F.col("shared"), F.col("sa.n"), F.col("sb.n"))
    return (
        cand.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


# ---------------------------------------------------------------------------
# MinHash-LSH near-dup pairs
# ---------------------------------------------------------------------------
def _minhash_salts_sql() -> str:
    return " UNION ALL ".join(
        f"SELECT {i} AS salt_id, '{i:02d}|' AS salt" for i in range(MINHASH_PERMS)
    )


_BAND_HEX = MINHASH_PERMS // MINHASH_BANDS * 16  # hex chars per band (16-char hash prefixes)

# The dedup_minhash_lsh oracle's LSH bands over ``shingles``:
# (doc_id, band_id, band_sig), the rows signature_bands is pinned
# against bit for bit.
SQL_BANDS = f"""
salts AS ({_minhash_salts_sql()}),
mh AS (
  SELECT s.doc_id, sa.salt_id, MIN(substring(sha256(sa.salt || s.shingle), 1, 16)) AS mh
  FROM shingles s CROSS JOIN salts sa GROUP BY s.doc_id, sa.salt_id
),
sig AS (
  SELECT doc_id, string_agg(mh, '' ORDER BY salt_id) AS signature
  FROM mh GROUP BY doc_id
),
bands AS (
  SELECT doc_id, b AS band_id,
         substring(signature, b * {_BAND_HEX} + 1, {_BAND_HEX}) AS band_sig
  FROM sig, unnest(generate_series(0, {MINHASH_BANDS - 1})) AS t(b)
)"""


def _explode_bands(sig: DataFrame) -> DataFrame:
    """(doc_id, signature) -> (doc_id, band_id, band_sig)."""
    return sig.select(
        "doc_id",
        "signature",
        F.explode(F.sequence(F.lit(0), F.lit(MINHASH_BANDS - 1))).alias("band_id"),
    ).select(
        "doc_id",
        "band_id",
        F.expr(f"substring(signature, band_id * {_BAND_HEX} + 1, {_BAND_HEX})").alias(
            "band_sig"
        ),
    )


def band_signatures_inline(docs: DataFrame) -> DataFrame:
    """The (doc_id, band_id, band_sig) LSH bands of ``docs`` and their
    truncated twins — the rows of the ``dedup_minhash_lsh`` oracle's
    ``bands`` CTE (``SQL_BANDS``), bit for bit — computed WITHOUT a
    single shuffle.

    Each row keeps its distinct-shingle array and
    :func:`signature_bands` folds it in-row, so a streaming micro-batch
    pays no shuffle: a vocabulary join (hash each distinct shingle
    once, join it back, MIN per doc) cost the at-ingestion gate ~2.5 s
    of fixed latency per micro-batch (measured round 8).
    """
    return signature_bands(doc_shingle_arrays(tokenized_corpus(docs, spread=False)))


@query(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH {SQL_CORPUS}, {SQL_SHINGLES}, {SQL_SIZES}, {SQL_BANDS},
    cand AS (
      SELECT DISTINCT b1.doc_id AS doc_a, b2.doc_id AS doc_b
      FROM bands b1 JOIN bands b2
        ON b1.band_id = b2.band_id AND b1.band_sig = b2.band_sig
           AND b1.doc_id < b2.doc_id
    ),
    verified AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS shared
      FROM cand c
      JOIN shingles s1 ON s1.doc_id = c.doc_a
      JOIN shingles s2 ON s2.doc_id = c.doc_b AND s1.shingle = s2.shingle
      GROUP BY 1, 2
    )
    SELECT v.doc_a, v.doc_b,
           CAST(v.shared AS DOUBLE) / (sa.n + sb.n - v.shared) AS jaccard
    FROM verified v
    JOIN sizes sa ON sa.doc_id = v.doc_a
    JOIN sizes sb ON sb.doc_id = v.doc_b
    WHERE CAST(v.shared AS DOUBLE) / (sa.n + sb.n - v.shared)
          >= {MINHASH_VERIFY_THRESHOLD}
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_pairs_cached(spark, sf_dir)


# Verified-pair memo: the clustering/canonical-selection/overlap-matrix
# queries all consume the identical MinHash-verified pair frame, and
# bench/driver runs invoke them back to back — computing the LSH
# pipeline once per (session, sf_dir) amortizes the suite's single most
# expensive subtree across four catalog queries (VERDICT r6 task 4).
@memo.shared
def minhash_pairs_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Signatures come straight off the memoized per-doc shingle ARRAYS
    # (the gate's signature_bands) instead of a vocabulary form's
    # distinct + hash join + 16-way MIN aggregate (three exchanges).
    # They are cut before the band self-join: unmaterialized, the 16
    # sha2 folds ran once per join side (no exchange reuse across a
    # self-join) — 4.6-5.0 s per build against 2.8-3.3 s cut, sf0.1.
    # The cut is a build intermediate, released when the entry lands.
    docsh = _doc_shingles_cached(spark, sf_dir)
    bands = memo.materialize(signature_bands(docsh))
    b1 = bands.alias("b1")
    b2 = bands.alias("b2")
    cand = (
        b1.join(
            b2,
            (F.col("b1.band_id") == F.col("b2.band_id"))
            & (F.col("b1.band_sig") == F.col("b2.band_sig"))
            & (F.col("b1.doc_id") < F.col("b2.doc_id")),
        )
        .select(
            F.col("b1.doc_id").alias("doc_a"), F.col("b2.doc_id").alias("doc_b")
        )
        .distinct()
    )
    # Verification: candidates are few (band collisions); the per-doc
    # shingle sets are ALREADY arrays in the memo (no collect_set
    # groupBy), so verify per pair with array_intersect — O(|cand| *
    # shingles-per-doc), zero extra exchanges on the doc-set side.
    doc_sets = docsh.select("doc_id", "sh", F.size("sh").alias("n"))
    sa = doc_sets.alias("sa")
    sb = doc_sets.alias("sb")
    shared = F.size(F.array_intersect(F.col("sa.sh"), F.col("sb.sh")))
    jac = _jaccard(shared, F.col("sa.n"), F.col("sb.n"))
    return (
        cand.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= MINHASH_VERIFY_THRESHOLD)
    )


# ---------------------------------------------------------------------------
# SimHash signatures + near-dup pairs
# ---------------------------------------------------------------------------
# Bit b (0-based, from the top) of a token's 64-bit hash, extracted
# from its SHA-256 hex prefix: hex char at b div 4, nibble bit b mod 4.
_SQL_TOKEN_BITS = """
tok_bits AS (
  SELECT doc_id, tok, b,
    ((strpos('0123456789abcdef', substring(h, (b // 4) + 1, 1)) - 1)
     // CAST(pow(2, 3 - (b % 4)) AS INTEGER)) % 2 AS bit
  FROM (
    SELECT doc_id, tok, sha256(tok) AS h
    FROM (SELECT doc_id, unnest(tokens) AS tok FROM corpus) u
  ) th, unnest(generate_series(0, 63)) AS gb(b)
)
"""

_SQL_SIMHASH = f"""
votes AS (
  SELECT doc_id, b, SUM(2 * bit - 1) AS vote
  FROM tok_bits GROUP BY doc_id, b
),
simhash AS (
  SELECT doc_id,
    string_agg(CASE WHEN vote > 0 THEN '1' ELSE '0' END, '' ORDER BY b) AS sig
  FROM votes GROUP BY doc_id
)
"""


@query(
    "simhash_signatures",
    oracle=f"""
    WITH {SQL_CORPUS}, {_SQL_TOKEN_BITS}, {_SQL_SIMHASH}
    SELECT doc_id, sig FROM simhash
    """,
)
def simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return _simhash(tokenized_corpus(docs))


def _simhash(corpus: DataFrame) -> DataFrame:
    """Per-document 64-bit SimHash as a single narrow projection.

    The bit-vote accumulation is a per-row fold over the token array
    (aggregate + zip_with) — no explode, no shuffle at all: 10k docs
    x ~100 tokens x 64 bits stays inside whole-stage codegen. The
    SHA-256 per token occurrence is recomputed inline. Round-13
    measured the alternative (hash each DISTINCT corpus token once
    into a vocabulary dimension, join back, 64 map-side-combinable
    vote SUMs — the vocabulary-join discipline) at 5.1 s vs 1.7 s for
    this fold at sf0.1: the explode + exchange + 64-wide aggregate
    overhead costs more than the duplicated hashing saves at any
    per-doc vocabulary this corpus reaches. On a corpus whose docs
    share a huge global vocabulary but have LONG per-doc token lists
    the join form wins; the fold is the right local shape and the
    join variant is one measured refactor away.
    """
    # One SHA-256 per DISTINCT token per doc (not per occurrence —
    # occurrences of the same token vote identically, so their votes
    # are the per-token contribution TIMES the in-row count; ~3.5x
    # fewer hashes and fold steps on this corpus, bit-identical
    # signatures). Each hex char is decoded to its digit ONCE (16
    # substring+instr per token), then expanded to four +/-1 bit votes
    # with integer arithmetic; the per-bit lambda never hashes
    # (inlining sha2 there costs 64x).
    digits = (
        "transform(sequence(1, 16),"
        " i -> instr('0123456789abcdef', substring(s.h, i, 1)) - 1)"
    )
    contrib = (
        f"flatten(transform({digits}, d -> array("
        " 2 * ((d div 8) % 2) - 1, 2 * ((d div 4) % 2) - 1,"
        " 2 * ((d div 2) % 2) - 1, 2 * (d % 2) - 1)))"
    )
    votes = F.expr(
        "aggregate("
        " transform(array_distinct(tokens), t -> struct("
        "   substring(sha2(t, 256), 1, 16) AS h,"
        "   size(filter(tokens, x -> x = t)) AS c)), "
        " transform(sequence(0, 63), b -> CAST(0 AS BIGINT)), "
        f" (acc, s) -> zip_with(acc, {contrib}, (x, y) -> x + y * s.c))"
    )
    sig = F.array_join(
        F.transform(votes, lambda v: F.when(v > 0, F.lit("1")).otherwise(F.lit("0"))),
        "",
    )
    return corpus.select("doc_id", sig.alias("sig"))


@query(
    "dedup_simhash",
    oracle=f"""
    WITH {SQL_CORPUS}, {_SQL_TOKEN_BITS}, {_SQL_SIMHASH},
    chunks AS (
      SELECT doc_id, sig, c AS chunk_id, substring(sig, c * 16 + 1, 16) AS chunk
      FROM simhash, unnest(generate_series(0, {SIMHASH_CHUNKS - 1})) AS t(c)
    ),
    kept AS (
      SELECT chunk_id, chunk FROM chunks
      GROUP BY chunk_id, chunk HAVING COUNT(*) <= {SIMHASH_BUCKET_CAP}
    ),
    cand AS (
      SELECT DISTINCT c1.doc_id AS doc_a, c2.doc_id AS doc_b,
             c1.sig AS sig_a, c2.sig AS sig_b
      FROM chunks c1
      JOIN kept k ON c1.chunk_id = k.chunk_id AND c1.chunk = k.chunk
      JOIN chunks c2
        ON c1.chunk_id = c2.chunk_id AND c1.chunk = c2.chunk
           AND c1.doc_id < c2.doc_id
    )
    SELECT doc_a, doc_b,
      len(list_filter(generate_series(1, 64),
          i -> substring(sig_a, i, 1) <> substring(sig_b, i, 1))) AS hamming
    FROM cand
    WHERE len(list_filter(generate_series(1, 64),
          i -> substring(sig_a, i, 1) <> substring(sig_b, i, 1)))
          <= {SIMHASH_MAX_HAMMING}
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return _simhash_pairs(docs)


def _simhash_pairs(docs: DataFrame) -> DataFrame:
    """SimHash near-dup pairs, bucket-capped (round-9).

    Pair generation mirrors the jaccard shape: group each
    (chunk_id, chunk) bucket's members and emit the i<j combinations
    IN-ROW — one groupBy on the bucket key replaces the
    chunk-frame self-join (the r8 plan shuffled the chunk frame twice
    and measured exponent 1.35 on the low-entropy synthetic corpus).

    ``SIMHASH_BUCKET_CAP`` bounds every bucket's fan-out at
    cap*(cap-1)/2 pairs — the simhash analogue of MAX_SHINGLE_DF. A
    bucket past the cap is SKIPPED (its members can still pair via
    their other chunks); skipped-bucket counts are
    counted eagerly and reported loudly via ``warnings.warn`` plus the
    module-level ``LAST_SIMHASH_BUCKET_OVERFLOW`` (test hook), so a
    pathological corpus degrades recall measurably instead of
    exploding the pair frame. Cap sizing: fixture max bucket is 32 at
    sf0.01 / 290 at sf0.1 (cap never binds -> results unchanged);
    the synthetic sf1 corpus has 12 buckets over 512 (max 1425, i.e.
    ~1M pairs from one bucket uncapped)."""
    global LAST_SIMHASH_BUCKET_OVERFLOW
    import warnings

    sigs = _simhash(tokenized_corpus(docs))
    chunks = sigs.select(
        "doc_id",
        "sig",
        F.explode(F.sequence(F.lit(0), F.lit(SIMHASH_CHUNKS - 1))).alias("chunk_id"),
    ).select(
        "doc_id",
        "sig",
        "chunk_id",
        F.expr("substring(sig, chunk_id * 16 + 1, 16)").alias("chunk"),
    )
    # cached: read once for the overflow count, once for the pairs
    buckets = (
        chunks.groupBy("chunk_id", "chunk")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("doc_id", "sig"))
            ).alias("members")
        )
        .cache()
    )
    overflow = buckets.filter(F.size("members") > SIMHASH_BUCKET_CAP).count()
    LAST_SIMHASH_BUCKET_OVERFLOW = overflow
    if overflow:
        warnings.warn(
            f"dedup_simhash: {overflow} chunk bucket(s) exceed "
            f"SIMHASH_BUCKET_CAP={SIMHASH_BUCKET_CAP} and were skipped "
            "(low-entropy corpus); near-dup recall degrades for their "
            "members — raise the cap or add chunks if this is expected "
            "data, not replication",
            stacklevel=2,
        )
    pairs = (
        buckets.filter(F.size("members") <= SIMHASH_BUCKET_CAP)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(members, (x, i) ->"
                    " transform(slice(members, i + 2, size(members) - i - 1),"
                    "           y -> struct(x.doc_id AS doc_a, y.doc_id AS doc_b,"
                    "                       x.sig AS sig_a, y.sig AS sig_b))))"
                )
            ).alias("p")
        )
        .select("p.doc_a", "p.doc_b", "p.sig_a", "p.sig_b")
        .distinct()
    )
    # Hamming distance via bit arithmetic (round-13 optimization): the
    # '0'/'1' signature strings convert chunk-wise (16 bits, so conv's
    # BIGINT cast can never overflow) and XOR + bit_count counts the
    # differing positions — 8 conv + 4 bit_count per pair instead of a
    # 64-element higher-order filter with 128 substring calls. Same
    # integer count, bit for bit.
    hamming = F.expr(
        " + ".join(
            f"bit_count(CAST(conv(substring(sig_a, {16 * j + 1}, 16), 2, 10) AS BIGINT)"
            f" ^ CAST(conv(substring(sig_b, {16 * j + 1}, 16), 2, 10) AS BIGINT))"
            for j in range(SIMHASH_BITS // 16)
        )
    )
    return (
        pairs.withColumn("hamming", hamming.cast("bigint"))
        .filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)
        .select("doc_a", "doc_b", "hamming")
    )


# ---------------------------------------------------------------------------
# Cross-detector consensus: pairs flagged by BOTH the Jaccard and the
# MinHash-LSH detectors. Composing detectors is how production dedup
# curbs each detector's false positives; relationally it is just an
# equi-join of the two pair sets (the oracle composes the two
# detectors' SQL verbatim as CTEs).
# ---------------------------------------------------------------------------
def _consensus_oracle() -> str:
    from clickhouse_batcher_spark.catalog import ORACLES

    j = ORACLES["dedup_ngram_jaccard"]
    m = ORACLES["dedup_minhash_lsh"]
    return (
        f"WITH j AS ({j}), m AS ({m}) "
        "SELECT j.doc_a, j.doc_b, j.jaccard FROM j "
        "JOIN m ON m.doc_a = j.doc_a AND m.doc_b = j.doc_b"
    )


@query("dedup_consensus", oracle=None)
def dedup_consensus(spark: SparkSession, sf_dir: str) -> DataFrame:
    jac = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b", "jaccard")
    mh = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    return jac.join(mh, ["doc_a", "doc_b"])


# register the composed oracle after both components exist
from clickhouse_batcher_spark.catalog import ORACLES as _ORACLES  # noqa: E402

_ORACLES["dedup_consensus"] = " ".join(_consensus_oracle().split())


# ---------------------------------------------------------------------------
# Exact-substring span dedup (the Lee et al. 2021 "Deduplicating
# Training Data Makes Language Models Better" family): flag every
# position whose SPAN_K-token gram also occurs in ANOTHER document,
# and report per-doc coverage of the flagged spans. Unlike the
# near-dup detectors above, this one never forms document PAIRS at
# all: the only shuffles are a groupBy on the gram (map-side combined
# count-distinct), an equi-join of the gram stream against the
# repeated-gram set (output <= one row per input gram, hot grams
# included -- no quadratic term anywhere), and the per-doc coverage
# aggregation. That makes it the cheapest cross-doc dedup signal in
# the module and the one you run FIRST at 100 TB.
# ---------------------------------------------------------------------------
SPAN_K = 8  # tokens per exact-match span


@query(
    "repeated_span_stats",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {SQL_TOKENS} AS tokens FROM documents
    ), grams AS (
      SELECT doc_id, i AS pos,
             array_to_string(tokens[i:i+{SPAN_K}-1], ' ') AS gram
      FROM toks, unnest(generate_series(1, len(tokens)-{SPAN_K}+1)) AS t(i)
      WHERE len(tokens) >= {SPAN_K}
    ), rep AS (
      SELECT gram FROM grams GROUP BY gram
      HAVING COUNT(DISTINCT doc_id) >= 2
    ), flagged AS (
      SELECT g.doc_id, g.pos FROM grams g JOIN rep USING (gram)
    ), coverage AS (
      SELECT doc_id, COUNT(DISTINCT tok_idx) AS covered_tokens
      FROM (SELECT doc_id, unnest(generate_series(pos, pos+{SPAN_K}-1))
                   AS tok_idx FROM flagged)
      GROUP BY doc_id
    ), per_doc AS (
      SELECT doc_id, COUNT(*) AS n_flagged FROM flagged GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(len(t.tokens) AS BIGINT) AS n_tokens,
           CAST(GREATEST(len(t.tokens) - {SPAN_K} + 1, 0) AS BIGINT)
             AS n_grams,
           CAST(COALESCE(p.n_flagged, 0) AS BIGINT) AS n_repeated_positions,
           CAST(COALESCE(c.covered_tokens, 0) AS BIGINT) AS covered_tokens,
           COALESCE(c.covered_tokens, 0) / CAST(len(t.tokens) AS DOUBLE)
             AS coverage
    FROM toks t
    LEFT JOIN per_doc p ON p.doc_id = t.doc_id
    LEFT JOIN coverage c ON c.doc_id = t.doc_id
    """,
)
def repeated_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document exact-substring dedup signal: how much of the doc
    is covered by SPAN_K-token grams that also appear verbatim in at
    least one other document.

    Output: (doc_id, n_tokens, n_grams, n_repeated_positions,
    covered_tokens, coverage). ``coverage`` is the union of flagged
    [pos, pos+K-1] intervals over n_tokens -- interval union computed
    relationally as COUNT(DISTINCT covered token index), so both
    engines agree exactly.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens("text").alias("tokens"))
    k = SPAN_K
    mk = F.transform(
        F.sequence(F.lit(1), F.size("tokens") - (k - 1)),
        lambda i: F.concat_ws(
            " ", *[F.element_at("tokens", (i + j).cast("int")) for j in range(k)]
        ),
    )
    grams = (
        toks.filter(F.size("tokens") >= k)
        .select("doc_id", F.posexplode(mk).alias("pos0", "gram"))
        .select("doc_id", (F.col("pos0") + 1).alias("pos"), "gram")
    )
    # Single-pass flagging (round-13 optimization): the original shape
    # (groupBy(gram) -> HAVING -> join back on gram) referenced the
    # gram-generation subtree twice and the flagged frame twice more —
    # the 8-token concat explode ran ~3x per query. "gram appears in
    # >= 2 distinct docs" is equivalent to min(doc_id) != max(doc_id)
    # over the gram's partition, so ONE window over ONE exchange on
    # gram flags positions in place (no join, no second gram scan).
    wg = Window.partitionBy("gram")
    flagged = (
        grams.withColumn(
            "_rep",
            F.min("doc_id").over(wg) != F.max("doc_id").over(wg),
        )
        .filter(F.col("_rep"))
        .select("doc_id", "pos")
    )
    # n_flagged and the interval-union coverage come out of ONE
    # aggregation: positions are unique per doc, so n_flagged =
    # COUNT(DISTINCT pos), and covered_tokens = COUNT(DISTINCT tok_idx)
    # over the exploded [pos, pos+k-1] windows.
    per_doc = (
        flagged.select(
            "doc_id",
            "pos",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + (k - 1))
            ).alias("tok_idx"),
        )
        .groupBy("doc_id")
        .agg(
            F.countDistinct("pos").alias("n_flagged"),
            F.countDistinct("tok_idx").alias("covered_tokens"),
        )
    )
    return (
        toks.select("doc_id", F.size("tokens").cast("bigint").alias("n_tokens"))
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.greatest(
                F.col("n_tokens") - (k - 1), F.lit(0).cast("bigint")
            ).alias("n_grams"),
            F.coalesce(F.col("n_flagged"), F.lit(0)).cast("bigint").alias(
                "n_repeated_positions"
            ),
            F.coalesce(F.col("covered_tokens"), F.lit(0)).cast("bigint").alias(
                "covered_tokens"
            ),
            (
                F.coalesce(F.col("covered_tokens"), F.lit(0))
                / F.col("n_tokens").cast("double")
            ).alias("coverage"),
        )
    )


# ---------------------------------------------------------------------------
# Canonical-document selection (round-5): the finishing policy of a
# near-dup pipeline — from every detected near-dup PAIR, keep the
# better document and drop the dominated one. "Better" is a total
# order (more tokens, then lower doc_id), so the kept set is unique
# and engine-independent. Pairwise domination (not transitive-closure
# clustering) keeps the operator fully relational and oracle-exact:
# the pair list is the (bounded) LSH output, dropping is one
# both-directions join + anti-join — no iteration, no driver state.
# The clustering variant (one survivor per connected component) lives
# in operators/cluster.py as the rows-only iterative op.
# ---------------------------------------------------------------------------


def _keep_canonical_oracle() -> str:
    from clickhouse_batcher_spark.catalog import ORACLES

    mh = ORACLES["dedup_minhash_lsh"]
    return f"""
    WITH mh AS ({mh}), {SQL_CORPUS},
    nt AS (SELECT doc_id, len(tokens) AS n_tokens FROM corpus),
    edges AS (
      SELECT doc_a AS x, doc_b AS y FROM mh
      UNION ALL
      SELECT doc_b AS x, doc_a AS y FROM mh
    ), dominated AS (
      SELECT DISTINCT e.x AS doc_id
      FROM edges e
      JOIN nt ax ON ax.doc_id = e.x
      JOIN nt ay ON ay.doc_id = e.y
      WHERE ay.n_tokens > ax.n_tokens
         OR (ay.n_tokens = ax.n_tokens AND e.y < e.x)
    ), partners AS (
      SELECT x AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_partners
      FROM edges GROUP BY 1
    )
    SELECT n.doc_id, CAST(n.n_tokens AS BIGINT) AS n_tokens,
           COALESCE(p.n_partners, 0) AS n_partners
    FROM nt n
    LEFT JOIN partners p ON p.doc_id = n.doc_id
    WHERE n.doc_id NOT IN (SELECT doc_id FROM dominated)
    """


@query("dedup_keep_canonical", oracle=None)  # composed below
def dedup_keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The kept (canonical) corpus after pairwise near-dup domination:
    (doc_id, n_tokens, n_partners) for every corpus entry not
    dominated by a longer / lower-id near-dup partner."""
    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    docs = load_table(spark, sf_dir, "documents")
    nt = tokenized_corpus(docs).select(
        "doc_id", F.size("tokens").cast("bigint").alias("n_tokens")
    )
    # Orient each pair both ways with ONE pass over the pair frame (an
    # explode, not a union of two plan references). Measured neutral at
    # sf0.1 (AQE's ReusedExchange already deduplicated the LSH subtree)
    # but the single-reference shape doesn't DEPEND on exchange reuse
    # firing — on a plan where the reuse misses (different partitioning
    # downstream), the union form recomputes the entire LSH pipeline
    # per branch.
    edges = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("doc_a").alias("x"), F.col("doc_b").alias("y")
                ),
                F.struct(
                    F.col("doc_b").alias("x"), F.col("doc_a").alias("y")
                ),
            )
        ).alias("e")
    ).select(F.col("e.x").alias("x"), F.col("e.y").alias("y"))
    ax = nt.select(F.col("doc_id").alias("x"), F.col("n_tokens").alias("nx"))
    ay = nt.select(F.col("doc_id").alias("y"), F.col("n_tokens").alias("ny"))
    # Single aggregation derives BOTH the domination flag and the
    # partner count, so the edge frame (and the LSH pipeline feeding
    # it) is consumed exactly once.
    per_x = (
        edges.join(ax, "x")
        .join(ay, "y")
        .groupBy(F.col("x").alias("doc_id"))
        .agg(
            F.count(F.lit(1)).alias("n_partners"),
            F.max(
                F.when(
                    (F.col("ny") > F.col("nx"))
                    | ((F.col("ny") == F.col("nx")) & (F.col("y") < F.col("x"))),
                    1,
                ).otherwise(0)
            ).alias("dominated"),
        )
    )
    return (
        nt.join(per_x, "doc_id", "left")
        .filter(F.coalesce(F.col("dominated"), F.lit(0)) == 0)
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce(F.col("n_partners"), F.lit(0))
            .cast("bigint")
            .alias("n_partners"),
        )
    )


from clickhouse_batcher_spark.catalog import ORACLES as _DD_ORACLES  # noqa: E402

_DD_ORACLES["dedup_keep_canonical"] = " ".join(_keep_canonical_oracle().split())


# ---------------------------------------------------------------------------
# Line-level exact dedup (round-5 third session): the C4-style span
# cleanup at a fixed-granularity unit — non-overlapping 10-token
# "lines" (this corpus has no sentence punctuation, so the span unit
# is token-count-defined; a punctuated corpus would split on
# sentences with the same plan). Finer than doc-level
# `dedup_exact_docs`, coarser and cheaper than the sliding
# token-k-gram `repeated_span_stats`: one explode of |tokens|/10 rows
# per doc, one span-frequency groupBy, one per-doc rollup.
# ---------------------------------------------------------------------------

SPAN_LINE_TOKENS = 10


def _doc_tokens(docs: DataFrame) -> DataFrame:
    """(doc_id, ts): lowercase whitespace tokens — the ONE
    tokenization every span-level operator shares (a drift here would
    silently desynchronize the span queries from each other)."""
    return docs.select(
        "doc_id",
        F.filter(
            F.split(F.lower("text"), r"\s+"), lambda t: t != ""
        ).alias("ts"),
    )


def _doc_spans(docs: DataFrame) -> DataFrame:
    """(doc_id, span): the exploded nonempty ``SPAN_LINE_TOKENS``-token
    span relation shared by ``duplicate_line_ratio`` and
    ``boilerplate_spans_top`` (``dedup_lines_transform`` keeps spans
    in-row — its zero-shuffle shape — but shares ``_doc_tokens``)."""
    k = SPAN_LINE_TOKENS
    return (
        _doc_tokens(docs)
        .select(
            "doc_id",
            "ts",
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.ceil(F.size("ts") / k).cast("bigint") - 1,
                )
            ).alias("i"),
        )
        .select(
            "doc_id",
            F.concat_ws(
                " ", F.slice(F.col("ts"), F.col("i") * k + 1, k)
            ).alias("span"),
        )
        .filter(F.col("span") != "")
    )


@query(
    "duplicate_line_ratio",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
        list_filter(string_split_regex(lower(text), '\\s+'),
                    t -> t <> '') AS ts
      FROM documents
    ), spans AS (
      SELECT doc_id,
        array_to_string(
          ts[i * {SPAN_LINE_TOKENS} + 1 : i * {SPAN_LINE_TOKENS}
             + {SPAN_LINE_TOKENS}], ' ') AS span
      FROM toks,
           unnest(range(0, CAST(ceil(len(ts) / {SPAN_LINE_TOKENS}.0)
                              AS BIGINT))) AS t(i)
    ), nonempty AS (
      SELECT doc_id, span FROM spans WHERE span <> ''
    ), freq AS (
      SELECT span, COUNT(DISTINCT doc_id) AS n_docs_with
      FROM nonempty GROUP BY span
    )
    SELECT nonempty.doc_id,
      CAST(COUNT(*) AS BIGINT) AS n_spans,
      CAST(COUNT(CASE WHEN n_docs_with > 1 THEN 1 END) AS BIGINT)
        AS n_shared,
      round(CAST(COUNT(CASE WHEN n_docs_with > 1 THEN 1 END) AS DOUBLE)
            / COUNT(*), 6) AS shared_ratio
    FROM nonempty JOIN freq ON freq.span = nonempty.span
    GROUP BY nonempty.doc_id
    """,
)
def duplicate_line_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per document: total 10-token lines, lines shared verbatim with
    at least one OTHER document, and the shared ratio — the span-level
    dedup signal real corpus cleanups act on (drop or trim documents
    whose content is mostly syndicated boilerplate).

    The frequency side counts DISTINCT docs per line so within-doc
    repetition (`docs_repetition_signals`' domain) does not count as
    cross-doc sharing. The line-hash shuffle is the only wide stage;
    the shingle pipeline's document-frequency cap applies unchanged at
    100 TB.
    """
    docs = load_table(spark, sf_dir, "documents")
    spans = _doc_spans(docs)
    freq = spans.groupBy("span").agg(
        F.countDistinct("doc_id").alias("n_docs_with")
    )
    shared = F.count(F.when(F.col("n_docs_with") > 1, 1))
    return (
        spans.join(freq, "span")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_spans"),
            shared.cast("bigint").alias("n_shared"),
            F.round(
                shared.cast("double") / F.count(F.lit(1)), 6
            ).alias("shared_ratio"),
        )
    )


# ---------------------------------------------------------------------------
# Shingle containment (round-5 third session): the asymmetric
# near-dup measure — containment(A in B) = |A∩B| / |A| — which
# catches a SMALL document quoted wholesale inside a big one, the
# case symmetric Jaccard structurally misses (a 50-shingle doc inside
# a 5000-shingle doc has Jaccard <= 0.01 but containment 1.0). Same
# rare-shingle candidate machinery and DF cap as the Jaccard pass;
# only the normalization differs, and each unordered candidate pair
# emits up to two directed rows.
# ---------------------------------------------------------------------------

CONTAINMENT_THRESHOLD = 0.8


@query(
    "dedup_containment_pairs",
    oracle=f"""
    WITH {SQL_CORPUS}, {SQL_SHINGLES}, {SQL_SIZES},
    rare AS (
      SELECT shingle FROM shingles GROUP BY shingle
      HAVING COUNT(*) <= {MAX_SHINGLE_DF}
    ),
    cand AS (
      SELECT s1.doc_id AS doc_a, s2.doc_id AS doc_b, COUNT(*) AS shared
      FROM shingles s1
      JOIN rare r ON s1.shingle = r.shingle
      JOIN shingles s2 ON s1.shingle = s2.shingle AND s1.doc_id < s2.doc_id
      GROUP BY 1, 2
    ), directed AS (
      SELECT doc_a AS contained, doc_b AS container, shared,
             sa.n AS n_contained
      FROM cand JOIN sizes sa ON sa.doc_id = doc_a
      UNION ALL
      SELECT doc_b AS contained, doc_a AS container, shared,
             sb.n AS n_contained
      FROM cand JOIN sizes sb ON sb.doc_id = doc_b
    )
    SELECT contained, container,
      CAST(shared AS BIGINT) AS shared,
      CAST(n_contained AS BIGINT) AS n_contained,
      round(CAST(shared AS DOUBLE) / n_contained, 6) AS containment
    FROM directed
    WHERE CAST(shared AS DOUBLE) / n_contained >= {CONTAINMENT_THRESHOLD}
    """,
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed near-dup pairs by shingle containment >=
    {CONTAINMENT_THRESHOLD}: (contained, container) where the
    contained doc's shingles are mostly inside the container's — the
    quote/excerpt detector symmetric Jaccard misses.

    Candidates come from the same rare-shingle pair generation as
    `dedup_ngram_jaccard` (in-row combinations, DF-capped fan-out);
    each unordered pair then normalizes by EITHER side's size,
    emitting up to two directed rows.
    """
    shingles = _shingles_cached(spark, sf_dir)
    sizes = _doc_sizes(spark, sf_dir)
    doc_lists = (
        shingles.groupBy("shingle")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("docs"))
        .filter(F.size("docs") <= MAX_SHINGLE_DF)
    )
    pairs = doc_lists.select(
        F.explode(
            F.expr(
                "flatten(transform(docs, (x, i) ->"
                " transform(slice(docs, i + 2, size(docs) - i - 1),"
                "           y -> struct(x AS doc_a, y AS doc_b))))"
            )
        ).alias("p")
    )
    cand = (
        pairs.select(
            F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b")
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    # Orient each pair both ways with ONE pass over the candidate
    # frame (an explode, not a union of two plan references — the
    # union form recomputed the whole pair-generation subtree per
    # branch; same single-reference discipline as
    # dedup_keep_canonical), then normalize with a single sizes join
    # on the contained side.
    directed = cand.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("doc_a").alias("contained"),
                    F.col("doc_b").alias("container"),
                ),
                F.struct(
                    F.col("doc_b").alias("contained"),
                    F.col("doc_a").alias("container"),
                ),
            )
        ).alias("e"),
        "shared",
    ).select("e.contained", "e.container", "shared")
    directed = directed.join(
        sizes.select(
            F.col("doc_id").alias("contained"),
            F.col("n").alias("n_contained"),
        ),
        "contained",
    )
    c = F.col("shared").cast("double") / F.col("n_contained")
    return directed.filter(c >= CONTAINMENT_THRESHOLD).select(
        "contained",
        "container",
        F.col("shared").cast("bigint").alias("shared"),
        F.col("n_contained").cast("bigint").alias("n_contained"),
        F.round(c, 6).alias("containment"),
    )


# ---------------------------------------------------------------------------
# Cross-source duplication matrix: which sources syndicate each other?
# Near-dup pairs (MinHash-verified) labeled with each side's source,
# normalized to an unordered (source_a <= source_b) cell, counted.
# The standard corpus-curation report for deciding which feeds to
# drop or down-weight before training. Composes the minhash oracle
# verbatim, so the gate checks the WHOLE pipeline end-to-end.
#
# Scale: two equi-joins against the (doc_id, source) projection —
# keyed shuffles on doc id; the pair relation is already DF-capped by
# the LSH machinery, so no all-pairs risk is introduced here.
# ---------------------------------------------------------------------------
def _source_overlap_oracle() -> str:
    mh = _ORACLES["dedup_minhash_lsh"]
    return f"""
    WITH mh AS ({mh}),
    lab AS (
      SELECT da.source AS sa, db_.source AS sb
      FROM mh
      JOIN documents da ON da.doc_id = mh.doc_a
      JOIN documents db_ ON db_.doc_id = mh.doc_b
    )
    SELECT LEAST(sa, sb) AS source_a, GREATEST(sa, sb) AS source_b,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM lab GROUP BY 1, 2
    """


@query("source_overlap_matrix", oracle=None)
def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    lab = (
        pairs.join(
            docs.select(
                F.col("doc_id").alias("doc_a"), F.col("source").alias("sa")
            ),
            "doc_a",
        ).join(
            docs.select(
                F.col("doc_id").alias("doc_b"), F.col("source").alias("sb")
            ),
            "doc_b",
        )
    )
    return (
        lab.select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    )


_ORACLES["source_overlap_matrix"] = " ".join(_source_overlap_oracle().split())


# ---------------------------------------------------------------------------
# Ingestion-order novelty: how much of each doc was already seen?
# ---------------------------------------------------------------------------
@query(
    "doc_novelty_ratio",
    oracle=f"""
    WITH {SQL_CORPUS}, {SQL_SHINGLES},
    firsts AS (
      SELECT shingle, MIN(doc_id) AS first_doc FROM shingles GROUP BY shingle
    )
    SELECT s.doc_id,
           COUNT(*) AS n_shingles,
           CAST(SUM(CASE WHEN f.first_doc < s.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_seen_before,
           CAST(COUNT(*) - SUM(CASE WHEN f.first_doc < s.doc_id
                                    THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS novelty_ratio
    FROM shingles s JOIN firsts f ON f.shingle = s.shingle
    GROUP BY s.doc_id
    """,
)
def doc_novelty_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per document (ingestion order = doc_id): how many of its
    distinct shingles first occurred in an EARLIER document, and the
    novelty ratio (fraction this doc introduced). The curation
    diagnostic behind "dedup before you train": a corpus whose novelty
    curve collapses is re-serving old content. Twins (the shared
    corpus construction) read as later near-copies and score near-zero
    novelty — the expected signature.

    Two map-side-combinable shuffles on the shingle key (first-seen
    min, then the occurrence join) and one on doc_id; no doc pairs are
    ever formed, so the shape survives 100 TB unchanged — the hot-key
    concern is shared with every shingle op and the same document-
    frequency cap applies upstream if needed.
    """
    sh = _shingles_cached(spark, sf_dir)
    # first-seen doc per shingle as a window over the shingle
    # partition (round-13): the groupBy + self-join form shuffled the
    # shingle relation twice (aggregate exchange + join exchange);
    # min() over the partition attaches first_doc in place with ONE
    # exchange on shingle — identical values row for row.
    ws = Window.partitionBy("shingle")
    return (
        sh.withColumn("first_doc", F.min("doc_id").over(ws))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum((F.col("first_doc") < F.col("doc_id")).cast("long")).alias(
                "n_seen_before"
            ),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_seen_before",
            (
                (F.col("n_shingles") - F.col("n_seen_before")).cast("double")
                / F.col("n_shingles")
            ).alias("novelty_ratio"),
        )
    )


TOP_BOILERPLATE = 20


@query(
    "boilerplate_spans_top",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
        list_filter(string_split_regex(lower(text), '\\s+'),
                    t -> t <> '') AS ts
      FROM documents
    ), spans AS (
      SELECT doc_id,
        array_to_string(
          ts[i * {SPAN_LINE_TOKENS} + 1 : i * {SPAN_LINE_TOKENS}
             + {SPAN_LINE_TOKENS}], ' ') AS span
      FROM toks,
           unnest(range(0, CAST(ceil(len(ts) / {SPAN_LINE_TOKENS}.0)
                              AS BIGINT))) AS t(i)
    ), nonempty AS (
      SELECT doc_id, span FROM spans WHERE span <> ''
    ), freq AS (
      SELECT span, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
             MIN(doc_id) AS first_doc
      FROM nonempty GROUP BY span
    )
    SELECT span, n_docs, first_doc FROM freq WHERE n_docs > 1
    ORDER BY n_docs DESC, span LIMIT {TOP_BOILERPLATE}
    """,
)
def boilerplate_spans_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The most-syndicated 10-token lines in the corpus (doc count +
    first carrier) — the report a curation pass reads before writing
    boilerplate strip rules. Same span relation as
    ``duplicate_line_ratio``; one combinable span-key aggregate, then
    TakeOrdered for the top slice (never a global sort)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        _doc_spans(docs)
        .groupBy("span")
        .agg(
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
        )
        .filter(F.col("n_docs") > 1)
        .orderBy(F.col("n_docs").desc(), "span")
        .limit(TOP_BOILERPLATE)
    )


@query(
    "dedup_lines_transform",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
        list_filter(string_split_regex(lower(text), '\\s+'),
                    t -> t <> '') AS ts
      FROM documents
    ), spanned AS (
      SELECT doc_id,
        list_filter(
          list_transform(
            range(0, CAST(ceil(len(ts) / {SPAN_LINE_TOKENS}.0)
                          AS BIGINT)),
            i -> array_to_string(
                   ts[i * {SPAN_LINE_TOKENS} + 1 :
                      i * {SPAN_LINE_TOKENS} + {SPAN_LINE_TOKENS}],
                   ' ')),
          s -> s <> '') AS spans
      FROM toks
    ), cleaned AS (
      SELECT doc_id, spans,
        list_filter(spans,
                    (x, i) -> list_position(spans, x) = i) AS kept
      FROM spanned
    )
    SELECT doc_id,
      CAST(len(spans) AS BIGINT) AS n_spans,
      CAST(len(kept) AS BIGINT) AS n_kept,
      sha256(array_to_string(kept, ' ')) AS cleaned_sha256
    FROM cleaned
    """,
)
def dedup_lines_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document span dedup as a TRANSFORM (the rewrite step the
    C4/Lee-et-al. cleanups apply, where `duplicate_line_ratio` and
    `repeated_span_stats` only report): each document keeps the FIRST
    occurrence of every repeated {SPAN_LINE_TOKENS}-token span, in
    original order, and the cleaned text travels as its sha256 (the
    repo's text-identity convention).

    Keep-first-in-order dedup is a pure in-row array pipeline —
    ``filter(spans, (x, i) -> array_position(spans, x) = i + 1)`` —
    zero shuffles, O(spans² per doc) bounded by document length
    (the `docs_repetition_signals` trade, documented there). Spark's
    lambda index is 0-based where DuckDB's is 1-based; the two
    predicates are aligned accordingly.
    """
    docs = load_table(spark, sf_dir, "documents")
    k = SPAN_LINE_TOKENS
    spanned = _doc_tokens(docs).select(
        "doc_id",
        F.filter(
            F.transform(
                F.sequence(
                    F.lit(0),
                    F.ceil(F.size("ts") / F.lit(float(k))).cast("int")
                    - F.lit(1),
                ),
                lambda i: F.array_join(
                    F.slice(F.col("ts"), i * k + 1, k), " "
                ),
            ),
            lambda s: s != "",
        ).alias("spans"),
    )
    cleaned = spanned.select(
        "doc_id",
        "spans",
        F.filter(
            F.col("spans"),
            lambda x, i: F.array_position(F.col("spans"), x) == i + 1,
        ).alias("kept"),
    )
    return cleaned.select(
        "doc_id",
        F.size("spans").cast("bigint").alias("n_spans"),
        F.size("kept").cast("bigint").alias("n_kept"),
        F.sha2(F.array_join("kept", " "), 256).alias("cleaned_sha256"),
    )


# ---------------------------------------------------------------------------
# Threshold sweep over the verified near-dup pairs (tuning table)
# ---------------------------------------------------------------------------
SWEEP_THRESHOLDS = (0.5, 0.6, 0.7, 0.8, 0.9)


def _threshold_sweep_oracle() -> str:
    mh = _ORACLES["dedup_minhash_lsh"]
    ths = ", ".join(str(t) for t in SWEEP_THRESHOLDS)
    return f"""
    WITH mh AS ({mh}),
    th AS (SELECT unnest([{ths}]) AS threshold),
    f AS (
      SELECT th.threshold, mh.doc_a, mh.doc_b
      FROM mh JOIN th ON mh.jaccard >= th.threshold
    ),
    p AS (
      SELECT threshold, CAST(COUNT(*) AS BIGINT) AS n_pairs
      FROM f GROUP BY 1
    ),
    d AS (
      SELECT threshold, CAST(COUNT(DISTINCT doc) AS BIGINT) AS n_docs
      FROM (SELECT threshold, unnest([doc_a, doc_b]) AS doc FROM f)
      GROUP BY 1
    )
    SELECT p.threshold, p.n_pairs, d.n_docs
    FROM p JOIN d ON d.threshold = p.threshold
    """


@query("dedup_threshold_sweep")  # oracle composed below
def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup tuning table: for each candidate Jaccard cutoff, how many
    verified near-dup pairs survive and how many documents they touch.

    The decision a pipeline owner actually makes is "which threshold?"
    — this renders the trade-off (pairs removed vs corpus touched) as
    one table before committing a cutoff. Composes the memoized
    verified-pair frame (exact integer-ratio Jaccard), so the sweep
    itself is a 5x broadcast fan-out + two map-side-combinable
    aggregates over the pair set — pair-set-sized work, never
    corpus-sized, at any scale.
    """
    pairs = minhash_pairs_cached(spark, sf_dir)
    ths = F.explode(
        F.array(*[F.lit(float(t)) for t in SWEEP_THRESHOLDS])
    ).alias("threshold")
    th = spark.range(1).select(ths)
    f = pairs.join(
        F.broadcast(th), F.col("jaccard") >= F.col("threshold")
    ).select("threshold", "doc_a", "doc_b")
    p = f.groupBy("threshold").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs")
    )
    d = (
        f.select(
            "threshold",
            F.explode(F.array(F.col("doc_a"), F.col("doc_b"))).alias("doc"),
        )
        .groupBy("threshold")
        .agg(F.countDistinct("doc").cast("bigint").alias("n_docs"))
    )
    return p.join(d, "threshold")


_ORACLES["dedup_threshold_sweep"] = " ".join(_threshold_sweep_oracle().split())


# ---------------------------------------------------------------------------
# Cross-document span rewrite (ExactSubstr-style)
# ---------------------------------------------------------------------------
SPAN_REWRITE_K = 5  # tokens per marked span (Lee et al. use 50 BPE
# tokens at web scale; 5 keeps the synthetic corpus's removal rate
# informative)


@query(
    "dedup_span_rewrite",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
        list_filter(string_split_regex(lower(text), '\\s+'),
                    t -> t <> '') AS ts
      FROM documents
    ), shp AS (
      SELECT doc_id, g.i AS pos,
        array_to_string(ts[g.i : g.i + {SPAN_REWRITE_K - 1}], ' ') AS sh
      FROM toks,
        unnest(generate_series(1, len(ts) - {SPAN_REWRITE_K - 1}))
          AS g(i)
      WHERE len(ts) >= {SPAN_REWRITE_K}
    ), dup AS (
      SELECT sh FROM shp GROUP BY sh
      HAVING COUNT(DISTINCT doc_id) >= 2
    ), cov AS (
      SELECT DISTINCT s.doc_id, u.p
      FROM shp s JOIN dup USING (sh),
        unnest(generate_series(s.pos, s.pos + {SPAN_REWRITE_K - 1}))
          AS u(p)
    ), pos AS (
      SELECT doc_id, g.i AS i, ts[g.i] AS tok
      FROM toks, unnest(generate_series(1, len(ts))) AS g(i)
    ), kept AS (
      SELECT p.doc_id,
        string_agg(p.tok, ' ' ORDER BY p.i) AS clean_text
      FROM pos p
      LEFT JOIN cov c ON c.doc_id = p.doc_id AND c.p = p.i
      WHERE c.p IS NULL
      GROUP BY p.doc_id
    ), covn AS (
      SELECT doc_id, COUNT(*) AS n_cov FROM cov GROUP BY doc_id
    )
    SELECT t.doc_id,
      CAST(len(t.ts) AS BIGINT) AS n_tokens,
      CAST(COALESCE(covn.n_cov, 0) AS BIGINT) AS n_removed,
      sha256(COALESCE(kept.clean_text, '')) AS cleaned_sha256
    FROM toks t
    LEFT JOIN kept ON kept.doc_id = t.doc_id
    LEFT JOIN covn ON covn.doc_id = t.doc_id
    """,
)
def dedup_span_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-document span dedup as a TRANSFORM — the ExactSubstr
    cleanup of Lee et al. 2022 ("Deduplicating Training Data Makes
    Language Models Better"), where `dedup_lines_transform` rewrites
    only WITHIN a document and `boilerplate_spans_top` only reports:
    every {SPAN_REWRITE_K}-token span that occurs in two or more
    DISTINCT documents is removed from all of them, and each document
    ships back as (n_tokens, n_removed, sha256(cleaned text) — the
    repo's text-identity convention).

    Scale shape (the reason ExactSubstr is tractable where pair
    enumeration is not): MARKING is linear — one positional shingle
    explode (token-linear), one shingle-keyed aggregate for the
    distinct-doc count, one equi-join back to occurrences (linear in
    occurrences — a shingle shared by a million docs marks a million
    positions but never forms pairs), one doc-keyed aggregate
    collecting covered positions. The per-doc rewrite is in-row array
    arithmetic: covered position set via flatten+array_distinct, kept
    tokens via an index-aware transform (the 0-based lambda index is
    deliberate — array_contains checks i + 1 against the 1-based
    positions). O(len * covered) membership per doc is bounded by
    document length, the same trade `docs_repetition_signals`
    documents; book-length docs flip to a sorted-merge via
    array_sort + a fold.

    The suffix-array machinery of the paper finds VARIABLE-length
    maximal repeats; fixed-K shingle marking covers every repeat of
    length >= K (any such repeat contains a K-shingle that also
    repeats... and marks slightly wider: the K-shingle's window). The
    fixed-K relaxation is what makes the operator a 3-shuffle
    DataFrame plan instead of a distributed suffix array.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens("text").alias("ts"))
    span = ", ".join(
        f"element_at(ts, CAST(i + {j} AS INT))"
        for j in range(SPAN_REWRITE_K)
    )
    mk = F.expr(
        f"transform(sequence(1, size(ts) - {SPAN_REWRITE_K - 1}), "
        f"i -> struct(i AS pos, concat_ws(' ', {span}) AS sh))"
    )
    shp = (
        toks.filter(F.size("ts") >= SPAN_REWRITE_K)
        .select("doc_id", F.explode(mk).alias("p"))
        .select("doc_id", F.col("p.pos").alias("pos"), F.col("p.sh").alias("sh"))
    )
    dup = (
        shp.groupBy("sh")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("sh")
    )
    cov = (
        shp.join(dup, "sh")
        .groupBy("doc_id")
        .agg(
            F.array_distinct(
                F.flatten(
                    F.collect_list(
                        F.expr(f"sequence(pos, pos + {SPAN_REWRITE_K - 1})")
                    )
                )
            ).alias("cov")
        )
    )
    joined = toks.join(cov, "doc_id", "left").select(
        "doc_id",
        "ts",
        F.coalesce(
            F.col("cov"), F.expr("CAST(array() AS ARRAY<INT>)")
        ).alias("cov"),
    )
    clean = F.expr(
        "array_join(filter(transform(ts, (t, i) -> "
        "IF(array_contains(cov, CAST(i + 1 AS INT)), NULL, t)), "
        "x -> x IS NOT NULL), ' ')"
    )
    return joined.select(
        "doc_id",
        F.size("ts").cast("bigint").alias("n_tokens"),
        F.size("cov").cast("bigint").alias("n_removed"),
        F.sha2(clean, 256).alias("cleaned_sha256"),
    )


@query(
    "span_dedup_savings_by_source",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
        list_filter(string_split_regex(lower(text), '\\s+'),
                    t -> t <> '') AS ts
      FROM documents
    ), shp AS (
      SELECT doc_id, g.i AS pos,
        array_to_string(ts[g.i : g.i + {SPAN_REWRITE_K - 1}], ' ') AS sh
      FROM toks,
        unnest(generate_series(1, len(ts) - {SPAN_REWRITE_K - 1}))
          AS g(i)
      WHERE len(ts) >= {SPAN_REWRITE_K}
    ), dup AS (
      SELECT sh FROM shp GROUP BY sh
      HAVING COUNT(DISTINCT doc_id) >= 2
    ), cov AS (
      SELECT DISTINCT s.doc_id, u.p
      FROM shp s JOIN dup USING (sh),
        unnest(generate_series(s.pos, s.pos + {SPAN_REWRITE_K - 1}))
          AS u(p)
    ), covn AS (
      SELECT doc_id, COUNT(*) AS n_cov FROM cov GROUP BY doc_id
    )
    SELECT d.source,
      CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(SUM(len(t.ts)) AS BIGINT) AS n_tokens,
      CAST(SUM(COALESCE(covn.n_cov, 0)) AS BIGINT) AS n_removed,
      CAST(SUM(CASE WHEN COALESCE(covn.n_cov, 0) = len(t.ts)
                    AND len(t.ts) > 0
               THEN 1 ELSE 0 END) AS BIGINT) AS n_emptied,
      CAST((SUM(COALESCE(covn.n_cov, 0)) * 1000000)
           // SUM(len(t.ts)) AS BIGINT) AS removed_ppm
    FROM documents d
    JOIN toks t ON t.doc_id = d.doc_id
    LEFT JOIN covn ON covn.doc_id = d.doc_id
    GROUP BY d.source
    """,
)
def span_dedup_savings_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The commit-or-not report for `dedup_span_rewrite`: per source,
    how many tokens the cross-document span cleanup would remove, and
    how many documents it would empty entirely — the two numbers a
    curation owner reads before applying the transform to a corpus
    slice (token savings vs docs destroyed).

    Same linear marking pipeline as `dedup_span_rewrite` (positional
    shingles -> distinct-doc-count filter -> occurrence join -> per-doc
    covered positions), then one source-keyed rollup; the removal
    ratio ships as integer parts-per-million (floor division on both
    engines) — cross-engine decimal division rounds differently at
    the last digit, integer arithmetic never does.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", "source", tokens("text").alias("ts"))
    span = ", ".join(
        f"element_at(ts, CAST(i + {j} AS INT))"
        for j in range(SPAN_REWRITE_K)
    )
    mk = F.expr(
        f"transform(sequence(1, size(ts) - {SPAN_REWRITE_K - 1}), "
        f"i -> struct(i AS pos, concat_ws(' ', {span}) AS sh))"
    )
    shp = (
        toks.filter(F.size("ts") >= SPAN_REWRITE_K)
        .select("doc_id", F.explode(mk).alias("p"))
        .select("doc_id", F.col("p.pos").alias("pos"), F.col("p.sh").alias("sh"))
    )
    dup = (
        shp.groupBy("sh")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("sh")
    )
    covn = (
        shp.join(dup, "sh")
        .groupBy("doc_id")
        .agg(
            F.size(
                F.array_distinct(
                    F.flatten(
                        F.collect_list(
                            F.expr(
                                f"sequence(pos, pos + {SPAN_REWRITE_K - 1})"
                            )
                        )
                    )
                )
            ).alias("n_cov")
        )
    )
    per_doc = toks.join(covn, "doc_id", "left").select(
        "source",
        F.size("ts").alias("n_toks"),
        F.coalesce(F.col("n_cov"), F.lit(0)).alias("n_cov"),
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_toks").cast("bigint").alias("n_tokens"),
        F.sum("n_cov").cast("bigint").alias("n_removed"),
        F.sum(
            F.when(
                (F.col("n_cov") == F.col("n_toks")) & (F.col("n_toks") > 0),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_emptied"),
        F.expr("CAST((sum(n_cov) * 1000000) DIV sum(n_toks) AS BIGINT)")
        .alias("removed_ppm"),
    )


# ---------------------------------------------------------------------------
# Detector evaluation: MinHash-LSH recall vs exact-Jaccard truth,
# bucketed, with the banding S-curve as the analytic reference
# ---------------------------------------------------------------------------
def _recall_curve_oracle() -> str:
    from clickhouse_batcher_spark.catalog import ORACLES

    jac = ORACLES["dedup_ngram_jaccard"]
    mh = ORACLES["dedup_minhash_lsh"]
    r = MINHASH_PERMS // MINHASH_BANDS
    b = MINHASH_BANDS
    return f"""
    WITH truth AS ({jac}),
    det AS (SELECT doc_a, doc_b FROM ({mh}) m),
    bucketed AS (
      SELECT CAST(FLOOR(t.jaccard * 10) AS BIGINT) AS jaccard_decile,
        t.jaccard,
        CASE WHEN d.doc_a IS NULL THEN 0 ELSE 1 END AS detected
      FROM truth t
      LEFT JOIN det d ON d.doc_a = t.doc_a AND d.doc_b = t.doc_b
    )
    SELECT jaccard_decile,
      CAST(COUNT(*) AS BIGINT) AS n_true_pairs,
      CAST(SUM(detected) AS BIGINT) AS n_detected,
      CAST((SUM(detected) * 1000000) // COUNT(*) AS BIGINT)
        AS detected_ppm,
      CAST(FLOOR(1000000 * (1 - pow(
          1 - pow(CAST(jaccard_decile AS DOUBLE) / 10 + 0.05, {r}),
          {b}))) AS BIGINT) AS scurve_theory_ppm
    FROM bucketed GROUP BY jaccard_decile
    """


@query("minhash_recall_curve")  # oracle composed below
def minhash_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured MinHash-LSH detection rate per exact-Jaccard decile,
    next to the banding S-curve's analytic prediction
    p(s) = 1 - (1 - s^r)^b at the decile midpoint — the evaluation a
    dedup owner runs before trusting the banded detector's recall at
    a new threshold (and the input to re-sizing PERMS/BANDS).

    Truth = the DF-capped exact-Jaccard detector (pairs >= its
    threshold); detected = membership in the MinHash-verified pair
    frame (both memoized — this op adds one keyed left join and a
    10-row rollup). Exactness: counts are integers, ppm is integer
    division, and the S-curve is one fixed double expression per
    decile evaluated identically by both engines."""
    truth = dedup_ngram_jaccard(spark, sf_dir)
    det = minhash_pairs_cached(spark, sf_dir).select(
        "doc_a", "doc_b", F.lit(1).alias("detected")
    )
    r = MINHASH_PERMS // MINHASH_BANDS
    b = MINHASH_BANDS
    bucketed = (
        truth.join(det, ["doc_a", "doc_b"], "left")
        .na.fill({"detected": 0})
        .select(
            F.floor(F.col("jaccard") * 10).cast("bigint").alias(
                "jaccard_decile"
            ),
            "detected",
        )
    )
    agg = bucketed.groupBy("jaccard_decile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_true_pairs"),
        F.sum("detected").cast("bigint").alias("n_detected"),
    )
    mid = F.col("jaccard_decile").cast("double") / 10 + 0.05
    return agg.select(
        "jaccard_decile",
        "n_true_pairs",
        "n_detected",
        F.expr(
            "CAST((n_detected * 1000000) DIV n_true_pairs AS BIGINT)"
        ).alias("detected_ppm"),
        F.floor(
            1_000_000 * (1 - F.pow(1 - F.pow(mid, F.lit(r)), F.lit(b)))
        )
        .cast("bigint")
        .alias("scurve_theory_ppm"),
    )


from clickhouse_batcher_spark.catalog import ORACLES as _OR  # noqa: E402

_OR["minhash_recall_curve"] = " ".join(_recall_curve_oracle().split())


# ---------------------------------------------------------------------------
# Dedup inflation report: effective corpus size after exact + near-dup
# ---------------------------------------------------------------------------
@query("dedup_inflation_report")  # oracle composed below
def dedup_inflation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per source: raw docs/tokens vs what survives the standard
    exact-then-near-dup pipeline (exact = min doc_id per identical
    text; near-dup = the CC keep-canonical survivors), plus the
    integer-ppm token inflation factor (raw tokens per surviving
    token) — the "effective dataset size" number that decides how many
    epochs of a source a token budget really buys.

    Composes the memoized CC labels; twins (synthetic ids >=
    TWIN_ID_OFFSET) are dedup-pipeline internals and never appear in
    the per-source report — a real doc is near-dup-removed iff it is
    clustered and not its cluster's survivor."""
    from clickhouse_batcher_spark.operators.cluster import dedup_clusters

    docs = load_table(spark, sf_dir, "documents")
    # shuffle 32-byte digests, not documents: the window runs over the
    # projected (id, source, n_tok, sha) frame (collision-free ==
    # text identity, the repo's content-hash convention; the oracle's
    # PARTITION BY text is the same relation)
    w = Window.partitionBy("h")
    base = docs.select(
        "doc_id",
        "source",
        F.size(tokens("text")).cast("bigint").alias("n_tok"),
        sha256_hex("text").alias("h"),
    ).select(
        "doc_id",
        "source",
        "n_tok",
        (F.min("doc_id").over(w) == F.col("doc_id")).alias("exact_keep"),
    )
    removed = (
        dedup_clusters(spark, sf_dir)
        .filter(~F.col("is_survivor"))
        .filter(F.col("doc_id") < TWIN_ID_OFFSET)
        .select("doc_id", F.lit(False).alias("neardup_keep"))
    )
    flags = base.join(removed, "doc_id", "left").na.fill(
        {"neardup_keep": True}
    )
    final_keep = F.col("exact_keep") & F.col("neardup_keep")
    agg = flags.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("n_tokens"),
        F.sum(F.when(F.col("exact_keep"), 1).otherwise(0))
        .cast("bigint")
        .alias("docs_after_exact"),
        F.sum(F.when(final_keep, 1).otherwise(0))
        .cast("bigint")
        .alias("docs_after_neardup"),
        F.sum(F.when(final_keep, F.col("n_tok")).otherwise(0))
        .cast("bigint")
        .alias("tokens_after_neardup"),
    )
    return agg.withColumn(
        "inflation_ppm",
        F.expr(
            "CAST((n_tokens * 1000000) DIV tokens_after_neardup AS BIGINT)"
        ),
    )

