"""Seeded input generators for the benchmark.

Everything the program under test reads is made here from the workload
seed: the ten catalog tables (same schemas and value ranges as the
test data described in TESTDATA.md and FIXTURES.md), the rows handed to
``BatcherEngine.save_async``, and the parquet backlogs drained by the
streaming workload. The same seed gives byte-identical inputs.

Only numpy and pyarrow are used, so generation costs well under a
second at the sizes the workloads use and starts no Spark job.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts per table for one "scale unit" (the sf0.01 test data).
SF001_ROWS = {
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 500,
    "embeddings": 500,
}
EVENT_USERS = 150
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("HOUSEHOLD", "BUILDING", "MACHINERY", "AUTOMOBILE", "FURNITURE")
PART_ADJ = ("blue", "cold", "hot", "red", "small", "new", "old")
PART_NOUN = ("ring", "plate", "gear", "rod", "widget", "bolt", "anvil")
PART_TYPES = ("ECONOMY", "STANDARD", "MEDIUM", "LARGE", "PROMO", "SMALL")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "signup", "error", "view", "purchase")
LANGS = ("en", "en", "en", "zh", "de", "fr", "es")

# Schema of the paper's ingest table (FIXTURES.md section 1).
LIMITS_SCHEMA = "user_id STRING, amount BIGINT, msg BINARY, sha256sum STRING"
LIMITS_USERS = 40
DOCS_SCHEMA = "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"

_US_PER_DAY = 86_400 * 1_000_000


def _days_to_ts(days: np.ndarray, start: str) -> pa.Array:
    base = np.datetime64(start, "us")
    return pa.array(base + days.astype("timedelta64[D]"), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{k:09d}" for k in range(n)]


def documents_table(rng: np.random.Generator, n: int) -> pa.Table:
    """Bag-of-words documents; ~5% are an earlier document plus " dup"
    (near-duplicate twins) and a few are exact copies, the structure
    the dedup and near-dup gate operators look for."""
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            words = rng.choice(VOCAB, int(rng.integers(15, 90)))
            texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n), pa.string()),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def catalog_tables(seed: int, scale: float = 1.0) -> dict[str, pa.Table]:
    """The ten catalog tables; ``scale`` multiplies the sf0.01 row counts."""
    rng = np.random.default_rng(seed)
    n = {t: max(1, int(round(c * scale))) for t, c in SF001_ROWS.items()}
    users = max(1, int(round(EVENT_USERS * scale)))
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string()),
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{k}" for k in range(25)], pa.string()),
        "n_regionkey": pa.array([k % 5 for k in range(25)], pa.int32()),
    })
    c = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(c), pa.int64()),
        "c_name": pa.array(_names("Customer", c), pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, c), pa.float64()),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, c), pa.string()),
    })
    s = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(s), pa.int64()),
        "s_name": pa.array(_names("Supplier", s), pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, s), pa.float64()),
    })
    p = n["part"]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(p), pa.int64()),
        "p_name": pa.array(
            [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, p), rng.choice(PART_NOUN, p))],
            pa.string(),
        ),
        "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, p)], pa.string()),
        "p_type": pa.array(rng.choice(PART_TYPES, p), pa.string()),
        "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
        "p_retailprice": pa.array(900.0 + (np.arange(p) % 1000) / 10.0, pa.float64()),
    })
    o = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, c, o), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(("F", "O", "P"), o), pa.string()),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, o), pa.float64()),
        "o_orderdate": _days_to_ts(rng.integers(0, 2404, o), "1995-01-01"),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, o), pa.string()),
    })
    li = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, o, li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, p, li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, s, li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, li).astype(np.float64), pa.float64()),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, li), pa.float64()),
        "l_discount": pa.array(rng.integers(0, 11, li) / 100.0, pa.float64()),
        "l_tax": pa.array(rng.integers(0, 9, li) / 100.0, pa.float64()),
        "l_returnflag": pa.array(rng.choice(("A", "N", "R"), li), pa.string()),
        "l_linestatus": pa.array(rng.choice(("F", "O"), li), pa.string()),
        "l_shipdate": _days_to_ts(rng.integers(0, 2498, li), "1995-01-02"),
    })
    e = n["events"]
    step = 30 * _US_PER_DAY // e
    offs = np.arange(e, dtype=np.int64) * step + rng.integers(0, step, e)
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(e), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + offs.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, e), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, e), pa.string()),
        "value": pa.array(np.maximum(np.round(rng.exponential(50.0, e), 2), 0.01), pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, e)], pa.string()),
    })
    out["documents"] = documents_table(rng, n["documents"])
    v = n["embeddings"]
    vec = rng.normal(size=(v, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(v), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, v), pa.int32()),
    })
    return out


def write_catalog(sf_dir: str, seed: int, scale: float = 1.0) -> None:
    """Write the catalog tables in the ``<sf_dir>/<table>.parquet`` layout."""
    os.makedirs(sf_dir, exist_ok=True)
    for name, table in catalog_tables(seed, scale).items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))


def limits_rows(seed: int, n: int) -> list[tuple]:
    """Rows of the ingest table, ordered by sequence number.

    ``sha256sum`` carries the row's sequence number as a string (the
    reference test generator's convention), so read-back can map every
    stored row to the moment it was sent and prove exactly-once."""
    rng = np.random.default_rng(seed)
    users = rng.integers(0, LIMITS_USERS, n)
    amounts = rng.integers(0, 1_000_000, n)
    return [
        (f"user_{int(u):03d}", int(a), None, str(i))
        for i, (u, a) in enumerate(zip(users, amounts))
    ]


def limits_table(rows: list[tuple]) -> pa.Table:
    user, amount, msg, sha = zip(*rows)
    return pa.table({
        "user_id": pa.array(user, pa.string()),
        "amount": pa.array(amount, pa.int64()),
        "msg": pa.array(msg, pa.binary()),
        "sha256sum": pa.array(sha, pa.string()),
    })


def write_limits_backlog(src_dir: str, seed: int, n_files: int, rows_per_file: int) -> int:
    """A parquet backlog of ``n_files`` files of ``rows_per_file`` rows;
    returns the total row count. Files are written in sequence order
    with increasing modification times, the order the file source
    reads them in."""
    os.makedirs(src_dir, exist_ok=True)
    rows = limits_rows(seed, n_files * rows_per_file)
    for f in range(n_files):
        part = rows[f * rows_per_file:(f + 1) * rows_per_file]
        pq.write_table(limits_table(part), os.path.join(src_dir, f"part-{f:05d}.parquet"))
    return len(rows)


def write_document_files(src_dir: str, docs: pa.Table, seed: int, n_files: int) -> list[int]:
    """Split ``docs`` into ``n_files`` parquet files, assigning each
    document to a file at random by seed (document order is kept inside
    a file); returns the row count of each file."""
    os.makedirs(src_dir, exist_ok=True)
    owner = np.random.default_rng(seed).integers(0, n_files, docs.num_rows)
    sizes = []
    for f in range(n_files):
        part = docs.filter(pa.array(owner == f))
        pq.write_table(part, os.path.join(src_dir, f"part-{f:05d}.parquet"))
        sizes.append(part.num_rows)
    return sizes
