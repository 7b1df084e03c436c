"""Training-curriculum and corpus-saturation operators (round-9).

Three pipeline decisions a 100 TB training-data build makes late in
curation, each here as an exact, oracle-checked relational plan:

- ``length_sorted_packing_gain``: how much padding does length-sorted
  batching save over arrival-order batching? The standard curriculum /
  bucketed-batching trade (sorting by length makes batches
  length-homogeneous, so the per-batch pad-to-max wastes far fewer
  slots). Two exact global orderings via ``with_global_index`` — the
  two-level ordered scan, never a single-partition window.
- ``docs_code_switch_report``: per-document language-mixture signal
  over the langid marker sets (hits per language, Shannon entropy of
  the marker distribution, mixed flag) — the code-switching filter
  monolingual training mixes apply before language bucketing.
- ``shingle_novelty_curve``: corpus saturation — per document (in
  arrival order) how many of its distinct 3-gram shingles were never
  seen in any earlier document, with exact running totals
  (``with_global_cumsum``). When the running novelty ratio flattens,
  more data from that source stops buying diversity; this is the
  collect-more-or-stop signal behind data-mixing decisions.

Scale notes: packing-gain is two range shuffles + one 2*B-row
aggregate; code-switch is a zero-shuffle per-row projection; novelty
is one shingle groupBy (min doc_id per shingle — the same shape as
exact dedup) + per-doc counts + the two-level cumsum. No operator
here collects more than partition-count rows to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from clickhouse_batcher_spark.catalog import query
from clickhouse_batcher_spark.functions import (
    tokens,
    with_global_cumsum,
    with_global_index,
)
from clickhouse_batcher_spark.operators.dedup import SHINGLE_K, SQL_TOKENS
from clickhouse_batcher_spark.operators.text import LANG_MARKERS, LANG_ORDER
from clickhouse_batcher_spark.tables import load_table

PACK_BATCH_SIZE = 32

_SQL_NTOK = f"len({SQL_TOKENS})"


@query(
    "length_sorted_packing_gain",
    oracle=f"""
    WITH lens AS (
      SELECT doc_id, CAST({_SQL_NTOK} AS BIGINT) AS n_tok FROM documents
    ),
    ordered AS (
      SELECT doc_id, n_tok,
        (ROW_NUMBER() OVER (ORDER BY doc_id) - 1)
          // {PACK_BATCH_SIZE} AS b_arrival,
        (ROW_NUMBER() OVER (ORDER BY n_tok, doc_id) - 1)
          // {PACK_BATCH_SIZE} AS b_sorted
      FROM lens
    ),
    a AS (
      SELECT 'arrival' AS strategy, b_arrival AS b,
             COUNT(*) AS sz, MAX(n_tok) AS mx, SUM(n_tok) AS tok
      FROM ordered GROUP BY b_arrival
      UNION ALL
      SELECT 'length_sorted', b_sorted,
             COUNT(*), MAX(n_tok), SUM(n_tok)
      FROM ordered GROUP BY b_sorted
    )
    SELECT strategy,
      CAST(COUNT(*) AS BIGINT) AS n_batches,
      CAST(SUM(tok) AS BIGINT) AS total_tokens,
      CAST(SUM(sz * mx) AS BIGINT) AS padded_slots,
      CAST(SUM(sz * mx) - SUM(tok) AS BIGINT) AS padding_waste,
      CAST((SUM(sz * mx) - SUM(tok)) * 1000000
           // SUM(sz * mx) AS BIGINT) AS waste_ppm
    FROM a GROUP BY strategy
    """,
)
def length_sorted_packing_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Padding waste of pad-to-batch-max batching under two global
    orderings: arrival (doc_id) vs length-sorted (n_tok, doc_id) —
    one row per strategy with exact token/slot/waste totals and the
    integer-ppm waste ratio (integer division: engine-exact, the
    repo's cross-engine ratio convention).

    Both orderings are exact global indexes of the two-level ordered
    scan (``with_global_index``), so the plan holds at any corpus
    size; the per-batch aggregate shuffles (batch, len) pairs only.
    """
    docs = load_table(spark, sf_dir, "documents")
    lens = docs.select(
        "doc_id", F.size(tokens("text")).cast("bigint").alias("n_tok")
    )
    arrival = with_global_index(lens, ["doc_id"], "gi").withColumn(
        "b", (F.col("gi") / PACK_BATCH_SIZE).cast("bigint")
    )
    slen = with_global_index(lens, ["n_tok", "doc_id"], "gi").withColumn(
        "b", (F.col("gi") / PACK_BATCH_SIZE).cast("bigint")
    )

    def per_batch(df: DataFrame, name: str) -> DataFrame:
        return df.groupBy("b").agg(
            F.count(F.lit(1)).alias("sz"),
            F.max("n_tok").alias("mx"),
            F.sum("n_tok").alias("tok"),
        ).select(F.lit(name).alias("strategy"), "sz", "mx", "tok")

    batches = per_batch(arrival, "arrival").unionByName(
        per_batch(slen, "length_sorted")
    )
    padded = F.sum(F.col("sz") * F.col("mx"))
    toks_total = F.sum("tok")
    agg = batches.groupBy("strategy").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_batches"),
        toks_total.cast("bigint").alias("total_tokens"),
        padded.cast("bigint").alias("padded_slots"),
        (padded - toks_total).cast("bigint").alias("padding_waste"),
    )
    # exact integer division on both engines (Spark div == DuckDB //
    # on non-negative ints) — never a double ratio near the hash gate
    return agg.withColumn(
        "waste_ppm",
        F.expr(
            "CAST((padding_waste * 1000000) DIV padded_slots AS BIGINT)"
        ),
    )


def _marker_hits_sql(lang: str) -> str:
    markers = ", ".join(f"'{m}'" for m in LANG_MARKERS[lang])
    return (
        f"len(list_filter({SQL_TOKENS}, t -> t IN ({markers})))"
    )


_CS_HITS = " + ".join(f"s_{lang}" for lang in LANG_ORDER)
_CS_ENTROPY_TERMS = " + ".join(
    f"(CASE WHEN s_{lang} > 0 THEN"
    f" -(CAST(s_{lang} AS DOUBLE) / CAST(total_hits AS DOUBLE))"
    f" * ln(CAST(s_{lang} AS DOUBLE) / CAST(total_hits AS DOUBLE))"
    " ELSE 0.0 END)"
    for lang in LANG_ORDER
)
_CS_PRESENT = " + ".join(
    f"(CASE WHEN s_{lang} > 0 THEN 1 ELSE 0 END)" for lang in LANG_ORDER
)


@query(
    "docs_code_switch_report",
    oracle=f"""
    WITH hits AS (
      SELECT doc_id, lang AS labeled_lang,
        {", ".join(f"CAST({_marker_hits_sql(lang)} AS BIGINT) AS s_{lang}" for lang in LANG_ORDER)}
      FROM documents
    ),
    t AS (
      SELECT *, CAST({_CS_HITS} AS BIGINT) AS total_hits,
        CAST({_CS_PRESENT} AS BIGINT) AS n_langs_present
      FROM hits
    )
    SELECT doc_id, labeled_lang, total_hits, n_langs_present,
      CASE WHEN total_hits = 0 THEN 0.0 ELSE
        round({_CS_ENTROPY_TERMS}, 6)
      END AS mix_entropy,
      CAST(CASE WHEN n_langs_present >= 2 THEN 1 ELSE 0 END AS BIGINT)
        AS is_mixed
    FROM t
    """,
)
def docs_code_switch_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document language-mixture report over the langid marker
    sets: marker occurrences per language, Shannon entropy (nats,
    rounded 6 — the transcendental-output contract) of the marker
    distribution, and the mixed flag (markers from >= 2 languages).

    The code-switching signal monolingual corpus builders filter on
    before per-language bucketing: high entropy = the document mixes
    languages and belongs in neither bucket. Zero shuffle — a pure
    per-row projection that scales with the scan."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        tokens("text").alias("toks"),
    )
    scores = [
        F.size(
            F.filter(F.col("toks"), lambda x: x.isin(*LANG_MARKERS[lang]))
        )
        .cast("bigint")
        .alias(f"s_{lang}")
        for lang in LANG_ORDER
    ]
    s = t.select("doc_id", "labeled_lang", *scores)
    total = sum(F.col(f"s_{lang}") for lang in LANG_ORDER)
    present = sum(
        F.when(F.col(f"s_{lang}") > 0, 1).otherwise(0)
        for lang in LANG_ORDER
    )
    s = s.withColumn("total_hits", total.cast("bigint")).withColumn(
        "n_langs_present", present.cast("bigint")
    )
    p = [
        F.col(f"s_{lang}").cast("double") / F.col("total_hits")
        for lang in LANG_ORDER
    ]
    ent = sum(
        F.when(
            F.col(f"s_{lang}") > 0, -p_l * F.log(p_l)
        ).otherwise(F.lit(0.0))
        for lang, p_l in zip(LANG_ORDER, p)
    )
    return s.select(
        "doc_id",
        "labeled_lang",
        "total_hits",
        "n_langs_present",
        F.when(F.col("total_hits") == 0, F.lit(0.0))
        .otherwise(F.round(ent, 6))
        .alias("mix_entropy"),
        F.when(F.col("n_langs_present") >= 2, F.lit(1))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("is_mixed"),
    )


@query(
    "shingle_novelty_curve",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {SQL_TOKENS} AS tokens FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id,
        unnest(list_transform(
          generate_series(1, len(tokens)-{SHINGLE_K - 1}),
          i -> tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2]))
          AS shingle
      FROM toks WHERE len(tokens) >= {SHINGLE_K}
    ),
    firsts AS (
      SELECT shingle, MIN(doc_id) AS first_doc FROM sh GROUP BY shingle
    ),
    per_doc AS (
      SELECT s.doc_id,
        CAST(COUNT(*) AS BIGINT) AS n_shingles,
        CAST(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
             AS BIGINT) AS n_new
      FROM sh s JOIN firsts f USING (shingle)
      GROUP BY s.doc_id
    )
    SELECT doc_id, n_shingles, n_new,
      CAST(SUM(n_new) OVER w AS BIGINT) AS cum_new,
      CAST(SUM(n_shingles) OVER w AS BIGINT) AS cum_shingles,
      CAST(SUM(n_new) OVER w * 1000000
           // SUM(n_shingles) OVER w AS BIGINT) AS novelty_ppm
    FROM per_doc
    WINDOW w AS (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
                 AND CURRENT ROW)
    """,
)
def shingle_novelty_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-saturation curve: per document in arrival (doc_id)
    order — its distinct 3-gram shingles, how many were never seen in
    any earlier document (first-occurrence = the corpus-wide MIN
    doc_id owning the shingle, the exact-dedup plan shape), and exact
    running totals with the integer-ppm running novelty ratio.

    A flattening curve says additional data from this source stops
    buying n-gram diversity — the collect-more-or-stop input to data
    mixing. Running sums are folds of the two-level ordered scan
    (``with_global_cumsum``), never a single-partition window."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens("text").alias("tokens")).filter(
        F.size("tokens") >= SHINGLE_K
    )
    sh = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(tokens) - {SHINGLE_K - 1}),"
                " i -> concat_ws(' ', tokens[i-1], tokens[i], tokens[i+1]))"
            )
        ).alias("shingle"),
    ).distinct()
    firsts = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (
        sh.join(firsts, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_new"),
        )
    )
    cum = with_global_cumsum(
        per_doc,
        {"n_new": "cum_new", "n_shingles": "cum_shingles"},
        ["doc_id"],
    )
    return cum.select(
        "doc_id",
        "n_shingles",
        "n_new",
        F.col("cum_new").cast("bigint").alias("cum_new"),
        F.col("cum_shingles").cast("bigint").alias("cum_shingles"),
        F.expr(
            "CAST((CAST(cum_new AS BIGINT) * 1000000)"
            " DIV CAST(cum_shingles AS BIGINT) AS BIGINT)"
        ).alias("novelty_ppm"),
    )


# ---------------------------------------------------------------------------
# Token-budget water-filling across sources
# ---------------------------------------------------------------------------
# Budget = this fraction of total corpus tokens, as an integer DIV so
# both engines agree to the token.
WATERFILL_BUDGET_NUM = 1
WATERFILL_BUDGET_DEN = 2


@query(
    "token_budget_waterfill",
    oracle=f"""
    WITH lens AS (
      SELECT source, CAST(SUM({_SQL_NTOK}) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ),
    ranked AS (
      SELECT source, n_tokens,
        ROW_NUMBER() OVER (ORDER BY n_tokens, source) AS r,
        SUM(n_tokens) OVER (ORDER BY n_tokens, source
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p,
        COUNT(*) OVER () AS n,
        SUM(n_tokens) OVER () AS total
      FROM lens
    ),
    w AS (
      SELECT *,
        (total * {WATERFILL_BUDGET_NUM})
          // {WATERFILL_BUDGET_DEN} AS budget
      FROM ranked
    ),
    kk AS (
      SELECT MAX(budget) AS budget, MAX(n) AS n, MAX(total) AS total,
        CAST(SUM(CASE WHEN n_tokens * (n - r) <= budget - p
                 THEN 1 ELSE 0 END) AS BIGINT) AS k
      FROM w
    ),
    pk AS (
      SELECT kk.*, COALESCE(
        (SELECT p FROM w WHERE r = kk.k), 0) AS p_k
      FROM kk
    ),
    lvl AS (
      SELECT *,
        CASE WHEN k >= n THEN 0
             ELSE (budget - p_k) // (n - k) END AS base,
        CASE WHEN k >= n THEN 0
             ELSE (budget - p_k) % (n - k) END AS rem
      FROM pk
    )
    SELECT w.source, w.n_tokens,
      CAST(CASE WHEN w.r <= lvl.k THEN w.n_tokens
                ELSE lvl.base
                  + (CASE WHEN w.r - lvl.k <= lvl.rem THEN 1 ELSE 0 END)
           END AS BIGINT) AS alloc_tokens,
      CAST(CASE WHEN w.r <= lvl.k THEN 1 ELSE 0 END AS BIGINT)
        AS fully_taken
    FROM w CROSS JOIN lvl
    """,
)
def token_budget_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Water-filling token allocation across sources under a global
    budget (half the corpus, integer-exact): sources below the water
    level keep ALL their tokens, every larger source is clipped to a
    common level — the max-min-fair quota behind "uniform sampling
    with per-source caps" data mixes (e.g. the Pile's epoch weights).

    Exact integer algebra end to end: budget = total DIV 2; the
    saturation count k = #sources with c_r * (n - r) <= B - P_r (the
    standard monotone feasibility test on the ascending-size order);
    the level splits as base = (B - P_k) DIV (n - k) with the
    remainder distributed one token each to the (B - P_k) % (n - k)
    smallest uncapped sources — fully deterministic, no real-number
    water level. Invariants (pytest): sum(alloc) == min(B, total),
    alloc <= n_tokens, capped sources share the level within 1 token.

    Scale shape: everything after the per-source aggregate operates
    on the SOURCE-cardinality frame (one row per source), so the
    global windows are bounded — the same bounded-frame class as the
    cumsum offset table."""
    docs = load_table(spark, sf_dir, "documents")
    lens = docs.select(
        "source", F.size(tokens("text")).cast("bigint").alias("nt")
    ).groupBy("source").agg(F.sum("nt").cast("bigint").alias("n_tokens"))
    w_ord = Window.orderBy("n_tokens", "source")
    w_all = Window.partitionBy()
    ranked = (
        lens.withColumn("r", F.row_number().over(w_ord).cast("bigint"))
        .withColumn(
            "p",
            F.sum("n_tokens")
            .over(w_ord.rowsBetween(Window.unboundedPreceding, 0))
            .cast("bigint"),
        )
        .withColumn("n", F.count(F.lit(1)).over(w_all).cast("bigint"))
        .withColumn("total", F.sum("n_tokens").over(w_all).cast("bigint"))
        .withColumn(
            "budget",
            F.expr(
                f"(total * {WATERFILL_BUDGET_NUM})"
                f" DIV {WATERFILL_BUDGET_DEN}"
            ),
        )
    )
    ranked = ranked.withColumn(
        "sat",
        F.when(
            F.col("n_tokens") * (F.col("n") - F.col("r"))
            <= F.col("budget") - F.col("p"),
            1,
        ).otherwise(0),
    )
    k = ranked.withColumn(
        "k", F.sum("sat").over(w_all).cast("bigint")
    ).withColumn(
        "p_k",
        F.coalesce(
            F.max(F.when(F.col("r") == F.col("k"), F.col("p"))).over(
                w_all
            ),
            F.lit(0),
        ).cast("bigint"),
    )
    lvl = k.withColumn(
        "base",
        F.when(F.col("k") >= F.col("n"), F.lit(0)).otherwise(
            F.expr("(budget - p_k) DIV (n - k)")
        ),
    ).withColumn(
        "rem",
        F.when(F.col("k") >= F.col("n"), F.lit(0)).otherwise(
            F.expr("(budget - p_k) % (n - k)")
        ),
    )
    return lvl.select(
        "source",
        "n_tokens",
        F.when(F.col("r") <= F.col("k"), F.col("n_tokens"))
        .otherwise(
            F.col("base")
            + F.when(F.col("r") - F.col("k") <= F.col("rem"), 1).otherwise(
                0
            )
        )
        .cast("bigint")
        .alias("alloc_tokens"),
        F.when(F.col("r") <= F.col("k"), 1)
        .otherwise(0)
        .cast("bigint")
        .alias("fully_taken"),
    )
