"""Model-based corpus curation: distilled quality classifier + TF-IDF.

Two operators a production LLM-data pipeline runs after the cheap
structural rules:

1. ``quality_classifier_nb`` — the CCNet/fastText pattern (Wenzek et
   al. 2020; Penedo et al. 2024 use the same shape): take a cheap
   *teacher* rule (here the Gopher structural filter already in
   ``operators/corpus.py``), train a lexical hashed-unigram Naive
   Bayes on its labels, and score every document with the learned
   log-odds. The classifier generalizes the rule from *structure* to
   *vocabulary* — the standard way pipelines turn a handful of
   hand-written heuristics into a smooth ranking signal. Training is
   one corpus-bounded aggregation (256-bucket class counts), scoring
   one broadcast join — both fully distributed, no driver-side model
   object at any corpus size.

2. ``tfidf_top_terms`` — per-document top-k TF-IDF keywords, the
   classic corpus-exploration / topic-drill-down primitive (and the
   de-facto dedup-explanation tool: "these docs cluster because these
   terms dominate").

Determinism contract (repo-wide discipline): every transcendental
(``ln``) is rounded to 6 decimals and cast to DECIMAL(27,6) at the
*per-bucket/per-term* level; all document-level accumulation happens
in exact decimal arithmetic, so results are bit-identical across
engines and shuffle orders. The only double values in any output are
final casts of exact decimals (or single exact-integer divisions).

Scale shape:
- NB train: the class-count table is at most ``NBQ_BUCKETS`` rows —
  an aggregate that map-side combines; totals are a second tiny agg.
- NB score: the 256-row log-likelihood-ratio table broadcasts back to
  the exploded token stream; the per-doc sum is the one data-sized
  shuffle (map-side combinable on doc_id).
- TF-IDF: term frequencies are a (doc, term) aggregate; document
  frequencies a term-level rollup of that same frame (reused, not
  rescanned); the per-doc top-k is a window partitioned by doc_id —
  no global ordering anywhere.

Reference: the reference engine (kostyasolovev/clickhouse-batcher)
has no classifier surface — this extends the north-star LLM-pipeline
scope (text analysis / quality scoring) per SURVEY.md §2.2.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from clickhouse_batcher_spark.catalog import query
from clickhouse_batcher_spark.functions import tokens
from clickhouse_batcher_spark.operators import memo
from clickhouse_batcher_spark.operators.corpus import (
    GOPHER_MAX_MEAN_LEN,
    GOPHER_MAX_TOKENS,
    GOPHER_MIN_MEAN_LEN,
    GOPHER_MIN_STOPWORDS,
    GOPHER_MIN_TOKENS,
    GOPHER_MIN_TTR,
    GOPHER_STOPWORDS,
)
from clickhouse_batcher_spark.operators.sampling import _sql_bucket
from clickhouse_batcher_spark.operators.text import SQL_TOKENS
from clickhouse_batcher_spark.tables import load_table

NBQ_BUCKETS = 256
_NBQ_SALT = "nbq"
TFIDF_TOP_K = 3


def _gopher_keep(toks: Column) -> Column:
    """The Gopher teacher rule as a column over a token array.

    Same thresholds and arithmetic as ``quality_filter_gopher``
    (operators/corpus.py:383-462; both cite Rae et al. 2021 A1.1):
    token-count window, mean token length window, >= 2 distinct
    stopwords, type-token ratio floor. Every ratio is a single IEEE
    division of exact integers — bit-identical across engines.
    """
    n = F.size(toks)
    sum_len = F.aggregate(
        F.transform(toks, lambda x: F.length(x)),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    mean_len = sum_len.cast("bigint").cast("double") / n.cast("double")
    n_stop = F.size(
        F.array_distinct(F.filter(toks, lambda x: x.isin(*GOPHER_STOPWORDS)))
    )
    ttr = F.size(F.array_distinct(toks)).cast("double") / n.cast("double")
    return (
        (n >= GOPHER_MIN_TOKENS)
        & (n <= GOPHER_MAX_TOKENS)
        & (mean_len >= GOPHER_MIN_MEAN_LEN)
        & (mean_len <= GOPHER_MAX_MEAN_LEN)
        & (n_stop >= GOPHER_MIN_STOPWORDS)
        & (ttr >= GOPHER_MIN_TTR)
    )


def _nbq_bucket(col: Column) -> Column:
    """Portable sha-prefix bucket of a token (the DSIR machinery,
    operators/corpus.py:754-763, under this module's own salt)."""
    return (
        F.conv(
            F.substring(F.sha2(F.concat(F.lit(_NBQ_SALT), col), 256), 1, 4),
            16,
            10,
        ).cast("bigint")
        % NBQ_BUCKETS
    )


_TEACHER_SQL = f"""
    t AS (SELECT doc_id, {SQL_TOKENS} AS toks FROM documents),
    m AS (
      SELECT doc_id, toks,
        len(toks) AS n_tokens,
        CAST(CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT)
             AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS mean_token_len,
        len(list_distinct(list_filter(toks,
            x -> x IN ({", ".join(f"'{s}'" for s in GOPHER_STOPWORDS)}))))
          AS n_stopwords,
        CAST(len(list_distinct(toks)) AS DOUBLE)
          / CAST(len(toks) AS DOUBLE) AS ttr
      FROM t
    ),
    lab AS (
      SELECT doc_id, toks, n_tokens,
        (n_tokens >= {GOPHER_MIN_TOKENS} AND n_tokens <= {GOPHER_MAX_TOKENS}
         AND mean_token_len >= {GOPHER_MIN_MEAN_LEN}
         AND mean_token_len <= {GOPHER_MAX_MEAN_LEN}
         AND n_stopwords >= {GOPHER_MIN_STOPWORDS}
         AND ttr >= {GOPHER_MIN_TTR}) AS label
      FROM m
    )
"""


def _nbq_oracle() -> str:
    b = _sql_bucket("token", buckets=NBQ_BUCKETS, salt=_NBQ_SALT)
    n = NBQ_BUCKETS
    return f"""
    WITH {_TEACHER_SQL},
    occ AS (SELECT doc_id, label, unnest(toks) AS token FROM lab),
    bk AS (SELECT doc_id, label, {b} AS bucket FROM occ),
    cls AS (
      SELECT bucket,
        CAST(SUM(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        CAST(SUM(CASE WHEN NOT label THEN 1 ELSE 0 END) AS BIGINT) AS c0
      FROM bk GROUP BY bucket
    ),
    tots AS (
      SELECT CAST(SUM(c1) AS BIGINT) AS t1, CAST(SUM(c0) AS BIGINT) AS t0
      FROM cls
    ),
    nd AS (
      SELECT CAST(SUM(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(SUM(CASE WHEN NOT label THEN 1 ELSE 0 END) AS BIGINT) AS n0
      FROM lab
    ),
    llr AS (
      SELECT bucket,
        CAST(round(ln(
          ((CAST(c1 AS DOUBLE) + 1) / (CAST(t1 AS DOUBLE) + {n}))
          / ((CAST(c0 AS DOUBLE) + 1) / (CAST(t0 AS DOUBLE) + {n}))
        ), 6) AS DECIMAL(27,6)) AS lr
      FROM cls CROSS JOIN tots
    ),
    per AS (
      SELECT bk.doc_id, SUM(lr.lr) AS s
      FROM bk JOIN llr lr ON lr.bucket = bk.bucket
      GROUP BY bk.doc_id
    ),
    pri AS (
      SELECT CAST(round(ln(
        (CAST(n1 AS DOUBLE) + 1) / (CAST(n0 AS DOUBLE) + 1)
      ), 6) AS DECIMAL(27,6)) AS prior FROM nd
    )
    SELECT lab.doc_id,
      lab.label AS teacher_keep,
      CAST(lab.n_tokens AS BIGINT) AS n_tokens,
      CAST(pri.prior + COALESCE(per.s, CAST(0 AS DECIMAL(27,6)))
           AS DOUBLE) AS nb_logodds,
      (pri.prior + COALESCE(per.s, CAST(0 AS DECIMAL(27,6))) > 0)
        AS nb_keep
    FROM lab CROSS JOIN pri LEFT JOIN per ON per.doc_id = lab.doc_id
    """


def _labeled(docs: DataFrame) -> DataFrame:
    """(doc_id, toks, n_tokens, label) — the shared prep frame."""
    return docs.select(
        "doc_id",
        tokens("text").alias("toks"),
    ).select(
        "doc_id",
        "toks",
        F.size("toks").cast("bigint").alias("n_tokens"),
        _gopher_keep(F.col("toks")).alias("label"),
    )


def nb_quality_scores(docs: DataFrame) -> DataFrame:
    """Train-and-score the distilled NB over any ``(doc_id, text)``
    frame (input-agnostic core of ``quality_classifier_nb``).

    Per doc: teacher label, exact token count, the NB log-odds
    (prior + sum of per-bucket log-likelihood ratios, Laplace +1
    smoothing on both class distributions and the prior), and the
    learned verdict ``nb_keep = log-odds > 0``. Log-odds accumulate
    as DECIMAL(27,6) of 6-rounded per-bucket ratios, so the score —
    and therefore the sign decision — is engine- and order-exact.

    Round-14 (guide §1.2/§2.4): this same-corpus path used to
    tokenize+teacher-label the corpus FOUR times and explode+hash the
    tokens TWICE inside one action (train's bucket counts, train's doc
    label counts, score's bucket sums, score's output frame all
    referenced the un-materialized prep subtree). The prep frame (``lab``) and the per-(doc, label,
    bucket) occurrence counts (``pbk``) are now materialized once and
    every branch — class counts, prior, per-doc decimal sums, output —
    reads the blocks. The per-doc score sums ``lr * c`` per bucket as
    DECIMAL(27,6) x DECIMAL(10,0) (exactly precision 38, no silent
    scale loss), which equals the old per-occurrence decimal sum
    exactly. Measured 2.4-2.9 s -> 1.6-2.0 s at sf0.1, row-identical.
    """
    lab = memo.materialize(_labeled(docs))
    pbk = memo.materialize(
        lab.select("doc_id", "label", F.explode("toks").alias("token"))
        .select(
            "doc_id", "label", _nbq_bucket(F.col("token")).alias("bucket")
        )
        .groupBy("doc_id", "label", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    cnt_if = lambda cond: F.sum(  # noqa: E731
        F.when(cond, F.col("c")).otherwise(0)
    )
    all_buckets = docs.sparkSession.range(NBQ_BUCKETS).select(
        F.col("id").cast("bigint").alias("bucket")
    )
    cls = all_buckets.join(
        pbk.groupBy("bucket").agg(
            cnt_if(F.col("label")).cast("bigint").alias("c1"),
            cnt_if(~F.col("label")).cast("bigint").alias("c0"),
        ),
        "bucket",
        "left",
    ).select(
        "bucket",
        F.coalesce("c1", F.lit(0)).cast("bigint").alias("c1"),
        F.coalesce("c0", F.lit(0)).cast("bigint").alias("c0"),
    )
    tots = cls.agg(
        F.sum("c1").cast("bigint").alias("t1"),
        F.sum("c0").cast("bigint").alias("t0"),
    )
    one_if = lambda c: F.sum(F.when(c, 1).otherwise(0))  # noqa: E731
    nd = lab.agg(
        one_if(F.col("label")).cast("bigint").alias("n1"),
        one_if(~F.col("label")).cast("bigint").alias("n0"),
    )
    n = float(NBQ_BUCKETS)
    llr = cls.crossJoin(F.broadcast(tots)).select(
        "bucket",
        F.round(
            F.log(
                ((F.col("c1").cast("double") + 1) / (F.col("t1").cast("double") + n))
                / ((F.col("c0").cast("double") + 1) / (F.col("t0").cast("double") + n))
            ),
            6,
        )
        .cast("decimal(27,6)")
        .alias("lr"),
    )
    pri = nd.select(
        F.round(
            F.log((F.col("n1").cast("double") + 1) / (F.col("n0").cast("double") + 1)),
            6,
        )
        .cast("decimal(27,6)")
        .alias("prior")
    )
    per = (
        pbk.join(F.broadcast(llr), "bucket")
        .groupBy("doc_id")
        .agg(F.sum(F.col("lr") * F.col("c").cast("decimal(10,0)")).alias("s"))
    )
    zero = F.lit(0).cast("decimal(27,6)")
    logodds = F.col("prior") + F.coalesce(
        F.col("s").cast("decimal(27,6)"), zero
    )
    return (
        lab.crossJoin(F.broadcast(pri))
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.col("label").alias("teacher_keep"),
            "n_tokens",
            logodds.cast("double").alias("nb_logodds"),
            (logodds > 0).alias("nb_keep"),
        )
    )


# Scored-frame memo: the classifier query, the calibration report,
# and the budget curve all consume the IDENTICAL trained-and-scored
# frame, and bench/driver runs invoke them back to back — train and
# score once per (session, sf_dir) and hand out the materialized
# result. The eager cut materializes the doc-level scores and cuts
# the train+score lineage so every consumer's plan is a scan; the
# build's own cuts (``lab``, ``pbk``) are released once it ends.
# nb_quality_scores itself stays input-agnostic.
@memo.shared
def nb_scores_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    return nb_quality_scores(load_table(spark, sf_dir, "documents"))


@query("quality_classifier_nb", oracle=None)
def quality_classifier_nb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distill the Gopher structural rule into a hashed-unigram
    multinomial Naive Bayes and score every document (see
    ``nb_quality_scores`` for the contract)."""
    return nb_scores_cached(spark, sf_dir)


from clickhouse_batcher_spark.catalog import ORACLES as _ORACLES  # noqa: E402

_ORACLES["quality_classifier_nb"] = " ".join(_nbq_oracle().split())


# ---------------------------------------------------------------------------
# Per-document top-k TF-IDF terms
# ---------------------------------------------------------------------------
@query(
    "tfidf_top_terms",
    oracle=f"""
    WITH t AS (SELECT doc_id, {SQL_TOKENS} AS toks FROM documents),
    nd AS (SELECT COUNT(*) AS n_docs FROM t),
    tf AS (
      SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, unnest(toks) AS token FROM t)
      GROUP BY doc_id, token
    ),
    df AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY token),
    idf AS (
      SELECT token, df,
        CAST(round(ln(CAST(nd.n_docs AS DOUBLE) / CAST(df AS DOUBLE)), 6)
             AS DECIMAL(27,6)) AS idf
      FROM df CROSS JOIN nd
    ),
    scored AS (
      SELECT tf.doc_id, tf.token AS term, tf.tf,
             tf.tf * idf.idf AS score,
             row_number() OVER (
               PARTITION BY tf.doc_id
               ORDER BY tf.tf * idf.idf DESC, tf.token ASC
             ) AS rank
      FROM tf JOIN idf ON idf.token = tf.token
    )
    SELECT doc_id, term, tf, CAST(score AS DOUBLE) AS tfidf,
           CAST(rank AS BIGINT) AS rank
    FROM scored WHERE rank <= {TFIDF_TOP_K}
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k TF-IDF terms per document (k = TFIDF_TOP_K); see
    ``tfidf_terms`` for the contract."""
    return tfidf_terms(load_table(spark, sf_dir, "documents"))


def tfidf_terms(docs: DataFrame, k: int = TFIDF_TOP_K) -> DataFrame:
    """Top-``k`` TF-IDF terms per doc over any ``(doc_id, text)``
    frame.

    tf is the exact in-doc count; idf = ln(N/df) rounded to 6 and
    fixed as DECIMAL(27,6); the score is the exact decimal product
    tf * idf, so ranking (with the term-ascending tie-break) is
    engine-exact. The df table derives from the tf frame (one token
    explode total); the per-doc top-k is a doc-partitioned window —
    nothing global, nothing driver-side.
    """
    t = docs.select("doc_id", tokens("text").alias("toks"))
    tf = (
        t.select("doc_id", F.explode("toks").alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    nd = t.agg(F.count(F.lit(1)).alias("n_docs"))
    df = tf.groupBy("token").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    idf = df.crossJoin(F.broadcast(nd)).select(
        "token",
        F.round(
            F.log(F.col("n_docs").cast("double") / F.col("df").cast("double")),
            6,
        )
        .cast("decimal(27,6)")
        .alias("idf"),
    )
    scored = tf.join(idf, "token").select(
        "doc_id",
        F.col("token").alias("term"),
        "tf",
        (F.col("tf") * F.col("idf")).alias("score"),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select(
            "doc_id",
            "term",
            "tf",
            F.col("score").cast("double").alias("tfidf"),
            "rank",
        )
    )


# ---------------------------------------------------------------------------
# End-to-end curation funnel: the per-source report every corpus
# pipeline publishes (RefinedWeb/FineWeb-style "docs surviving each
# stage" table) — structural rules (Gopher), line rules (C4), exact
# dedup (first occurrence by content hash), and the combined keep,
# with token budgets. One pass over documents + one content-hash
# window; every output is an exact integer count (plus one exact
# division), so the row is hash-exact by construction.
# ---------------------------------------------------------------------------
def _funnel_oracle() -> str:
    from clickhouse_batcher_spark.operators.corpus import (
        C4_MIN_SENTENCES,
        C4_MIN_WORDS_PER_LINE,
    )

    gop = ", ".join(f"'{s}'" for s in GOPHER_STOPWORDS)
    return f"""
    WITH t AS (
      SELECT doc_id, source, text, {SQL_TOKENS} AS toks FROM documents
    ),
    m AS (
      SELECT doc_id, source, text, toks,
        len(toks) AS n_tokens,
        CAST(CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT)
             AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS mean_token_len,
        len(list_distinct(list_filter(toks, x -> x IN ({gop}))))
          AS n_stopwords,
        CAST(len(list_distinct(toks)) AS DOUBLE)
          / CAST(len(toks) AS DOUBLE) AS ttr
      FROM t
    ),
    lab AS (
      SELECT doc_id, source, text, n_tokens,
        (n_tokens >= {GOPHER_MIN_TOKENS} AND n_tokens <= {GOPHER_MAX_TOKENS}
         AND mean_token_len >= {GOPHER_MIN_MEAN_LEN}
         AND mean_token_len <= {GOPHER_MAX_MEAN_LEN}
         AND n_stopwords >= {GOPHER_MIN_STOPWORDS}
         AND ttr >= {GOPHER_MIN_TTR}) AS label
      FROM m
    ),
    c AS (
      SELECT lab.doc_id, lab.source, lab.text, lab.n_tokens,
        lab.label AS g_keep,
        (CAST(len(string_split_regex(lab.text, '[.!?]')) - 1 AS BIGINT)
           >= {C4_MIN_SENTENCES}
         AND len(list_filter(string_split(lab.text, chr(10)),
           ln -> regexp_matches(ln, '[.!?"]\\s*$')
             AND len(list_filter(string_split_regex(ln, '\\s+'),
                                 w -> w <> '')) >= {C4_MIN_WORDS_PER_LINE}
             AND NOT contains(lower(ln), 'javascript'))) > 0
         AND NOT contains(lower(lab.text), 'lorem ipsum')
         AND NOT (contains(lab.text, '{{') OR contains(lab.text, '}}')))
          AS c_keep
      FROM lab
    ),
    d AS (
      SELECT *,
        (min(doc_id) OVER (PARTITION BY sha256(text)) = doc_id)
          AS is_first
      FROM c
    )
    SELECT source,
      CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(SUM(CASE WHEN g_keep THEN 1 ELSE 0 END) AS BIGINT)
        AS n_pass_gopher,
      CAST(SUM(CASE WHEN c_keep THEN 1 ELSE 0 END) AS BIGINT)
        AS n_pass_c4,
      CAST(SUM(CASE WHEN is_first THEN 1 ELSE 0 END) AS BIGINT)
        AS n_exact_unique,
      CAST(SUM(CASE WHEN g_keep AND is_first THEN 1 ELSE 0 END)
           AS BIGINT) AS n_keep,
      CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
      CAST(SUM(CASE WHEN g_keep AND is_first THEN n_tokens ELSE 0 END)
           AS BIGINT) AS n_tokens_kept,
      CAST(SUM(CASE WHEN g_keep AND is_first THEN 1 ELSE 0 END)
           AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS keep_rate
    FROM d GROUP BY source
    """


@query("corpus_curation_funnel", oracle=None)
def corpus_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source curation funnel: Gopher pass, C4 pass, exact-unique
    (content-hash first occurrence), combined keep, and the token
    budget before/after — the pipeline's publishable survival table.

    The teacher rule is `_gopher_keep` (shared with the NB
    classifier); the C4 column reuses `c4_signals`
    (operators/corpus.py:871); dedup canonicality is min(doc_id) per
    sha256(text) window — the same convention as dedup_exact_docs.
    """
    from clickhouse_batcher_spark.operators.corpus import c4_signals

    docs = load_table(spark, sf_dir, "documents")
    sig = c4_signals(docs).select(
        "doc_id", "source", "text", F.col("keep").alias("c_keep")
    )
    enriched = sig.select(
        "doc_id",
        "source",
        "text",
        "c_keep",
        tokens("text").alias("toks"),
    ).select(
        "doc_id",
        "source",
        "text",
        "c_keep",
        F.size("toks").cast("bigint").alias("n_toks"),
        _gopher_keep(F.col("toks")).alias("g_keep"),
    )
    w = Window.partitionBy(F.sha2(F.col("text"), 256))
    d = enriched.withColumn(
        "is_first", F.min("doc_id").over(w) == F.col("doc_id")
    )
    cnt_if = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("bigint")  # noqa: E731
    keep = F.col("g_keep") & F.col("is_first")
    return d.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        cnt_if(F.col("g_keep")).alias("n_pass_gopher"),
        cnt_if(F.col("c_keep")).alias("n_pass_c4"),
        cnt_if(F.col("is_first")).alias("n_exact_unique"),
        cnt_if(keep).alias("n_keep"),
        F.sum("n_toks").cast("bigint").alias("n_tokens"),
        F.sum(F.when(keep, F.col("n_toks")).otherwise(0))
        .cast("bigint")
        .alias("n_tokens_kept"),
        (
            F.sum(F.when(keep, 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("keep_rate"),
    )


_ORACLES["corpus_curation_funnel"] = " ".join(_funnel_oracle().split())


# ---------------------------------------------------------------------------
# Calibration of the distilled classifier against its teacher
# ---------------------------------------------------------------------------
def _calibration_oracle() -> str:
    return f"""
    WITH nbq AS ({_nbq_oracle()}),
    p AS (
      SELECT teacher_keep,
        CAST(round(1.0 / (1.0 + exp(-nb_logodds)), 6) AS DECIMAL(9,6))
          AS p6
      FROM nbq
    ), b AS (
      SELECT teacher_keep, p6,
        CAST(least(floor(p6 * 10), 9) AS BIGINT) AS bin
      FROM p
    )
    SELECT bin,
      CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(SUM(CASE WHEN teacher_keep THEN 1 ELSE 0 END) AS BIGINT)
        AS n_teacher_keep,
      round(CAST(SUM(p6) AS DOUBLE) / COUNT(*), 6) AS mean_pred_p,
      round(CAST(SUM(CASE WHEN teacher_keep THEN 1 ELSE 0 END) AS DOUBLE)
            / COUNT(*), 6) AS teacher_keep_rate
    FROM b GROUP BY bin ORDER BY bin
    """


@query("classifier_calibration_bins")  # oracle composed below
def classifier_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram of the distilled NB classifier vs its
    Gopher teacher: sigmoid(log-odds) bucketed into ten fixed-width
    probability bins, each with the mean predicted probability and the
    teacher's empirical keep rate.

    The standard distillation QA step (a fastText/CCNet-style student
    is only usable for threshold tuning if its scores are calibrated):
    a bin whose mean predicted p sits far from the teacher rate says
    the log-odds cannot be thresholded at anything but 0. Fixed-width
    probability bins (not score deciles) keep the operator free of any
    global sort: binning is a pure per-row expression.

    Exactness: the probability is the one transcendental step —
    rounded to 6 on both engines (repo convention), then cast to
    DECIMAL(9,6) so the x10-floor bin assignment and the per-bin sums
    are integer/decimal-exact everywhere.
    """
    scores = nb_scores_cached(spark, sf_dir)
    p6 = F.round(
        F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("nb_logodds"))), 6
    ).cast("decimal(9,6)")
    b = scores.select(
        "teacher_keep",
        p6.alias("p6"),
    ).withColumn(
        "bin",
        F.least(F.floor(F.col("p6") * 10), F.lit(9)).cast("bigint"),
    )
    keep1 = F.sum(F.when(F.col("teacher_keep"), 1).otherwise(0))
    return (
        b.groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            keep1.cast("bigint").alias("n_teacher_keep"),
            F.round(
                F.sum("p6").cast("double") / F.count(F.lit(1)), 6
            ).alias("mean_pred_p"),
            F.round(
                keep1.cast("double") / F.count(F.lit(1)), 6
            ).alias("teacher_keep_rate"),
        )
        .orderBy("bin")
    )


_ORACLES["classifier_calibration_bins"] = " ".join(
    _calibration_oracle().split()
)


# ---------------------------------------------------------------------------
# Quality-threshold budget curve (choose the cutoff under a token budget)
# ---------------------------------------------------------------------------
BUDGET_THRESHOLDS = (0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9)


def _budget_curve_oracle() -> str:
    ths = ", ".join(str(t) for t in BUDGET_THRESHOLDS)
    return f"""
    WITH nbq AS ({_nbq_oracle()}),
    p AS (
      SELECT doc_id, n_tokens,
        CAST(round(1.0 / (1.0 + exp(-nb_logodds)), 6) AS DECIMAL(9,6))
          AS p6
      FROM nbq
    ),
    tot AS (
      SELECT CAST(SUM(n_tokens) AS BIGINT) AS total_tokens FROM p
    ),
    th AS (SELECT unnest([{ths}]) AS threshold),
    f AS (
      SELECT th.threshold, p.n_tokens
      FROM p JOIN th ON CAST(p.p6 AS DOUBLE) >= th.threshold
    )
    SELECT f.threshold,
      CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(SUM(f.n_tokens) AS BIGINT) AS tokens_kept,
      round(CAST(SUM(f.n_tokens) AS DOUBLE) / tot.total_tokens, 6)
        AS token_share
    FROM f CROSS JOIN tot
    GROUP BY f.threshold, tot.total_tokens
    """


@query("quality_budget_curve")  # oracle composed below
def quality_budget_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget curve over the quality classifier: for each
    probability cutoff, how many documents and tokens survive, and
    the surviving share of the corpus's tokens.

    The DataComp/FineWeb-style decision this renders: given a target
    training-token budget, read the row whose tokens_kept matches it
    and that row's threshold IS the filter setting. Same engine-exact
    binning as the calibration report (sigmoid rounded to 6 ->
    DECIMAL(9,6); the >= comparison runs on identical doubles in both
    engines), and the same bounded fan-out shape as the dedup
    threshold sweep: scores x 9 thresholds by broadcast, one
    map-side-combinable rollup, a 1-row total broadcast for the share.
    """
    scores = nb_scores_cached(spark, sf_dir)
    p6 = F.round(
        F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("nb_logodds"))), 6
    ).cast("decimal(9,6)")
    p = scores.select("doc_id", "n_tokens", p6.alias("p6"))
    tot = p.agg(F.sum("n_tokens").cast("bigint").alias("total_tokens"))
    th = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(float(t)) for t in BUDGET_THRESHOLDS])
        ).alias("threshold")
    )
    f = p.join(
        F.broadcast(th), F.col("p6").cast("double") >= F.col("threshold")
    )
    return (
        f.groupBy("threshold")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("tokens_kept"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "threshold",
            "n_docs",
            "tokens_kept",
            F.round(
                F.col("tokens_kept").cast("double") / F.col("total_tokens"),
                6,
            ).alias("token_share"),
        )
    )


_ORACLES["quality_budget_curve"] = " ".join(_budget_curve_oracle().split())


# ---------------------------------------------------------------------------
# Per-source quality-score drift (Population Stability Index)
# ---------------------------------------------------------------------------
PSI_BINS = 10


def _psi_oracle() -> str:
    return f"""
    WITH nbq AS ({_nbq_oracle()}),
    p AS (
      SELECT nbq.doc_id, d.source,
        LEAST(CAST(FLOOR(
          CAST(round(1.0 / (1.0 + exp(-nb_logodds)), 6)
               AS DECIMAL(9,6)) * 10) AS BIGINT), {PSI_BINS - 1}) AS bin
      FROM nbq JOIN documents d ON d.doc_id = nbq.doc_id
    ),
    srcs AS (SELECT DISTINCT source FROM p),
    grid AS (
      SELECT s.source, g.b AS bin
      FROM srcs s, unnest(generate_series(0, {PSI_BINS - 1})) AS g(b)
    ),
    sb AS (
      SELECT source, bin, CAST(COUNT(*) AS BIGINT) AS c
      FROM p GROUP BY 1, 2
    ),
    cb AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS c FROM p GROUP BY 1),
    ns AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM p GROUP BY 1),
    nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM p),
    terms AS (
      SELECT g.source,
        CAST(round(
          ((CAST(COALESCE(sb.c, 0) AS DOUBLE) + 1)
             / (CAST(ns.n AS DOUBLE) + {PSI_BINS})
           - (CAST(COALESCE(cb.c, 0) AS DOUBLE) + 1)
             / (CAST(nt.n AS DOUBLE) + {PSI_BINS}))
          * ln(((CAST(COALESCE(sb.c, 0) AS DOUBLE) + 1)
                  / (CAST(ns.n AS DOUBLE) + {PSI_BINS}))
               / ((CAST(COALESCE(cb.c, 0) AS DOUBLE) + 1)
                  / (CAST(nt.n AS DOUBLE) + {PSI_BINS}))), 6)
          AS DECIMAL(18,6)) AS term,
        ns.n AS n_docs
      FROM grid g
      LEFT JOIN sb ON sb.source = g.source AND sb.bin = g.bin
      LEFT JOIN cb ON cb.bin = g.bin
      JOIN ns ON ns.source = g.source
      CROSS JOIN nt
    )
    SELECT source, CAST(MAX(n_docs) AS BIGINT) AS n_docs,
      CAST(SUM(term) AS DOUBLE) AS psi
    FROM terms GROUP BY source
    """


@query("quality_psi_by_source")  # oracle composed below
def quality_psi_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of each source's quality-score
    distribution against the corpus-wide distribution — the standard
    drift metric (credit-scoring lineage; PSI > 0.25 = major shift)
    applied to the curation question "which source's quality profile
    deviates from the mix?".

    Bins are the calibration report's fixed-width sigmoid(log-odds)
    deciles (zero-sort binning); counts get Laplace +1 smoothing so
    empty bins contribute finite terms. Exactness: bin counts are
    exact integers; each of the 10 PSI terms is one double expression
    over identical integers, rounded to 6 (the repo's transcendental
    contract) and summed as DECIMAL — so the sum is order- and
    engine-exact. The bins-x-sources grid comes from an explode over
    the distinct-source frame, never a cartesian join.
    """
    scores = nb_scores_cached(spark, sf_dir)
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    p6 = F.round(
        F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("nb_logodds"))), 6
    ).cast("decimal(9,6)")
    p = scores.join(src, "doc_id").select(
        "source",
        F.least(F.floor(p6 * 10), F.lit(PSI_BINS - 1))
        .cast("bigint")
        .alias("bin"),
    )
    sb = p.groupBy("source", "bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("c_sb")
    )
    cb = p.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("c_b")
    )
    ns = p.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_s")
    )
    n_total = p.count()  # one bounded scalar, not per-row driver state
    grid = ns.withColumn(
        "bin", F.explode(F.sequence(F.lit(0), F.lit(PSI_BINS - 1)))
    )
    j = (
        grid.join(sb, ["source", "bin"], "left")
        .join(F.broadcast(cb), "bin", "left")
        .na.fill({"c_sb": 0, "c_b": 0})
    )
    p_s = (F.col("c_sb").cast("double") + 1) / (
        F.col("n_s").cast("double") + PSI_BINS
    )
    q = (F.col("c_b").cast("double") + 1) / (
        F.lit(float(n_total)) + PSI_BINS
    )
    term = F.round((p_s - q) * F.log(p_s / q), 6).cast("decimal(18,6)")
    return (
        j.select("source", "n_s", term.alias("term"))
        .groupBy("source")
        .agg(
            F.max("n_s").cast("bigint").alias("n_docs"),
            F.sum("term").cast("double").alias("psi"),
        )
    )


_ORACLES["quality_psi_by_source"] = " ".join(_psi_oracle().split())


# ---------------------------------------------------------------------------
# Near-dup cluster vs quality-verdict consistency
# ---------------------------------------------------------------------------
def _cluster_quality_oracle() -> str:
    from clickhouse_batcher_spark.operators.cluster import _clusters_oracle
    from clickhouse_batcher_spark.operators.dedup import TWIN_ID_OFFSET

    return f"""
    WITH nbq AS ({_nbq_oracle()}),
    comp AS (SELECT * FROM ({_clusters_oracle()}) c),
    j AS (
      SELECT comp.cluster_id,
        CASE WHEN n.nb_keep THEN 1 ELSE 0 END AS keep
      FROM comp
      JOIN nbq n ON n.doc_id = comp.doc_id % {TWIN_ID_OFFSET}
    )
    SELECT cluster_id,
      CAST(COUNT(*) AS BIGINT) AS n_members,
      CAST(SUM(keep) AS BIGINT) AS n_keep,
      CAST(CASE WHEN SUM(keep) > 0 AND SUM(keep) < COUNT(*)
           THEN 1 ELSE 0 END AS BIGINT) AS mixed_verdict
    FROM j GROUP BY cluster_id
    """


@query("cluster_quality_consistency")  # oracle composed below
def cluster_quality_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per near-dup cluster: members, NB-keep members, and the
    mixed-verdict flag (some kept, some dropped). Near-duplicates that
    receive DIFFERENT quality verdicts mean either the dedup is
    over-merging or the quality filter is noisy at its boundary —
    and a keep-canonical pass could keep a "drop" while dropping a
    "keep". Production curation audits exactly this join before
    trusting filter-then-dedup ordering.

    Composes two memoized frames (the CC component labels and the
    NB scored frame) with one keyed join + one combinable aggregate;
    twin members (id + TWIN_ID_OFFSET) inherit their base document's
    verdict via the modulo map, mirrored in the oracle."""
    from clickhouse_batcher_spark.operators.cluster import dedup_clusters
    from clickhouse_batcher_spark.operators.dedup import TWIN_ID_OFFSET

    comps = dedup_clusters(spark, sf_dir).select(
        "cluster_id",
        (F.col("doc_id") % TWIN_ID_OFFSET).alias("base_id"),
    )
    keeps = nb_scores_cached(spark, sf_dir).select(
        F.col("doc_id").alias("base_id"),
        F.when(F.col("nb_keep"), 1).otherwise(0).alias("keep"),
    )
    j = comps.join(keeps, "base_id")
    n_keep = F.sum("keep")
    return j.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
        n_keep.cast("bigint").alias("n_keep"),
        F.when((n_keep > 0) & (n_keep < F.count(F.lit(1))), 1)
        .otherwise(0)
        .cast("bigint")
        .alias("mixed_verdict"),
    )


_ORACLES["cluster_quality_consistency"] = " ".join(
    _cluster_quality_oracle().split()
)
