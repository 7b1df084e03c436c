"""Deterministic sampling & dataset splitting for training pipelines.

`df.sample()` is seed-dependent but partitioning-sensitive — resampling
after a repartition changes membership, which is unacceptable for
reproducible training corpora. Everything here derives membership from
a *content hash* of a stable key column: the decision is a pure
function of the row, independent of partitioning, executor count, and
engine — hence also DuckDB-oracle-checkable.

Bucket = first 4 hex chars of SHA-256(key) mod 100 — uniform enough
for sampling purposes, computable identically in any engine with a
sha256 function. At 100 TB these are per-row maps (no shuffle), and
the split columns prune scans if used as partition keys downstream.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from clickhouse_batcher_spark.catalog import query
from clickhouse_batcher_spark.tables import load_table


def hash_bucket(key: Column | str, buckets: int = 100, salt: str = "") -> Column:
    """Stable bucket in [0, buckets): sha256-hex prefix as int, mod n.

    DuckDB mirror:
    ``CAST(('0x' || substring(sha256(<key>), 1, 4))::BIGINT ... )`` has
    no portable form, so the portable formulation converts the 4-char
    hex prefix via position arithmetic on both sides — see
    ``_SQL_BUCKET``.
    """
    c = F.col(key) if isinstance(key, str) else key
    h = F.substring(F.sha2(F.concat(F.lit(salt), c.cast("string")), 256), 1, 4)
    # hex -> int with conv (Spark-side); bucket in [0, buckets)
    return (F.conv(h, 16, 10).cast("bigint") % buckets).alias("bucket")


def _sql_bucket(key_sql: str, buckets: int = 100, salt: str = "") -> str:
    """DuckDB-portable hex-prefix-to-int: positional digit arithmetic.

    CAUTION: the prefix is 4 hex digits = 16 bits, so the value space
    is [0, 65535]. ``buckets`` beyond 65536 do NOT add resolution —
    as a probability variate that squashes everything below
    65536/buckets (found the hard way in dsir_resample_docs, which
    uses its own 8-digit variant). >65536 is acceptable only for
    deterministic ORDERING with a tie-break (docs_lang_quota_sample).
    """
    h = f"substring(sha256('{salt}' || CAST({key_sql} AS VARCHAR)), 1, 4)"
    digit = (
        lambda i: f"(strpos('0123456789abcdef', substring({h}, {i}, 1)) - 1)"
    )
    val = " + ".join(
        f"{digit(i)} * {16 ** (4 - i)}" for i in range(1, 5)
    )
    return f"(({val}) % {buckets})"


def deterministic_sample(
    df: DataFrame, key: str, fraction_pct: int, salt: str = ""
) -> DataFrame:
    """Keep rows whose bucket < fraction_pct (stable ~pct% sample)."""
    return df.filter(
        (F.conv(
            F.substring(
                F.sha2(F.concat(F.lit(salt), F.col(key).cast("string")), 256), 1, 4
            ),
            16,
            10,
        ).cast("bigint") % 100) < fraction_pct
    )


def train_val_test_split(
    df: DataFrame, key: str, val_pct: int = 10, test_pct: int = 10, salt: str = "split"
) -> DataFrame:
    """Append a stable ``split`` column: train/val/test by hash bucket."""
    bucket = F.conv(
        F.substring(
            F.sha2(F.concat(F.lit(salt), F.col(key).cast("string")), 256), 1, 4
        ),
        16,
        10,
    ).cast("bigint") % 100
    split = (
        F.when(bucket < test_pct, F.lit("test"))
        .when(bucket < test_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("train"))
    )
    return df.withColumn("split", split)


@query(
    "docs_split_counts",
    oracle=f"""
    SELECT CASE WHEN {_sql_bucket("doc_id", salt="split")} < 10 THEN 'test'
                WHEN {_sql_bucket("doc_id", salt="split")} < 20 THEN 'val'
                ELSE 'train' END AS split,
           lang, COUNT(*) AS cnt
    FROM documents GROUP BY 1, 2
    """,
)
def docs_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        train_val_test_split(docs, "doc_id")
        .groupBy("split", "lang")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@query(
    "events_deterministic_sample",
    oracle=f"""
    SELECT event_id, user_id, event_type FROM events
    WHERE {_sql_bucket("event_id")} < 20
    """,
)
def events_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return deterministic_sample(events, "event_id", 20).select(
        "event_id", "user_id", "event_type"
    )


# ---------------------------------------------------------------------------
# Stratified quota sampling: at most N per group, chosen by stable hash
# order (not arbitrary row order) — reproducible class balancing.
# ---------------------------------------------------------------------------
@query(
    "docs_lang_quota_sample",
    oracle=f"""
    SELECT doc_id, lang FROM (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY {_sql_bucket("doc_id", buckets=1000000)},
                                         doc_id) AS rn
      FROM documents) t
    WHERE rn <= 50
    """,
)
def docs_lang_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    order_key = F.conv(
        F.substring(F.sha2(F.col("doc_id").cast("string"), 256), 1, 4), 16, 10
    ).cast("bigint") % 1_000_000
    w = Window.partitionBy("lang").orderBy(order_key, "doc_id")
    return (
        docs.select("doc_id", "lang", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 50)
        .select("doc_id", "lang")
    )


# ---------------------------------------------------------------------------
# Weighted reservoir sampling (Efraimidis-Spirakis A-ES, round-5): a
# without-replacement sample of k docs where inclusion probability is
# proportional to a weight column — the quality-weighted subset
# selection a training-mix pipeline runs after scoring. Priority
# key = ln(u)/w with u a deterministic uniform from the portable
# 60-bit SHA hash, so the "random" sample is reproducible and
# oracle-checkable; take the k LARGEST keys (keys are negative;
# ln(u)/w -> 0 as u -> 1 or w -> inf). One TakeOrdered top-k — no
# shuffle beyond it, any corpus size. ln is rounded to 6 on both
# engines (the repo's transcendental convention); ranks tie-break on
# doc_id.
# ---------------------------------------------------------------------------
WRS_K = 100
_WRS_U_DENOM = float(1 << 60)


@query(
    "weighted_sample_docs",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, CAST(n_chars AS DOUBLE) AS weight,
             CAST(('0x' || substr(sha256('wrs:' || doc_id::VARCHAR), 1, 15))
                  AS BIGINT) / {_WRS_U_DENOM} AS u
      FROM documents WHERE n_chars > 0
    ), keyed AS (
      SELECT doc_id, weight, round(ln(u) / weight, 6) AS priority FROM w
    )
    SELECT doc_id, weight, priority,
           CAST(rank AS BIGINT) AS rank FROM (
      SELECT doc_id, weight, priority,
             ROW_NUMBER() OVER (ORDER BY priority DESC, doc_id) AS rank
      FROM keyed
    ) WHERE rank <= {WRS_K}
    """,
)
def weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-WRS_K docs by Efraimidis-Spirakis priority with weight =
    n_chars: (doc_id, weight, priority, rank)."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    u = (
        F.conv(
            F.substring(
                F.sha2(F.concat(F.lit("wrs:"), F.col("doc_id").cast("string")), 256),
                1,
                15,
            ),
            16,
            10,
        ).cast("bigint")
        / F.lit(_WRS_U_DENOM)
    )
    keyed = docs.select(
        "doc_id",
        F.col("n_chars").cast("double").alias("weight"),
        F.round(F.log(u) / F.col("n_chars").cast("double"), 6).alias("priority"),
    )
    top = keyed.orderBy(F.desc("priority"), F.asc("doc_id")).limit(WRS_K)
    w = Window.orderBy(F.desc("priority"), F.asc("doc_id"))
    return top.select(
        "doc_id",
        "weight",
        "priority",
        F.row_number().over(w).cast("bigint").alias("rank"),
    )


# ---------------------------------------------------------------------------
# Perplexity-bucketed mixture sampling: decile docs by unigram logprob,
# keep a per-decile quota — the standard "prefer mid-perplexity text"
# curriculum shaping step of a pretraining data pipeline.
# ---------------------------------------------------------------------------

PPL_BUCKETS = 10
# Keep-rate (percent) per logprob decile, lowest avg logprob (= highest
# perplexity, noisiest text) first. Mid-perplexity text is kept at the
# highest rate; both tails (boilerplate at one end, garbage at the
# other) are downsampled.
PPL_KEEP_PCT = [5, 15, 30, 60, 90, 90, 60, 30, 15, 5]
_PPL_SALT = "ppl"


def _ppl_rate_case_sql() -> str:
    whens = " ".join(
        f"WHEN {b} THEN {r}" for b, r in enumerate(PPL_KEEP_PCT)
    )
    return f"CASE bucket {whens} END"


def _ppl_oracle() -> str:
    # Compose the already-oracled unigram-logprob query (the oracle IS
    # the shared contract for the metric) with ranking + quota logic.
    from clickhouse_batcher_spark.catalog import ORACLES
    from clickhouse_batcher_spark.operators import corpus  # noqa: F401 (registers)

    lp = ORACLES["docs_unigram_logprob"]
    return f"""
    WITH lp AS ({lp}),
    n AS (SELECT COUNT(*) AS n_total FROM lp),
    ranked AS (
      SELECT lp.*,
             row_number() OVER (ORDER BY avg_logprob, doc_id) - 1 AS idx
      FROM lp
    ),
    b AS (
      SELECT ranked.*, (idx * {PPL_BUCKETS}) // n.n_total AS bucket
      FROM ranked CROSS JOIN n
    ),
    s AS (
      SELECT b.*, {_ppl_rate_case_sql()} AS rate,
             {_sql_bucket('doc_id', 100, _PPL_SALT)} AS hb
      FROM b
    )
    SELECT bucket, COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN hb < rate THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           CAST(SUM(CASE WHEN hb < rate THEN n_tokens ELSE 0 END) AS BIGINT)
             AS kept_tokens
    FROM s GROUP BY bucket
    """


@query("perplexity_bucket_sample", oracle=_ppl_oracle())
def perplexity_bucket_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile documents by unigram avg-logprob (a cheap perplexity
    proxy) and keep a deterministic hash quota per decile.

    Scale shape: the logprob metric is the existing shuffle-minimal
    aggregate; the decile assignment uses the exact distributed global
    index (``with_global_index``, a fold of the two-level ordered scan,
    NEVER a single-partition global window), so ranking
    100 TB of docs stays fully parallel. The total count joins in as a
    broadcast 1-row frame, the keep decision is a pure column hash
    (reproducible across runs and engines), and the result aggregates
    to PPL_BUCKETS rows map-side.
    """
    from clickhouse_batcher_spark.functions import with_global_index
    from clickhouse_batcher_spark.operators.corpus import docs_unigram_logprob

    scored = docs_unigram_logprob(spark, sf_dir)
    ranked = with_global_index(
        scored, [F.col("avg_logprob"), F.col("doc_id")], index_name="idx"
    )
    # counted from the scan's input: the scanned frame would re-run its
    # range exchange and offsets join just to count rows
    total = scored.groupBy().agg(F.count(F.lit(1)).alias("n_total"))
    rate = F.element_at(
        F.array(*[F.lit(r) for r in PPL_KEEP_PCT]), F.col("bucket").cast("int") + 1
    )
    hb = (
        F.conv(
            F.substring(
                F.sha2(
                    F.concat(F.lit(_PPL_SALT), F.col("doc_id").cast("string")), 256
                ),
                1,
                4,
            ),
            16,
            10,
        ).cast("bigint")
        % 100
    )
    tagged = (
        ranked.crossJoin(F.broadcast(total))
        .withColumn(
            "bucket",
            F.expr(f"(idx * {PPL_BUCKETS}) div n_total").cast("bigint"),
        )
        .withColumn("kept", hb < rate)
    )
    return tagged.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("kept"), 1).otherwise(0)).alias("n_kept"),
        F.sum(F.when(F.col("kept"), F.col("n_tokens")).otherwise(0)).alias(
            "kept_tokens"
        ),
    )


# ---------------------------------------------------------------------------
# Temperature-scaled mixture sampling (round-5): the standard
# source-rebalancing op for multilingual / multi-source pretraining
# mixes (sampling probability proportional to n_s^alpha smooths the
# head-heavy source distribution; alpha=1 keeps natural proportions,
# alpha->0 approaches uniform). Membership is a pure hash-threshold
# function per source — reproducible, partitioning-independent, and
# checkable cross-engine; at 100 TB this is one tiny source-count
# aggregate broadcast back over a per-row map, no extra shuffle.

TMIX_ALPHA = 0.5          # temperature exponent (sqrt smoothing)
TMIX_TARGET_FRAC = 0.30   # sampled corpus size vs original
_TMIX_SPACE = 65536       # sha2 hex-prefix value space (16^4)


@query(
    "temperature_mix_sample",
    oracle=f"""
    WITH counts AS (
      SELECT source, COUNT(*) AS n_s FROM documents GROUP BY source
    ), wts AS (
      SELECT source, n_s,
        sqrt(CAST(n_s AS DOUBLE)) AS w,
        SUM(sqrt(CAST(n_s AS DOUBLE))) OVER () AS w_tot,
        SUM(n_s) OVER () AS n_tot
      FROM counts
    ), quota AS (
      SELECT source, n_s,
        round({TMIX_TARGET_FRAC} * CAST(n_tot AS DOUBLE) * w / w_tot)
          AS target_s,
        CAST(round(least(1.0,
          {TMIX_TARGET_FRAC} * CAST(n_tot AS DOUBLE) * w
            / (w_tot * CAST(n_s AS DOUBLE))) * {_TMIX_SPACE}) AS BIGINT)
          AS thresh
      FROM wts
    )
    SELECT q.source, CAST(q.n_s AS BIGINT) AS n_source,
      CAST(q.target_s AS BIGINT) AS quota,
      CAST(COUNT(CASE WHEN
        ({_sql_bucket("doc_id", buckets=_TMIX_SPACE, salt="tmix")}) < q.thresh
        THEN 1 END) AS BIGINT) AS kept
    FROM documents d JOIN quota q ON d.source = q.source
    GROUP BY q.source, q.n_s, q.target_s
    """,
)
def temperature_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per source: natural count, temperature-scaled quota
    (n_s^{TMIX_ALPHA} weighting toward a {TMIX_TARGET_FRAC:.0%}-size
    corpus), and the rows actually kept by the deterministic
    hash-threshold membership test.

    The keep decision is `hash_bucket(doc_id) < round(keep_frac *
    65536)` with keep_frac = min(1, target_s / n_s) — every engine
    computing the same SHA prefix selects the SAME documents, so
    training-set membership survives re-runs, repartitions, and engine
    swaps. kept ~ quota up to hash granularity; the aggregate output
    keeps the driver compare row-stable while the same predicate
    filters the full corpus in a real export.
    """
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_s"))
    w_all = Window.partitionBy()
    wts = counts.select(
        "source",
        "n_s",
        F.sqrt(F.col("n_s").cast("double")).alias("w"),
        F.sum(F.sqrt(F.col("n_s").cast("double"))).over(w_all).alias("w_tot"),
        F.sum("n_s").over(w_all).alias("n_tot"),
    )
    target = (
        F.lit(TMIX_TARGET_FRAC)
        * F.col("n_tot").cast("double")
        * F.col("w")
        / F.col("w_tot")
    )
    quota = wts.select(
        F.col("source").alias("q_source"),
        "n_s",
        F.round(target).alias("target_s"),
        F.round(
            F.least(
                F.lit(1.0), target / F.col("n_s").cast("double")
            )
            * _TMIX_SPACE
        )
        .cast("bigint")
        .alias("thresh"),
    )
    bucket = (
        F.conv(
            F.substring(
                F.sha2(F.concat(F.lit("tmix"), F.col("doc_id").cast("string")), 256),
                1,
                4,
            ),
            16,
            10,
        ).cast("bigint")
        % _TMIX_SPACE
    )
    return (
        docs.join(F.broadcast(quota), docs["source"] == F.col("q_source"))
        .groupBy(
            F.col("q_source").alias("source"),
            F.col("n_s"),
            F.col("target_s"),
        )
        .agg(
            F.count(F.when(bucket < F.col("thresh"), 1))
            .cast("bigint")
            .alias("kept")
        )
        .select(
            "source",
            F.col("n_s").cast("bigint").alias("n_source"),
            F.col("target_s").cast("bigint").alias("quota"),
            "kept",
        )
    )


# ---------------------------------------------------------------------------
# Token-budget mixture planning: the sizing step BEFORE any sampling
# runs — given target language weights and a token budget, how hard
# must each language be up/down-sampled?
# ---------------------------------------------------------------------------
_PLAN_WEIGHTS = {"en": 0.40, "zh": 0.20, "es": 0.15, "de": 0.15, "fr": 0.10}
_PLAN_BUDGET_TOKENS = 1_000_000


def _budget_plan_oracle() -> str:
    rows = " UNION ALL ".join(
        f"SELECT '{lang}' AS lang, CAST({w} AS DOUBLE) AS weight"
        for lang, w in _PLAN_WEIGHTS.items()
    )
    return f"""
    WITH w AS ({rows}),
    avail AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(length(list_filter(string_split(text, ' '),
                                          t -> t <> ''))) AS BIGINT)
               AS available_tokens
      FROM documents GROUP BY lang
    )
    SELECT a.lang, a.n_docs, a.available_tokens, w.weight,
           CAST(round({_PLAN_BUDGET_TOKENS} * w.weight) AS BIGINT)
             AS target_tokens,
           round(CAST(round({_PLAN_BUDGET_TOKENS} * w.weight) AS DOUBLE)
                 / a.available_tokens, 6) AS epochs,
           round(LEAST(1.0,
                 CAST(round({_PLAN_BUDGET_TOKENS} * w.weight) AS DOUBLE)
                 / a.available_tokens), 6) AS keep_rate
    FROM avail a JOIN w ON w.lang = a.lang
    """


@query("lang_token_budget_plan", oracle=_budget_plan_oracle())
def lang_token_budget_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language mixture sizing for a fixed training token budget:
    available whitespace tokens, the language's target share, and the
    resulting epochs (>1 = the language must repeat) and keep_rate
    (<1 = downsample) — the arithmetic a curriculum/mixture config is
    generated from (the practice behind temperature_mix_sample and
    training_mix_by_source; this op plans the constants those execute).

    Scale shape: one scan with an in-row token count (split + filter,
    whole-stage codegen), one map-side-combinable groupBy(lang), and a
    broadcast join against the 5-row weight table. The division is
    over exact integers on both engines; one final round(6) per the
    float contract.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = F.size(
        F.filter(F.split("text", " ", -1), lambda t: F.length(t) > 0)
    )
    avail = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(toks).cast("bigint").alias("available_tokens"),
    )
    weights = spark.createDataFrame(
        [(lang, float(w)) for lang, w in _PLAN_WEIGHTS.items()],
        "w_lang STRING, weight DOUBLE",
    )
    target = F.round(F.lit(float(_PLAN_BUDGET_TOKENS)) * F.col("weight")).cast(
        "bigint"
    )
    joined = avail.join(
        F.broadcast(weights), F.col("lang") == F.col("w_lang")
    ).withColumn("target_tokens", target)
    epochs = F.col("target_tokens").cast("double") / F.col(
        "available_tokens"
    ).cast("double")
    return joined.select(
        "lang",
        "n_docs",
        "available_tokens",
        "weight",
        "target_tokens",
        F.round(epochs, 6).alias("epochs"),
        F.round(F.least(F.lit(1.0), epochs), 6).alias("keep_rate"),
    )


# ---------------------------------------------------------------------------
# DoReMi-style domain reweighting (Xie et al. 2023, arXiv:2305.10429):
# Group-DRO over data domains — upweight domains whose proxy-model
# excess loss is highest, then smooth toward uniform. The full method
# alternates proxy training with exponentiated-gradient updates; the
# distributed data-engine step is exactly what runs here: given a
# per-domain proxy loss, produce the next round's domain mixture
# (baseline-share * exp(eta * clipped excess loss), normalized, mixed
# with uniform). The proxy loss is the corpus unigram LM (the same
# model-free stand-in docs_unigram_logprob uses; swap per-token
# losses from a real proxy model in deployment — the plan shape is
# identical: token-level aggregate per domain, 1 tiny window).
#
# Determinism: per-token ln(p) is rounded to 6 and summed as
# DECIMAL(27,6) (order-free); the exp() boost is rounded to 6 (the
# transcendental convention); the unnormalized weight is fixed to
# integer parts-per-million via floor(x*1e6 + 0.5) — positive-range
# half-up that both engines compute identically — so the normalizing
# sum is an exact BIGINT sum and every division is one IEEE op on
# identical operands.
#
# Scale (100 TB): one token-shuffle for the vocab aggregate (zipf-
# small result, broadcast back), one per-domain aggregate, then
# window sums over the ≤#domains-row frame (bounded; the same
# whitelisted single-partition shape as temperature_mix_sample).
# ---------------------------------------------------------------------------

DOREMI_ETA = 2.0      # exponentiated-gradient step size
DOREMI_SMOOTH = 0.10  # uniform-mixture smoothing (paper's c, scaled
                      # up so the effect is visible at test SF)


def _doremi_oracle() -> str:
    from clickhouse_batcher_spark.operators.text import SQL_TOKENS

    return f"""
    WITH occ AS (
      SELECT doc_id, source, unnest({SQL_TOKENS}) AS token FROM documents
    ),
    vocab AS (SELECT token, COUNT(*) AS cnt FROM occ GROUP BY token),
    tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM vocab),
    scored AS (
      SELECT o.source, o.doc_id,
             CAST(round(ln(CAST(v.cnt AS DOUBLE) / CAST(tot.total AS DOUBLE)),
                        6) AS DECIMAL(27,6)) AS lp
      FROM occ o JOIN vocab v ON o.token = v.token CROSS JOIN tot
    ),
    dom AS (
      SELECT source,
             CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
             CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(SUM(lp) AS DECIMAL(27,6)) AS sum_lp
      FROM scored GROUP BY source
    ),
    g AS (
      SELECT source, n_docs, n_tokens, sum_lp,
             CAST(SUM(n_tokens) OVER () AS BIGINT) AS tot_tokens,
             CAST(SUM(sum_lp) OVER () AS DECIMAL(27,6)) AS tot_lp,
             CAST(COUNT(*) OVER () AS BIGINT) AS n_domains
      FROM dom
    ),
    x AS (
      SELECT source, n_docs, n_tokens, n_domains,
             CAST(n_tokens AS DOUBLE) / CAST(tot_tokens AS DOUBLE)
               AS token_share,
             -(CAST(sum_lp AS DOUBLE) / CAST(n_tokens AS DOUBLE))
               AS domain_loss,
             -(CAST(tot_lp AS DOUBLE) / CAST(tot_tokens AS DOUBLE))
               AS ref_loss
      FROM g
    ),
    y AS (
      SELECT source, n_docs, n_tokens, n_domains, token_share, domain_loss,
             greatest(0.0, domain_loss - ref_loss) AS excess_loss,
             CAST(floor(
               token_share
               * round(exp({DOREMI_ETA}
                           * greatest(0.0, domain_loss - ref_loss)), 6)
               * 1000000 + 0.5) AS BIGINT) AS u_ppm
      FROM x
    ),
    z AS (
      SELECT y.*, CAST(SUM(u_ppm) OVER () AS BIGINT) AS u_tot FROM y
    )
    SELECT source, n_docs, n_tokens, token_share, domain_loss, excess_loss,
           CAST(u_ppm AS DOUBLE) / CAST(u_tot AS DOUBLE) AS doremi_weight,
           (1.0 - {DOREMI_SMOOTH})
             * (CAST(u_ppm AS DOUBLE) / CAST(u_tot AS DOUBLE))
             + {DOREMI_SMOOTH} / CAST(n_domains AS DOUBLE) AS final_weight
    FROM z
    """


@query("doremi_domain_weights", oracle=_doremi_oracle())
def doremi_domain_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One DoReMi exponentiated-gradient step over source domains.

    Per source: token share (the baseline mixture), unigram proxy
    loss, clipped excess loss vs the corpus reference, and the updated
    mixture weight — baseline * exp(eta * excess), normalized, then
    smoothed toward uniform. Domains whose text the corpus-wide LM
    finds hardest gain weight; the smoothing floor keeps every domain
    sampled (arXiv:2305.10429 §3, Algorithm 1's lambda update).
    """
    from clickhouse_batcher_spark.functions import tokens

    docs = load_table(spark, sf_dir, "documents")
    occ = docs.select(
        "doc_id", "source", F.explode(tokens("text")).alias("token")
    )
    vocab = occ.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    total = vocab.agg(F.sum("cnt").cast("bigint").alias("total"))
    lp = F.round(
        F.log(F.col("cnt").cast("double") / F.col("total").cast("double")), 6
    ).cast("decimal(27,6)")
    scored = (
        occ.join(F.broadcast(vocab), "token")
        .crossJoin(F.broadcast(total))
        .select("source", "doc_id", lp.alias("lp"))
    )
    dom = scored.groupBy("source").agg(
        F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.sum("lp").cast("decimal(27,6)").alias("sum_lp"),
    )
    w_all = Window.partitionBy()
    g = dom.select(
        "source",
        "n_docs",
        "n_tokens",
        "sum_lp",
        F.sum("n_tokens").over(w_all).cast("bigint").alias("tot_tokens"),
        F.sum("sum_lp").over(w_all).cast("decimal(27,6)").alias("tot_lp"),
        F.count(F.lit(1)).over(w_all).cast("bigint").alias("n_domains"),
    )
    token_share = F.col("n_tokens").cast("double") / F.col(
        "tot_tokens"
    ).cast("double")
    domain_loss = -(
        F.col("sum_lp").cast("double") / F.col("n_tokens").cast("double")
    )
    ref_loss = -(
        F.col("tot_lp").cast("double") / F.col("tot_tokens").cast("double")
    )
    excess = F.greatest(F.lit(0.0), domain_loss - ref_loss)
    boost = F.round(F.exp(F.lit(DOREMI_ETA) * excess), 6)
    u_ppm = F.floor(token_share * boost * 1000000 + F.lit(0.5)).cast("bigint")
    y = g.select(
        "source",
        "n_docs",
        "n_tokens",
        "n_domains",
        token_share.alias("token_share"),
        domain_loss.alias("domain_loss"),
        excess.alias("excess_loss"),
        u_ppm.alias("u_ppm"),
    )
    z = y.withColumn(
        "u_tot", F.sum("u_ppm").over(w_all).cast("bigint")
    )
    w = F.col("u_ppm").cast("double") / F.col("u_tot").cast("double")
    return z.select(
        "source",
        "n_docs",
        "n_tokens",
        "token_share",
        "domain_loss",
        "excess_loss",
        w.alias("doremi_weight"),
        (
            F.lit(1.0 - DOREMI_SMOOTH) * w
            + F.lit(DOREMI_SMOOTH) / F.col("n_domains").cast("double")
        ).alias("final_weight"),
    )


# ---------------------------------------------------------------------------
# Temperature-mixing curve: source shares across a tau grid
# ---------------------------------------------------------------------------
TMIX_TAUS = (0.3, 0.5, 0.7, 1.0)


@query(
    "temperature_mix_curve",
    oracle=f"""
    WITH counts AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY source
    ),
    taus AS (SELECT unnest([{", ".join(str(t) for t in TMIX_TAUS)}]) AS tau),
    w AS (
      SELECT c.source, c.n_docs, t.tau,
        pow(CAST(c.n_docs AS DOUBLE), t.tau) AS wt
      FROM counts c CROSS JOIN taus t
    )
    SELECT tau, source, n_docs,
      round(wt / SUM(wt) OVER (PARTITION BY tau), 6) AS mix_share,
      round(CAST(n_docs AS DOUBLE)
            / SUM(n_docs) OVER (PARTITION BY tau), 6) AS natural_share
    FROM w
    """,
)
def temperature_mix_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source mixing shares across a temperature grid: for each tau in
    TMIX_TAUS, the share each source gets under n^tau weighting next
    to its natural share — the table a data-mixing decision reads
    before committing to one temperature (tau=1 reproduces natural;
    tau->0 approaches uniform; GPT-3 / PaLM style mixes sit around
    0.3-0.7). ``temperature_mix_sample`` EXECUTES one chosen tau; this
    operator shows the whole knob.

    Exactness: counts are exact; pow/share are one double expression
    over identical integers per row, rounded to 6 (the repo's
    transcendental contract). The tau grid is an explode over the
    source-cardinality count frame (bounded; the oracle's CROSS JOIN
    is sources x 4 literals, equally bounded) — the per-tau window
    runs over that same bounded frame."""
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    w = counts.withColumn(
        "tau", F.explode(F.array(*[F.lit(t) for t in TMIX_TAUS]))
    ).withColumn(
        "wt", F.pow(F.col("n_docs").cast("double"), F.col("tau"))
    )
    win = Window.partitionBy("tau")
    return w.select(
        "tau",
        "source",
        "n_docs",
        F.round(F.col("wt") / F.sum("wt").over(win), 6).alias("mix_share"),
        F.round(
            F.col("n_docs").cast("double")
            / F.sum("n_docs").over(win),
            6,
        ).alias("natural_share"),
    )
