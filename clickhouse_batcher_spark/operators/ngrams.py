"""Token n-gram operators: repetition quality signals + tokenizer
merge-pair statistics.

Two corpus-preparation operations over adjacent-token n-grams:

- **Repetition signals** (``docs_repetition_signals``): the Gopher
  repetition rules the structural filter (``quality_filter_gopher``,
  reference behavior surveyed in SURVEY.md §2 "LLM pipeline ops")
  does not cover — the fraction of bigram occurrences taken by the
  single most frequent bigram, and the fraction of trigram
  occurrences whose trigram appears more than once. Machine-generated
  / boilerplate text loops short phrases; both signals spike on it.
- **Merge-pair counts** (``bpe_pair_counts``): global adjacent-pair
  frequencies — the statistic a BPE tokenizer trainer computes every
  merge round. One round is a pure relational job: explode pairs,
  count, top-k.

Determinism: every fraction is a single IEEE division of two exact
integers (counts), so results are partition-order independent with no
decimal routing needed. Top-k ties break on the pair string itself
(unique key), so ranks are total-ordered.

Scale:

- The repetition signals are *zero-shuffle*: n-gram construction is
  ``zip_with`` over shifted ``slice`` views of the token array, and
  per-document counting runs in-row over ``array_distinct`` —
  O(d·u) per document (d n-grams, u distinct) with no explode and no
  groupBy. That quadratic is bounded by document length; for a corpus
  of book-length documents switch the counting to the exploded
  ``groupBy(doc_id, ngram)`` form (one shuffle, linear) — the output
  contract is identical.
- ``bpe_pair_counts`` shuffles vocabulary-pair rows only: the explode
  feeds a ``groupBy(pair)`` whose map-side partial aggregation
  collapses each partition to its distinct pairs (zipf-bounded)
  before the exchange, and the global top-k is Spark's
  ``TakeOrderedAndProject`` (per-partition heaps, no full sort).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from clickhouse_batcher_spark.catalog import query
from clickhouse_batcher_spark.functions import tokens
from clickhouse_batcher_spark.operators.text import SQL_TOKENS
from clickhouse_batcher_spark.tables import load_table

TOP_BIGRAM_MAX_FRAC = 0.08   # most frequent bigram may take <= 8% of bigrams
DUP_TRIGRAM_MAX_FRAC = 0.02  # <= 2% of trigram occurrences may be repeats
TOP_PAIRS = 50               # merge candidates reported per round

# DuckDB n-gram construction: lists are 1-indexed and
# generate_series(1, 0) is empty, so short docs yield empty n-gram
# lists on both engines (Spark's slice(_, 1, greatest(0, n-k+1))).
_SQL_NGRAMS = f"""
    SELECT doc_id,
      list_transform(generate_series(1, len(toks) - 1),
                     i -> toks[i] || ' ' || toks[i + 1]) AS bg,
      list_transform(generate_series(1, len(toks) - 2),
                     i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])
        AS tg
    FROM (SELECT doc_id, {SQL_TOKENS} AS toks FROM documents)
"""


def _ngram_arrays(df: DataFrame) -> DataFrame:
    """doc_id, bg (bigram strings), tg (trigram strings) — in-row only."""
    toks = tokens("text")
    n = F.size(toks)
    base = df.select(F.col("doc_id"), toks.alias("toks"), n.alias("n"))
    shift = lambda k: F.slice(  # noqa: E731 — tokens k..end, clipped
        F.col("toks"), k, F.greatest(F.lit(0), F.col("n") - (k - 1))
    )
    bg = F.zip_with(
        F.slice(F.col("toks"), 1, F.greatest(F.lit(0), F.col("n") - 1)),
        shift(2),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    out = base.select("doc_id", "toks", "n", bg.alias("bg"))
    tg = F.zip_with(
        F.slice(F.col("bg"), 1, F.greatest(F.lit(0), F.col("n") - 2)),
        shift(3),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    return out.select("doc_id", "bg", tg.alias("tg"))


def _inrow_counts(arr_col: str):
    """Occurrence count of each distinct n-gram, computed in-row."""

    def count_of(g):
        return F.size(F.filter(F.col(arr_col), lambda x: x == g))

    return F.transform(F.array_distinct(F.col(arr_col)), count_of)


@query(
    "docs_repetition_signals",
    oracle=f"""
    WITH g AS ({_SQL_NGRAMS}),
    m AS (
      SELECT doc_id,
        CAST(len(bg) AS BIGINT) AS n_bigrams,
        CAST(len(tg) AS BIGINT) AS n_trigrams,
        CAST(coalesce(list_max(list_transform(list_distinct(bg),
               b -> len(list_filter(bg, x -> x = b)))), 0) AS BIGINT)
          AS top_bigram_cnt,
        CAST(coalesce(list_sum(list_transform(
               list_transform(list_distinct(tg),
                 b -> len(list_filter(tg, x -> x = b))),
               c -> CASE WHEN c > 1 THEN c ELSE 0 END)), 0) AS BIGINT)
          AS dup_trigram_cnt
      FROM g
    ), f AS (
      SELECT *,
        CASE WHEN n_bigrams > 0
          THEN CAST(top_bigram_cnt AS DOUBLE) / CAST(n_bigrams AS DOUBLE)
          ELSE 0.0 END AS top_bigram_frac,
        CASE WHEN n_trigrams > 0
          THEN CAST(dup_trigram_cnt AS DOUBLE) / CAST(n_trigrams AS DOUBLE)
          ELSE 0.0 END AS dup_trigram_frac
      FROM m
    )
    SELECT doc_id, n_bigrams, n_trigrams, top_bigram_cnt, dup_trigram_cnt,
      top_bigram_frac, dup_trigram_frac,
      top_bigram_frac <= {TOP_BIGRAM_MAX_FRAC} AS r_top_bigram,
      dup_trigram_frac <= {DUP_TRIGRAM_MAX_FRAC} AS r_dup_trigram,
      (top_bigram_frac <= {TOP_BIGRAM_MAX_FRAC}
       AND dup_trigram_frac <= {DUP_TRIGRAM_MAX_FRAC}) AS keep
    FROM f
    """,
)
def docs_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc phrase-repetition fractions + keep/reject verdict."""
    g = _ngram_arrays(load_table(spark, sf_dir, "documents"))
    top_bg = F.coalesce(F.array_max(_inrow_counts("bg")), F.lit(0))
    dup_tg = F.coalesce(
        F.aggregate(
            _inrow_counts("tg"),
            F.lit(0),
            lambda acc, c: acc + F.when(c > 1, c).otherwise(0),
        ),
        F.lit(0),
    )
    m = g.select(
        "doc_id",
        F.size("bg").cast("bigint").alias("n_bigrams"),
        F.size("tg").cast("bigint").alias("n_trigrams"),
        top_bg.cast("bigint").alias("top_bigram_cnt"),
        dup_tg.cast("bigint").alias("dup_trigram_cnt"),
    )
    top_frac = F.when(
        F.col("n_bigrams") > 0,
        F.col("top_bigram_cnt").cast("double")
        / F.col("n_bigrams").cast("double"),
    ).otherwise(F.lit(0.0))
    dup_frac = F.when(
        F.col("n_trigrams") > 0,
        F.col("dup_trigram_cnt").cast("double")
        / F.col("n_trigrams").cast("double"),
    ).otherwise(F.lit(0.0))
    f = m.select(
        "*",
        top_frac.alias("top_bigram_frac"),
        dup_frac.alias("dup_trigram_frac"),
    )
    r_top = F.col("top_bigram_frac") <= TOP_BIGRAM_MAX_FRAC
    r_dup = F.col("dup_trigram_frac") <= DUP_TRIGRAM_MAX_FRAC
    return f.select(
        "*",
        r_top.alias("r_top_bigram"),
        r_dup.alias("r_dup_trigram"),
        (r_top & r_dup).alias("keep"),
    )


@query(
    "bpe_pair_counts",
    oracle=f"""
    WITH g AS ({_SQL_NGRAMS}),
    occ AS (SELECT unnest(bg) AS pair FROM g),
    c AS (SELECT pair, count(*) AS cnt FROM occ GROUP BY pair)
    SELECT pair, cnt,
      CAST(row_number() OVER (ORDER BY cnt DESC, pair) AS BIGINT) AS rank
    FROM c ORDER BY cnt DESC, pair LIMIT {TOP_PAIRS}
    """,
)
def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top adjacent-token merge candidates (one BPE training round).

    The global window ranks only the top-{TOP_PAIRS} rows, which Spark
    produces via TakeOrderedAndProject (per-partition heaps) — the
    single-partition window never sees more than TOP_PAIRS rows, so
    the plan is scale-safe even with a large pair vocabulary.
    """
    g = _ngram_arrays(load_table(spark, sf_dir, "documents"))
    c = (
        g.select(F.explode("bg").alias("pair"))
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    top = c.orderBy(F.desc("cnt"), F.asc("pair")).limit(TOP_PAIRS)
    w = Window.orderBy(F.desc("cnt"), F.asc("pair"))
    return top.select(
        "pair", "cnt", F.row_number().over(w).cast("bigint").alias("rank")
    )


# ---------------------------------------------------------------------------
# Iterative BPE merge learning (round-5): the actual tokenizer-training
# loop, not just one round of pair statistics. Each round: (1) count
# adjacent symbol pairs globally (explode -> map-side-combined groupBy),
# (2) pick the argmax pair — ONE row to the driver, the k-means/PageRank
# bounded-driver-traffic pattern, (3) greedily merge its left-to-right
# non-overlapping occurrences inside every document's symbol array with
# a JVM-side aggregate fold (no Python in the loop), (4) repeat. The
# evolving symbol state stays distributed; only the k chosen pairs ever
# reach the driver. At 100 TB a BPE trainer runs on a corpus SAMPLE by
# construction (the statistic converges long before the corpus ends) —
# bound the input with .limit/sample upstream, same plan.
#
# No DuckDB oracle: the greedy in-array merge fold needs a typed
# accumulator DuckDB's list_reduce lacks, and k chained rounds are not
# expressible as one SQL statement — the correctness check is an exact
# sequential recompute in pytest (the coactivity_pagerank pattern).
# ---------------------------------------------------------------------------
BPE_MERGE_ROUNDS = 4


@query("bpe_learn_merges", oracle=None)  # rows-only: iterative algorithm
def bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The learned merge table: (round, sym_a, sym_b, cnt) for
    BPE_MERGE_ROUNDS greedy merges over the word-level symbol corpus.
    Ties break (cnt desc, sym_a asc, sym_b asc), so the sequence is
    total-ordered and engine-independent."""
    docs = load_table(spark, sf_dir, "documents")
    sym = docs.select(F.col("doc_id"), tokens("text").alias("syms"))
    merges: list[tuple[int, str, str, int]] = []
    prev = None
    for rnd in range(1, BPE_MERGE_ROUNDS + 1):
        sym = sym.cache()
        pairs = sym.select(
            F.explode(
                F.expr(
                    "zip_with("
                    " slice(syms, 1, greatest(size(syms) - 1, 0)),"
                    " slice(syms, 2, greatest(size(syms) - 1, 0)),"
                    " (a, b) -> struct(a, b))"
                )
            ).alias("p")
        )
        top = (
            pairs.groupBy("p")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("p.a"), F.asc("p.b"))
            .limit(1)
            .collect()
        )
        if not top or top[0]["cnt"] < 2:
            break
        a, b, cnt = top[0]["p"]["a"], top[0]["p"]["b"], int(top[0]["cnt"])
        merges.append((rnd, a, b, cnt))
        # same linear replace-based merge the encode path uses
        nxt = sym.select("doc_id", _merge_fold("syms", a, b).alias("syms"))
        if prev is not None:
            prev.unpersist()
        prev = sym
        sym = nxt
    if prev is not None:
        prev.unpersist()
    return spark.createDataFrame(
        merges, "round INT, sym_a STRING, sym_b STRING, cnt BIGINT"
    )


# ---------------------------------------------------------------------------
# BPE ENCODE (round-5 third session): apply the learned merge sequence
# to every document — the other half of the tokenizer loop
# (bpe_learn_merges trains, this encodes). Each learned merge becomes
# one JVM-side greedy left-to-right fold over the symbol array, chained
# in merge order inside a single select — k merges = k folds, zero
# Python, zero extra shuffles (the whole encode is a map). Un-merging
# (splitting every symbol on its internal spaces) restores the original
# token stream exactly, which is the pytest invariant.
# ---------------------------------------------------------------------------


_MERGES_CACHE: dict[str, list[tuple[str, str]]] = {}


def _learned_merges(spark, sf_dir: str) -> list[tuple[str, str]]:
    """The ordered merge table for a corpus, learned once per process.

    The testdata corpora are immutable per session, so re-running the
    4-round learning loop inside every encode would only re-derive the
    same pairs (measured: ~half of bpe_encode_docs' runtime). Keyed by
    the corpus path; the learning QUERY itself (`bpe_learn_merges`)
    always recomputes — only the encode path reads the cache.
    """
    if sf_dir not in _MERGES_CACHE:
        _MERGES_CACHE[sf_dir] = [
            (r["sym_a"], r["sym_b"])
            for r in bpe_learn_merges(spark, sf_dir).orderBy("round").collect()
        ]
    return _MERGES_CACHE[sf_dir]


def _merge_fold(syms_col, a: str, b: str):
    """One greedy non-overlapping left-to-right merge of (a, b).

    LINEAR string-replace formulation (round-13 optimization). The
    original ``F.aggregate`` fold appended to an array accumulator —
    ``concat(acc, array(s))`` copies the accumulated array on every
    element, so one merge pass over a t-token doc cost O(t^2) array
    cells (measured: the 4-round chain dominated bpe_encode_docs /
    bpe_roundtrip_violations). Greedy non-overlapping left-to-right
    pair merging is exactly what a literal string ``replace`` does, so:
    join the symbols with a separator no symbol can contain, replace,
    split back — three linear passes.

    Encoding: symbols are whitespace-split tokens (no ``\\s`` chars)
    or earlier merges' outputs (joined with single SPACES), so TAB can
    never appear inside a symbol. Each symbol is wrapped in single
    tabs and symbols are separated by double tabs — the pattern
    ``\\t a \\t\\t b \\t`` can only match at symbol boundaries, and
    replacing it with ``\\t a+SPACE+b \\t`` preserves the framing, so
    adjacent matches (e.g. [a,b,a,b]) still both fire exactly like the
    fold. Equivalence with the sequential fold (incl. a==b overlap
    cases) is pinned by tests/test_ngrams_unigram.py's sequential
    re-encode plus the randomized fold-equivalence test.
    """
    return _merge_fold_chain(syms_col, [(a, b)])


def _merge_fold_chain(syms_col, merges: list[tuple[str, str]]):
    """Apply a whole merge sequence with ONE array->string round trip.

    Each merge is one linear ``replace`` on the tab-framed string; the
    string threads through all k replaces with every intermediate
    referenced exactly once (``btrim`` strips the frame in a single
    reference — ``substr(2, length-2)`` would reference it twice and
    double the chain). Chaining the ARRAY form instead (k nested
    _merge_fold calls) re-references each level's input 3x (empty
    guard, join, otherwise), i.e. 3^k copies of the base subtree in
    the expression tree — measured as most of bpe_roundtrip_violations'
    remaining cost after the linear fold landed.
    """
    col = F.col(syms_col) if isinstance(syms_col, str) else syms_col
    if not merges:
        return col
    s = F.concat(F.lit("\t"), F.array_join(col, "\t\t"), F.lit("\t"))
    for a, b in merges:
        s = F.replace(s, F.lit(f"\t{a}\t\t{b}\t"), F.lit(f"\t{a} {b}\t"))
    # symbols are non-empty and tab-free, so the frame is exactly one
    # tab each side; empty array: array_join gives "" and split would
    # resurrect [""]
    return F.when(F.size(col) == 0, col).otherwise(
        F.split(F.btrim(s, F.lit("\t")), "\t\t")
    )


@query("bpe_encode_docs", oracle=None)  # rows-only: learned-state dependent
def bpe_encode_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per document: token count before/after applying the
    BPE_MERGE_ROUNDS learned merges in order, plus the first 8 encoded
    symbols (`|`-joined; intra-symbol spaces mark merge boundaries).

    The merge table comes from `bpe_learn_merges` (one driver-side
    list of ≤4 pairs); application is merge-ordered fold composition —
    a pure per-row map, so encoding scales with the corpus scan and
    the chained-fold cost per row, never with corpus size. The pytest
    contract: splitting every output symbol on spaces restores the
    original token stream, and a sequential Python re-encode of sample
    docs matches symbol-for-symbol.
    """
    merges = _learned_merges(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    out = docs.select("doc_id", tokens("text").alias("syms")).withColumn(
        "n_tokens", F.size("syms")
    )
    # one chained-replace pass, materialized as its own projection so
    # the three consumers below reference an attribute, not 3 copies
    # of the chain (CollapseProject keeps non-cheap multi-referenced
    # aliases in their own Project)
    enc = out.withColumn(
        "_enc", _merge_fold_chain("syms", merges)
    )
    return enc.select(
        "doc_id",
        "n_tokens",
        F.size("_enc").alias("n_symbols"),
        F.round(
            F.size("_enc").cast("double") / F.col("n_tokens"), 6
        ).alias("compression"),
        F.concat_ws("|", F.slice("_enc", 1, 8)).alias("head_symbols"),
    )


# ---------------------------------------------------------------------------
# Vocabulary growth (Heaps' law) curve
# ---------------------------------------------------------------------------
@query(
    "vocab_growth_curve",
    oracle=f"""
    WITH toks AS (
      SELECT DISTINCT doc_id, unnest(toks) AS tok
      FROM (SELECT doc_id, {SQL_TOKENS} AS toks FROM documents)
    ), firsts AS (
      SELECT tok, MIN(doc_id) AS first_doc FROM toks GROUP BY tok
    ), news AS (
      SELECT first_doc AS doc_id, CAST(COUNT(*) AS BIGINT) AS new_tokens
      FROM firsts GROUP BY first_doc
    ), cnts AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_distinct_toks
      FROM toks GROUP BY doc_id
    )
    SELECT c.doc_id,
           COALESCE(n.new_tokens, 0) AS new_tokens,
           CAST(SUM(COALESCE(n.new_tokens, 0))
                OVER (ORDER BY c.doc_id) AS BIGINT) AS cum_vocab,
           CAST(SUM(c.n_distinct_toks)
                OVER (ORDER BY c.doc_id) AS BIGINT) AS cum_doc_tokens
    FROM cnts c LEFT JOIN news n ON n.doc_id = c.doc_id
    """,
)
def vocab_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law diagnostic: per document (in ingestion order), how
    many never-before-seen tokens it contributes, plus the running
    vocabulary size and running distinct-token volume. A vocabulary
    curve that flattens early means the corpus has stopped teaching
    new surface forms — the companion signal to ``doc_novelty_ratio``
    at the token level.

    First-occurrence attribution is a MIN aggregate on the token key;
    both running totals go through ``with_global_cumsum`` (two-level
    exact, fully parallel), never a single-partition window.
    """
    from clickhouse_batcher_spark.functions import with_global_cumsum

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(tokens("text")).alias("tok")
    ).distinct()
    firsts = toks.groupBy("tok").agg(F.min("doc_id").alias("first_doc"))
    news = firsts.groupBy(F.col("first_doc").alias("doc_id")).agg(
        F.count(F.lit(1)).cast("bigint").alias("new_tokens")
    )
    cnts = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_distinct_toks")
    )
    base = cnts.join(news, "doc_id", "left").select(
        "doc_id",
        "n_distinct_toks",
        F.coalesce(F.col("new_tokens"), F.lit(0).cast("bigint")).alias(
            "new_tokens"
        ),
    )
    out = with_global_cumsum(
        base,
        {"new_tokens": "cum_vocab", "n_distinct_toks": "cum_doc_tokens"},
        ["doc_id"],
    )
    return out.select(
        "doc_id",
        "new_tokens",
        F.col("cum_vocab").cast("bigint").alias("cum_vocab"),
        F.col("cum_doc_tokens").cast("bigint").alias("cum_doc_tokens"),
    )


# ---------------------------------------------------------------------------
# Unigram-LM tokenizer (SentencePiece's second algorithm — Kudo 2018,
# arXiv:1804.10959), the companion trainer to BPE above. Where BPE
# grows a vocabulary bottom-up by greedy merges, the unigram LM starts
# from a large candidate set and fits piece probabilities with EM over
# the best segmentation (hard/Viterbi EM here), then prunes to the
# target vocabulary.
#
# Distribution shape (100 TB): every statistic runs over the DISTINCT
# WORD frame (Heaps-law sublinear in corpus size), weighted by word
# frequency — the corpus itself is scanned exactly once to build that
# frame. Candidate-substring counting is an in-row expansion bounded
# by word_len * MAX_PIECE_LEN. Each EM round is one Arrow-batched
# mapInPandas over the words frame (the piece table rides along in
# the task closure — it is vocabulary-bounded) followed by one
# map-side-combinable integer aggregate; only the bounded piece table
# ever reaches the driver (the BPE/k-means bounded-driver-traffic
# pattern). Encoding applies the same Viterbi per row — a pure map.
#
# Determinism: Viterbi runs on INTEGER micro-log-probs
# (round(ln(p)*1e6)) with total-ordered tie-breaks (score, then fewer
# pieces, then longest last piece), so segmentations are exact and
# platform-independent; all aggregated counts are integers. No DuckDB
# oracle: k chained EM rounds with an in-loop DP are not one SQL
# statement — the correctness check is an exact sequential recompute
# in pytest (the bpe_learn_merges pattern).
# ---------------------------------------------------------------------------

UNIGRAM_MAX_PIECE_LEN = 4
UNIGRAM_SEED_MULTI = 96    # multi-char seed pieces (chars always kept)
UNIGRAM_FINAL_VOCAB = 64   # pruned vocabulary (incl. all single chars)
UNIGRAM_EM_ROUNDS = 3


def _build_viterbi():
    """Factory returning the Viterbi segmenter as a LOCAL def: kernels
    that ship to Python workers must capture it by value (cloudpickle
    serializes module-level functions by reference, and the package is
    not importable on executor workers — the round-3
    ModuleNotFoundError, see operators/multimodal.py)."""

    def viterbi_pieces(
        word: str, scores: dict[str, int], max_len: int
    ) -> list[str]:
        """Best segmentation of ``word`` under integer micro-log-prob
        ``scores``. Ties: higher score, then fewer pieces, then the
        longest possible last piece (smallest split point). Single
        characters absent from ``scores`` get a large negative floor
        so coverage is total."""
        n = len(word)
        floor = min(scores.values(), default=0) - 10_000_000
        # dp[j] = (score, -n_pieces, back_index) for prefix word[:j]
        dp = [(0, 0, 0)] + [None] * n
        for j in range(1, n + 1):
            best = None
            for i in range(max(0, j - max_len), j):
                if dp[i] is None:
                    continue
                piece = word[i:j]
                sc = scores.get(piece)
                if sc is None:
                    if j - i > 1:
                        continue
                    sc = floor
                cand = (dp[i][0] + sc, dp[i][1] - 1, i)
                # tuple compare implements (score, fewer pieces); the
                # explicit tie on back_index prefers the SMALLER i
                # (longer last piece)
                if (
                    best is None
                    or cand[:2] > best[:2]
                    or (cand[:2] == best[:2] and cand[2] < best[2])
                ):
                    best = cand
            dp[j] = best
        out = []
        j = n
        while j > 0:
            i = dp[j][2]
            out.append(word[i:j])
            j = i
        out.reverse()
        return out

    return viterbi_pieces


# driver-side alias (tests, learn loop); kernels rebuild their own
_viterbi_pieces = _build_viterbi()


def _word_freqs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(tokens("text")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )


def _estep_counts(wf: DataFrame, scores: dict[str, int]) -> DataFrame:
    """One hard-EM expectation pass: piece usage counts over the word
    frame, weighted by word frequency. Integer-only."""
    max_len = UNIGRAM_MAX_PIECE_LEN
    viterbi = _build_viterbi()  # local def -> shipped by value

    def run(batches):
        from collections import Counter

        import pandas as pd

        for pdf in batches:
            c: Counter = Counter()
            for word, cnt in zip(pdf["word"], pdf["cnt"]):
                for piece in viterbi(word, scores, max_len):
                    c[piece] += int(cnt)
            if c:
                yield pd.DataFrame(
                    {"piece": list(c.keys()), "used": list(c.values())}
                )

    return wf.mapInPandas(run, "piece string, used long")


def _micro_scores(counts: dict[str, int]) -> dict[str, int]:
    import math

    total = sum(counts.values())
    return {
        p: int(round(math.log(c / total) * 1_000_000))
        for p, c in counts.items()
    }


def _em_pass(
    wf: DataFrame, scores: dict[str, int], char_set: set[str]
) -> dict[str, int]:
    """One full hard-EM round: E-step piece-usage counts over the word
    frame, aggregated driver-side (vocab-bounded collect). Module-level
    on purpose — it is pure driver code and must never be captured by a
    shipped kernel (tests/test_plans.py kernel lint)."""
    used = {
        r["piece"]: int(r["used"])
        for r in _estep_counts(wf, scores)
        .groupBy("piece")
        .agg(F.sum("used").alias("used"))
        .collect()
    }
    # chars never drop (total coverage); add-one floor keeps
    # ln() defined for a char every current segmentation skips
    for ch in char_set:
        used.setdefault(ch, 1)
    return used


def _learn_unigram_vocab(
    spark: SparkSession, sf_dir: str
) -> list[tuple[str, int, int]]:
    """Returns the final piece table [(piece, cnt, lp_micro)]."""
    wf = _word_freqs(spark, sf_dir).cache()
    try:
        # seed candidates: all substrings up to MAX_PIECE_LEN, counted
        # weighted by word frequency (in-row expansion, one aggregate)
        # NB: sequence(1, 0) is DESCENDING [1, 0], not empty — piece
        # lengths beyond the word need the explicit empty-array branch
        # or every short word double-counts itself
        subs = F.flatten(
            F.expr(
                f"transform(sequence(1, {UNIGRAM_MAX_PIECE_LEN}), l -> "
                "CASE WHEN length(word) >= l THEN "
                "transform(sequence(1, length(word) - l + 1),"
                " i -> substring(word, i, l)) "
                "ELSE CAST(array() AS ARRAY<STRING>) END)"
            )
        )
        cand = (
            wf.select(F.explode(subs).alias("piece"), "cnt")
            .groupBy("piece")
            .agg(F.sum("cnt").cast("bigint").alias("wcnt"))
        )
        chars = cand.filter(F.length("piece") == 1).collect()
        multi = (
            cand.filter(F.length("piece") > 1)
            .orderBy(F.desc("wcnt"), F.asc("piece"))
            .limit(UNIGRAM_SEED_MULTI)
            .collect()
        )
        counts = {r["piece"]: int(r["wcnt"]) for r in chars}
        counts.update({r["piece"]: int(r["wcnt"]) for r in multi})
        char_set = {r["piece"] for r in chars}
        scores = _micro_scores(counts)

        for _ in range(UNIGRAM_EM_ROUNDS):
            counts = _em_pass(wf, scores, char_set)
            scores = _micro_scores(counts)

        # prune: all single chars + top multi-char pieces by count
        multi_sorted = sorted(
            ((p, c) for p, c in counts.items() if len(p) > 1),
            key=lambda pc: (-pc[1], pc[0]),
        )
        keep = char_set | {
            p
            for p, _ in multi_sorted[
                : max(0, UNIGRAM_FINAL_VOCAB - len(char_set))
            ]
        }
        scores = {p: s for p, s in scores.items() if p in keep}
        # one final pass so reported counts reflect the pruned vocab
        counts = _em_pass(wf, scores, char_set)
        scores = _micro_scores(counts)
        return sorted(
            ((p, counts[p], scores[p]) for p in counts),
            key=lambda t: (-t[1], t[0]),
        )
    finally:
        wf.unpersist()


_UNIGRAM_CACHE: dict[str, list[tuple[str, int, int]]] = {}


def _learned_unigram(spark, sf_dir: str) -> list[tuple[str, int, int]]:
    if sf_dir not in _UNIGRAM_CACHE:
        _UNIGRAM_CACHE[sf_dir] = _learn_unigram_vocab(spark, sf_dir)
    return _UNIGRAM_CACHE[sf_dir]


@query("unigram_lm_learn", oracle=None)  # rows-only: iterative EM
def unigram_lm_learn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The learned unigram-LM tokenizer vocabulary: (piece, piece_len,
    cnt, logprob, rank), rank by (cnt desc, piece) — total-ordered and
    engine-independent. Correctness is pinned by an exact sequential
    recompute test (tests/test_ngrams_unigram.py)."""
    table = _learned_unigram(spark, sf_dir)
    rows = [
        (p, len(p), int(c), lp / 1_000_000.0, i + 1)
        for i, (p, c, lp) in enumerate(table)
    ]
    return spark.createDataFrame(
        rows,
        "piece STRING, piece_len INT, cnt BIGINT, logprob DOUBLE, rank INT",
    )


@query("unigram_lm_encode_docs", oracle=None)  # rows-only: learned state
def unigram_lm_encode_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Viterbi-encode every document with the learned unigram
    vocabulary: per doc — word count, piece count, fertility
    (pieces/word, the tokenizer-efficiency metric token_fertility_by_
    lang tracks for the whitespace tokenizer), and the first 8 pieces.

    The piece table is vocabulary-bounded and ships in the task
    closure; encoding is one Arrow-batched map over documents —
    scales with the scan, never with vocabulary or corpus size.
    """
    table = _learned_unigram(spark, sf_dir)
    scores = {p: lp for p, _, lp in table}
    max_len = UNIGRAM_MAX_PIECE_LEN
    viterbi = _build_viterbi()  # local def -> shipped by value

    def run(batches):
        import re

        import pandas as pd

        # ASCII whitespace class, NOT r"\s+": the learn side tokenizes
        # with Spark's split(lower(x), '\\s+') where Java \s is
        # [ \t\n\x0B\f\r] (ASCII-only); Python \s on str would also
        # split on Unicode whitespace (NBSP, ideographic space, ...)
        # and the encoder's word list would diverge from the learned
        # word frame, skewing n_words/fertility.
        ws = re.compile(r"[ \t\n\x0b\f\r]+")
        # per-task word->pieces memo (round-13, guide §4.5): word
        # frequency is Zipfian, so most occurrences repeat a small
        # working set — segment each distinct word once per task.
        # Bounded so a pathological vocabulary can't grow it unbounded.
        seg_memo: dict[str, list[str]] = {}
        for pdf in batches:
            out = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                words = [w for w in ws.split(text.lower()) if w]
                pieces: list[str] = []
                for w in words:
                    ps = seg_memo.get(w)
                    if ps is None:
                        ps = viterbi(w, scores, max_len)
                        if len(seg_memo) < 65536:
                            seg_memo[w] = ps
                    pieces.extend(ps)
                n_words = len(words)
                n_pieces = len(pieces)
                out.append(
                    (
                        int(doc_id),
                        n_words,
                        n_pieces,
                        round(n_pieces / n_words, 6) if n_words else 0.0,
                        "|".join(pieces[:8]),
                    )
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "doc_id",
                    "n_words",
                    "n_pieces",
                    "fertility",
                    "head_pieces",
                ],
            )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.mapInPandas(
        run,
        "doc_id bigint, n_words bigint, n_pieces bigint, "
        "fertility double, head_pieces string",
    )
