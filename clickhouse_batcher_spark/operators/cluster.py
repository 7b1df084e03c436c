"""Connected components over near-duplicate pairs — dedup clustering.

Pair detectors (Jaccard/MinHash/SimHash/embedding) emit edges; the
keep-one-per-group decision needs the transitive closure: connected
components. Implemented as iterative min-label propagation:

    label(v) <- min(label(v), min over neighbors(label(u)))

repeated until fixpoint. Each iteration is one join + one min-agg —
both hash-shuffles on the vertex key; iterations needed = graph
diameter (near-dup clusters are tiny cliques, so 2-4 in practice).
This is the standard Spark formulation of CC at scale (a large-star/
small-star variant would cut iterations on pathological chains; the
propagation loop is the right tradeoff for clique-like dedup graphs).

The execution path is genuinely iterative, but the RESULT is
single-statement-SQL-expressible (recursive-CTE reachability closure,
registered at module bottom), so the driver gate gets a hash-exact
oracle; a union-find cross-check in tests pins it independently.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clickhouse_batcher_spark.catalog import query
from clickhouse_batcher_spark.operators import memo

MAX_ITERATIONS = 30
# Truncate lineage every N actions: each action stacks join+aggs on
# the plan, and on high-diameter graphs (chains) the un-truncated DAG
# grows until planning dominates or the driver OOMs.
CHECKPOINT_EVERY = 3
# Propagation half-steps chained per Spark action. Each action (job)
# carries a fixed scheduling/barrier cost that dominated dedup_clusters
# locally (round-7 profiling: ~2 s/action on a graph whose data fits in
# one shuffle partition); chaining the steps inside one lineage keeps
# the SAME number of shuffles at scale while dividing the number of
# barriers by 3. Convergence is read off the LAST half-step:
# propagation is monotone, so zero changes in the final step means a
# fixpoint was reached somewhere inside the action. The only waste is
# up to 2 extra (empty) shuffled steps after early convergence.
STEPS_PER_ACTION = 3


def _propagate(adj_loops: DataFrame, labels: DataFrame) -> DataFrame:
    """One min-label half-step: label(v) <- min over u in
    neighbors(v) ∪ {v} of label(u). Pure plan, no action.

    ``adj_loops`` must carry a self-loop per vertex — that folds the
    "keep your own label" term into the SAME join, so the un-
    materialized ``labels`` subtree is referenced exactly ONCE per
    step. The earlier two-reference formulation (join labels with
    neighbor-min over labels) doubled the chained plan at every step —
    exponential subtree growth when steps are chained inside one
    action without caching the intermediates.
    """
    lbl = labels.select(F.col("v").alias("lv"), F.col("label").alias("llabel"))
    return (
        adj_loops.join(lbl, F.col("u") == F.col("lv"))
        .groupBy("v")
        .agg(F.min("llabel").alias("label"))
    )


def connected_components(
    edges: DataFrame, src: str = "doc_a", dst: str = "doc_b"
) -> DataFrame:
    """(vertex, component) for every vertex in ``edges``; component id =
    min vertex id in the component. Deterministic.

    Iteration hygiene (round-1/2 advice): ONE action per
    STEPS_PER_ACTION propagation steps — the convergence check rides
    the same job that materializes the new labels (labels only ever
    decrease, so ``label < old_label`` on the final step counts
    changes) instead of a separate new-vs-old join; and lineage is cut
    with ``memo.materialize()`` every ``CHECKPOINT_EVERY`` actions so a
    diameter-D graph costs O(D) work, not O(D) plan depth.
    """
    # undirected: both directions; every vertex appears as "v". Built
    # with one explode over a single scan — a fwd/bwd union would read
    # the (possibly expensive, e.g. MinHash-LSH) upstream pair
    # pipeline TWICE before the cache populates (round-6 profiling:
    # the race recompute, not the iterations, dominated
    # dedup_clusters' wall time).
    both = F.explode(
        F.array(
            F.struct(F.col(src).alias("v"), F.col(dst).alias("u")),
            F.struct(F.col(dst).alias("v"), F.col(src).alias("u")),
        )
    )
    # No distinct() on the exploded edges: duplicates are harmless
    # under the min aggregate, and the dedup shuffle was pure stage
    # overhead. adj is cached because TWO consumers reference it (the
    # self-loop union's branches); uncached, each would recompute the
    # upstream pair pipeline.
    adj = edges.select(both.alias("p")).select("p.v", "p.u").cache()
    vertices = adj.select("v").distinct()
    # self-loops let every propagation step keep own labels through the
    # one neighbor join (see _propagate) — and guarantee every vertex
    # survives the groupBy
    adj_loops = adj.unionByName(
        vertices.select("v", F.col("v").alias("u"))
    ).cache()

    labels = vertices.withColumn("label", F.col("v")).cache()
    prev_cached = labels
    for it in range(MAX_ITERATIONS):
        cur = labels
        for _ in range(STEPS_PER_ACTION - 1):
            cur = _propagate(adj_loops, cur)
        # final half-step with the convergence bookkeeping folded into
        # the SAME groupBy: the self-loop row (u == v) carries each
        # vertex's own pre-step label, so old_label needs no extra join
        # and ``cur`` is referenced exactly once — the whole action is
        # a single linear chain of join+agg stages
        lbl = cur.select(F.col("v").alias("lv"), F.col("label").alias("llabel"))
        new_labels = (
            adj_loops.join(lbl, F.col("u") == F.col("lv"))
            .groupBy("v")
            .agg(
                F.min("llabel").alias("label"),
                F.min(
                    F.when(F.col("u") == F.col("v"), F.col("llabel"))
                ).alias("old_label"),
            )
        )
        if (it + 1) % CHECKPOINT_EVERY == 0:
            # eager: materializes AND truncates lineage in one job
            new_labels = memo.materialize(new_labels)
        else:
            new_labels = new_labels.cache()
        # single action: materializes the cache/checkpoint and returns
        # the number of vertices whose label shrank in the FINAL step
        # (zero = the propagation operator hit its fixpoint inside
        # this action, wherever that happened)
        changed = new_labels.select(
            F.sum((F.col("label") < F.col("old_label")).cast("long")).alias("c")
        ).first()["c"]
        prev_cached.unpersist()
        prev_cached = new_labels
        labels = new_labels.select("v", "label")
        if not changed:
            break
    adj_loops.unpersist()
    adj.unpersist()
    # Final lineage cut: the convergence loop leaves ``labels`` as a
    # cache over up to CHECKPOINT_EVERY chained actions, and cached
    # plans print (and re-analyze) their whole ancestry recursively —
    # downstream composers (cluster sizes, leakage split) inherited a
    # multi-thousand-node plan. The labels are vertex-sized and already
    # materialized, so an eager cut costs one tiny job and
    # returns a plan that is just a scan.
    out = memo.materialize(
        labels.select(
            F.col("v").alias("vertex"), F.col("label").alias("component")
        )
    )
    prev_cached.unpersist()
    return out


# Component memo: dedup_cluster_sizes (and any future consumer of the
# closure) reuses the session's already-propagated labels instead of
# re-running the iteration loop. The loop's lineage cuts are build
# intermediates, released once the memo entry is materialized.
@query("dedup_clusters")  # oracle: recursive-CTE closure, see below
@memo.shared
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster the MinHash-verified near-dup pairs; output one row per
    clustered doc with its component id and the deterministic survivor
    (min doc id = the component id itself)."""
    from clickhouse_batcher_spark.operators.dedup import minhash_pairs_cached

    pairs = minhash_pairs_cached(spark, sf_dir).select("doc_a", "doc_b")
    comps = connected_components(pairs)
    return comps.select(
        F.col("vertex").alias("doc_id"),
        F.col("component").alias("cluster_id"),
        (F.col("vertex") == F.col("component")).alias("is_survivor"),
    )


# ---------------------------------------------------------------------------
# Oracle (VERDICT r5 task 6): deterministic min-label connected
# components ARE single-statement-SQL-expressible via a recursive CTE
# — reachability closure over the undirected edge set, then MIN over
# the reachable vertices. That closure is O(sum of component sizes^2)
# rows, fine at oracle scale because near-dup clusters are tiny
# cliques; the iterative propagation above remains the 100 TB
# execution path. Importing dedup first guarantees the minhash oracle
# this one composes is already registered, whatever load_all's order.
from clickhouse_batcher_spark.catalog import ORACLES as _ORACLES  # noqa: E402
from clickhouse_batcher_spark.operators import dedup as _dedup  # noqa: E402,F401


def _clusters_oracle() -> str:
    mh = _ORACLES["dedup_minhash_lsh"]
    return f"""
    WITH RECURSIVE mh AS ({mh}),
    adj AS (
      SELECT doc_a AS v, doc_b AS u FROM mh
      UNION
      SELECT doc_b AS v, doc_a AS u FROM mh
    ),
    reach(v, u) AS (
      SELECT v, v FROM adj
      UNION
      SELECT r.v, a.u FROM reach r JOIN adj a ON a.v = r.u
    )
    SELECT CAST(v AS BIGINT) AS doc_id,
           CAST(MIN(u) AS BIGINT) AS cluster_id,
           (MIN(u) = v) AS is_survivor
    FROM reach GROUP BY v
    """


_ORACLES["dedup_clusters"] = " ".join(_clusters_oracle().split())


@query("dedup_cluster_sizes")  # oracle appended below
def dedup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-size histogram of the near-dup components — the one
    number a curation review asks first ("how big do duplicate groups
    get?"). Two combinable aggregates over the CC output; the closure
    itself is the only real work."""
    comps = dedup_clusters(spark, sf_dir)
    return (
        comps.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cluster_size"))
        .groupBy("cluster_size")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_clusters"))
    )


_ORACLES["dedup_cluster_sizes"] = " ".join(
    f"""
    SELECT cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters FROM (
      SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
      FROM ({_clusters_oracle()}) comp GROUP BY cluster_id
    ) s GROUP BY cluster_size
    """.split()
)


_SPLIT_SALT = "leakfree"


@query("leakage_safe_split")  # oracle appended below
def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free train/val/test split: the split key is the
    near-dup CLUSTER, not the document, so a document and its near
    copies can never straddle the eval boundary — the contamination
    mode a doc-keyed split (docs_split_counts) cannot prevent, and a
    standard requirement for held-out sets over crawled corpora.

    Singleton documents use their own id as the cluster key; the split
    is the engine-portable sha2 hash bucket (10% test / 10% val / 80%
    train), so assignment is reproducible across engines and runs.
    Plan shape: the CC closure (memoized) left-joins the documents
    scan on doc_id — one keyed shuffle — and everything after is one
    combinable aggregation. The leakage invariant is structural
    (one cluster -> one hash -> one split); pytest asserts it
    explicitly anyway.
    """
    from clickhouse_batcher_spark.operators.sampling import hash_bucket
    from clickhouse_batcher_spark.tables import load_table

    comps = dedup_clusters(spark, sf_dir).select("doc_id", "cluster_id")
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    full = docs.join(comps, "doc_id", "left").select(
        "doc_id",
        F.coalesce("cluster_id", "doc_id").alias("cl"),
        F.col("cluster_id").isNotNull().alias("clustered"),
    )
    b = hash_bucket("cl", 100, _SPLIT_SALT)
    lab = full.withColumn(
        "split",
        F.when(b < 10, "test").when(b < 20, "val").otherwise("train"),
    )
    return lab.groupBy("split").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.countDistinct("cl").cast("bigint").alias("n_clusters"),
        F.sum(F.col("clustered").cast("long")).cast("bigint").alias(
            "n_clustered_docs"
        ),
    )


def _leakage_split_oracle() -> str:
    from clickhouse_batcher_spark.operators.sampling import _sql_bucket

    bucket = _sql_bucket("cl", 100, _SPLIT_SALT)
    return f"""
    WITH comp AS ({_clusters_oracle()}),
    full_docs AS (
      SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cl,
             (c.doc_id IS NOT NULL) AS clustered
      FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
    ),
    lab AS (
      SELECT doc_id, cl, clustered,
        CASE WHEN {bucket} < 10 THEN 'test'
             WHEN {bucket} < 20 THEN 'val'
             ELSE 'train' END AS split
      FROM full_docs
    )
    SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT cl) AS BIGINT) AS n_clusters,
           CAST(SUM(CASE WHEN clustered THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clustered_docs
    FROM lab GROUP BY split
    """


_ORACLES["leakage_safe_split"] = " ".join(_leakage_split_oracle().split())


# ---------------------------------------------------------------------------
# Oracle for dedup.dedup_inflation_report — composed HERE because it
# splices the recursive-CTE closure and dedup.py cannot import this
# module at load time (cluster imports dedup).
# ---------------------------------------------------------------------------
def _inflation_oracle() -> str:
    from clickhouse_batcher_spark.operators.dedup import SQL_TOKENS

    return f"""
    WITH base AS (
      SELECT doc_id, source, CAST(len({SQL_TOKENS}) AS BIGINT) AS n_tok,
        MIN(doc_id) OVER (PARTITION BY text) = doc_id AS exact_keep
      FROM documents
    ),
    comp AS (SELECT * FROM ({_clusters_oracle()}) c),
    flags AS (
      SELECT b.*,
        COALESCE(NOT (SELECT NOT cc.is_survivor FROM comp cc
                      WHERE cc.doc_id = b.doc_id), TRUE) AS neardup_keep
      FROM base b
    )
    SELECT source,
      CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
      CAST(SUM(CASE WHEN exact_keep THEN 1 ELSE 0 END) AS BIGINT)
        AS docs_after_exact,
      CAST(SUM(CASE WHEN exact_keep AND neardup_keep THEN 1 ELSE 0 END)
           AS BIGINT) AS docs_after_neardup,
      CAST(SUM(CASE WHEN exact_keep AND neardup_keep THEN n_tok ELSE 0 END)
           AS BIGINT) AS tokens_after_neardup,
      CAST((SUM(n_tok) * 1000000)
           // SUM(CASE WHEN exact_keep AND neardup_keep
                  THEN n_tok ELSE 0 END) AS BIGINT) AS inflation_ppm
    FROM flags GROUP BY source
    """


_ORACLES["dedup_inflation_report"] = " ".join(_inflation_oracle().split())
