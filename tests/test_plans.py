"""Plan-shape regression tests + DDL + metrics listener.

Guards the scale properties SCALE.md documents: filters reach the
parquet scan, projections prune columns, small dims broadcast. A
refactor that silently breaks pushdown fails here, not at 100 TB.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from clickhouse_batcher_spark import catalog

catalog.load_all()

from clickhouse_batcher_spark.plans.ddl import clickhouse_migrations
from clickhouse_batcher_spark.plans.migrations import MigrationRunner
from clickhouse_batcher_spark.streaming.metrics import IngestMetricsListener
from clickhouse_batcher_spark.tables import load_table


def _formatted_plan(df) -> str:
    jvm = df.sparkSession._jvm
    return df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_no_hugeint_oracle_columns(sf_dir):
    """Driver-gate lint: no oracle may emit a HUGEINT/UHUGEINT column.

    DuckDB types uncast integer ``SUM(CASE ...)`` as HUGEINT, which the
    driver's value-hash renders differently from Spark's BIGINT even
    when the values are identical (the r5 orders_transfer_checksum and
    r6 tpch_q12 red rows were exactly this). ``DESCRIBE`` binds the
    query without executing it, so linting all oracles stays cheap.
    """
    from tests.parity import duckdb_connection

    con = duckdb_connection(sf_dir)
    offenders = {}
    try:
        for name, sql in catalog.ORACLES.items():
            cols = con.execute(f"DESCRIBE {sql}").fetchall()
            bad = [c[0] for c in cols if "HUGEINT" in (c[1] or "").upper()]
            if bad:
                offenders[name] = bad
    finally:
        con.close()
    assert not offenders, f"uncast HUGEINT oracle columns: {offenders}"


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    plan = _formatted_plan(catalog.QUERIES["tpch_q1"](spark, sf_dir))
    assert "PushedFilters" in plan
    assert "LessThanOrEqual(l_shipdate" in plan


def test_column_pruning(spark, sf_dir):
    plan = _formatted_plan(catalog.QUERIES["join_revenue_by_segment"](spark, sf_dir))
    # lineitem scan must not read unused columns
    import re

    m = re.search(r"ReadSchema: struct<(l_[^>]*)>", plan)
    assert m, plan
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols == {"l_orderkey", "l_extendedprice", "l_discount"}


def test_dim_joins_broadcast(spark, sf_dir):
    plan = _formatted_plan(catalog.QUERIES["orders_by_region"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # dims must never shuffle-sort


def test_semi_anti_joins_selected(spark, sf_dir):
    semi = _formatted_plan(catalog.QUERIES["parts_with_heavy_lineitems"](spark, sf_dir))
    anti = _formatted_plan(catalog.QUERIES["customers_without_recent_orders"](spark, sf_dir))
    assert "LeftSemi" in semi
    assert "LeftAnti" in anti


def test_clickhouse_ddl_migrations(tmp_path):
    executed: list[str] = []
    runner = MigrationRunner(
        clickhouse_migrations(), executed.append, str(tmp_path / "v.json")
    )
    assert runner.up() == [1, 2]
    assert "limits_hashes" in executed[0] and "UInt32" in executed[0]
    assert "batch_ledger" in executed[1]
    assert runner.up() == []  # idempotent


def test_ingest_metrics_listener(spark, sf_dir, tmp_path):
    from clickhouse_batcher_spark.sinks.parquet_sink import IdempotentParquetSink
    from clickhouse_batcher_spark.streaming.batcher import BatcherConfig, MicroBatcher

    events = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "src")
    events.repartition(3).write.parquet(src)
    listener = IngestMetricsListener()
    spark.streams.addListener(listener)
    try:
        sink = IdempotentParquetSink(str(tmp_path / "sink"))
        batcher = MicroBatcher(sink, BatcherConfig(max_files_per_trigger=1))
        batcher.run_until_drained(
            batcher.file_source(spark, src, events.schema), str(tmp_path / "ckpt")
        )
        # Listener events ride Spark's async listener bus; the last
        # batch's progress event can land AFTER run_until_drained
        # returns. Wait (bounded) for delivery before asserting.
        expected = events.count()
        deadline = time.time() + 30
        while listener.total_rows < expected and time.time() < deadline:
            time.sleep(0.2)
    finally:
        spark.streams.removeListener(listener)
    assert listener.total_rows == expected
    assert len([b for b in listener.batches if b["num_input_rows"] > 0]) >= 3


def test_bucketed_join_colocates_without_shuffle(spark, sf_dir, tmp_path):
    """Bucketing is the co-located-join strategy for repeated big-big
    joins (SCALE.md): writing both sides bucketed by the join key lets
    the SortMergeJoin read buckets 1:1 with NO Exchange on either side.
    At 100 TB this turns the nightly orders x lineitem join from two
    full shuffles into a local merge."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    lineitem = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity"
    )
    (
        orders.write.bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey")
        .option("path", str(tmp_path / "b_orders"))
        .saveAsTable("b_orders")
    )
    (
        lineitem.write.bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey")
        .option("path", str(tmp_path / "b_lineitem"))
        .saveAsTable("b_lineitem")
    )
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force the shuffle-join path so the guard is meaningful
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = spark.table("b_orders").join(
            spark.table("b_lineitem"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        plan = _formatted_plan(j)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
        # and the bucketed plan still returns the right row count
        assert j.count() == lineitem.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_partitioned_write_prunes_partitions(spark, sf_dir, tmp_path):
    """Hive-style partition layout: writing facts partitioned by a
    coarse key lets a filter on that key skip whole directories. The
    plan must show the filter as a PartitionFilter (metadata-level,
    zero I/O for non-matching partitions), not a post-scan Filter —
    at 100 TB this is the difference between reading one day and
    reading the lake."""
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value", "event_type"
    )
    out = str(tmp_path / "events_by_type")
    events.write.partitionBy("event_type").parquet(out)
    one_type = events.select("event_type").first()["event_type"]
    df = spark.read.parquet(out).filter(F.col("event_type") == one_type)
    plan = _formatted_plan(df)
    assert "PartitionFilters" in plan
    partition_filters = plan.split("PartitionFilters: [")[1].split("]")[0]
    assert "event_type" in partition_filters, plan
    expected = events.filter(F.col("event_type") == one_type).count()
    assert df.count() == expected


def test_catalog_wide_no_cartesian_products(spark, sf_dir):
    """Repo-wide plan audit: NO catalog query may plan a
    CartesianProduct (the unbounded all-pairs shuffle that kills any
    100-TB run), and BroadcastNestedLoopJoin is allowed only where the
    build side is bounded by construction and documented here."""
    # BNLJ whitelist — every entry has a broadcast side that stays tiny
    # at ANY corpus size:
    bnlj_ok = {
        "bm25_retrieval_topk",       # 1-row corpus-stats frame
        "similarity_topk",           # N_QUERY_VECS (10) query vectors
        "hard_negative_triplets",    # same 10-query-vector broadcast
        "retrieval_topk_docs",       # same query-vector broadcast
        "events_hourly_gapfill",     # hour spine x type dims (bounded)
        "docs_unigram_logprob",      # 1-row vocabulary-total frame
        "events_zorder_bucket_stats",  # 1-row min/max bounds frame
        "events_hourly_interpolate",   # hour spine x type dims (bounded)
        "coactivity_triangle_stats",   # three 1-row aggregate frames
        "distinct_users_type_overlap",  # event-type vocab self-pairing
        "orders_ntile_quartiles",    # 1-row total-count frame
        "customer_rfm_segments",     # 1-row customer-count frame (the
                                     # r7 with_global_index rewrite
                                     # broadcasts |customers| as 1 row)
        "tpch_q22_idle_customers",   # 1-row global-average frame
        "tpch_q11_important_parts",  # 1-row global-total threshold frame
        "perplexity_bucket_sample",  # 1-row doc-count frame (+ inherited
                                     # 1-row vocab total from logprob)
        "hybrid_retrieval_rrf",      # N_QUERY_VECS x BM25_TOP_K (10x50)
                                     # candidate spine + the inherited
                                     # query-vector broadcast
        "ab_welch_ttest",            # two 1-row variant-moment frames
        "ab_mann_whitney_u",         # two 1-row rank-sum frames
        "events_cramers_v",          # 1-row total + marginal-count frames
        "events_theils_u",           # 1-row entropy/total frames
        "events_sparkbar_hourly",    # 24-row hour spine x type dims
        "kmv_union_intersection",    # three 1-row estimate frames
        "dsir_importance_weights",   # 1-row corpus-totals frame
        "bitext_margin_mining",      # broadcast = the smaller corpus:
                                     # the documented bounded kernel
                                     # (SCALE.md crossover ~10M vecs,
                                     # ANN candidates beyond)
        "quality_classifier_nb",     # 1-row prior frame + 1-row class
                                     # totals (the 256-row LLR table is
                                     # a hash join)
        "classifier_calibration_bins",  # reads nb_scores_cached: same
                                        # 1-row prior broadcast as above
        "dedup_threshold_sweep",        # 5-row threshold frame fanned
                                        # out by a non-equi broadcast
                                        # (jaccard >= t) — bounded side
        "join_key_skew_report",         # three 1-row stats frames
                                        # crossed with 1-row top-key
                                        # frames — all bounded
        "quality_budget_curve",         # 9-row threshold fan-out +
                                        # 1-row token total — bounded
                                        # (and the NB prior, as above)
        "source_distinctive_terms",     # 1-row corpus-totals frame
                                        # crossed onto the vocab frame
        "tfidf_top_terms",           # 1-row doc-count frame
        "docs_kn_bigram_logprob",    # 1-row bigram-type-total frame
        "dsir_resample_docs",        # 1-row max-logweight frame (+ the
                                     # inherited 1-row DSIR totals)
        "doremi_domain_weights",     # 1-row vocabulary-total frame
                                     # (same broadcast as logprob); the
                                     # window sums run over the
                                     # <=#domains-row frame
        "user_survival_km",          # 1-row corpus-end frame; windows
                                     # run over the duration histogram
                                     # (bounded by observation hours)
        "ann_recall_vs_exact",       # 1-row exact-pair total x 1-row
                                     # per-method hit count
        "semantic_dedup_invariants",  # 1-row base counters x 1-row
                                      # dup-ref counters
        "media_pipeline_invariants",  # three 1-row violation-counter
                                      # frames crossed
        "ab_ks_test",            # 1-row variant-totals frame crossed
                                 # onto the distinct-value cum frame,
                                 # then 1-row D x 1-row totals
        "events_hourly_acf",     # 1-row bounds/variance frames crossed
                                 # onto the O(hours) series
        "events_dominant_period",  # same shape as events_hourly_acf
        "parts_abc_classification",  # 1-row revenue-total frame crossed
                                     # onto the part frame / 3-row rollup
        "orders_benford_deviation",  # 1-row digit-total frame crossed
                                     # onto the 9-row expected table
        "ab_min_sample_size",    # two 1-row moment frames unioned
        "ab_assignment_srm",     # (no cross join today; listed for the
                                 # 1-row reduce if plans shift)
        "user_metric_corr_matrix",  # 1-row corpus-max-day frame crossed
                                    # onto orders before the per-user
                                    # aggregate
    }
    offenders = {}
    for name, fn in catalog.QUERIES.items():
        plan = _formatted_plan(fn(spark, sf_dir))
        if "CartesianProduct" in plan:
            offenders[name] = "CartesianProduct"
        elif "BroadcastNestedLoopJoin" in plan and name not in bnlj_ok:
            offenders[name] = "unlisted BroadcastNestedLoopJoin"
    assert not offenders, offenders


def test_global_ranks_use_range_partitioning(spark, sf_dir):
    """Every consumer of the ordered scan (global index, cumsum and
    cummax) must stay two-level: its in-bucket windows run over a
    repartitionByRange (parallel), and no full-data window may sit on
    a single-partition exchange. A bounded SinglePartition exchange
    (the <=num_partitions offsets frame) is fine; a RangePartitioning
    node proves the parallel path is in the plan."""
    for name in (
        "orders_ntile_quartiles",
        "perplexity_bucket_sample",
        "parts_abc_classification",
        "user_activity_gini",
        "customer_rfm_segments",
        "orders_pareto_skyline",
        "concat_block_packing",
        "dup_pair_training_spacing",
        "vocab_growth_curve",
        "length_sorted_packing_gain",
        "shingle_novelty_curve",
    ):
        plan = _formatted_plan(catalog.QUERIES[name](spark, sf_dir))
        assert "rangepartitioning" in plan.lower(), name


def test_perplexity_sample_runs_one_range_exchange(spark, sf_dir):
    """The decile total is counted from the scored frame, so the
    executed plan holds the ordered scan's one range exchange; a count
    over the scanned frame re-runs the exchange and its offsets join.
    Counted in the final adaptive plan, after the query has run at
    sf0.01 (the fixture next to ``sf_dir``)."""
    sf001 = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    df = catalog.QUERIES["perplexity_bucket_sample"](spark, sf001)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0].lower()
    assert final.count("exchange rangepartitioning") == 1, final


def test_no_broadcast_hints_on_sf_scaling_frames():
    """An explicit F.broadcast() hint is never demoted by AQE, so a
    hint on a frame that scales with data volume is a forced OOM at
    100 TB even when tiny at test SF (the round-11 audit removed 29
    such hints). This lint pins the audit: no F.broadcast() may wrap
    an identifier whose name marks an O(SF) table subset
    (customer/supplier/part/lineitem/orders/events/documents/
    embeddings and their conventional abbreviations). Bounded frames
    (1-row totals, top-k, constant dims, bounded-key aggregates) keep
    hints under other names; a genuinely-bounded frame that trips the
    name check should be renamed to say what bounds it, not
    allowlisted here.

    This check is the name-based TRIPWIRE only; the fail-closed guard
    is ``test_broadcast_hints_fail_closed_allowlist`` below — every
    hint site must be classified there, so a rename cannot bypass the
    audit."""
    import ast
    import pathlib

    import clickhouse_batcher_spark

    banned = {
        "cust", "customer", "customers", "supp", "supplier", "suppliers",
        "sup", "part", "parts", "partsupp", "lineitem", "li", "orders",
        "ord", "events", "ev", "documents", "docs", "embeddings", "emb",
        "dim", "rs", "sn", "bad", "promo", "movers", "part_avg",
        "shingle_hashes", "kept_ref",
    }
    root = pathlib.Path(clickhouse_batcher_spark.__file__).parent
    offenders = []
    for p in sorted(root.rglob("*.py")):
        tree = ast.parse(p.read_text())
        for node in ast.walk(tree):
            if not (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "broadcast"
                and isinstance(node.func.value, ast.Name)
                and node.func.value.id == "F"
                and node.args
            ):
                continue
            arg = node.args[0]
            base = arg
            while isinstance(base, (ast.Attribute, ast.Call)):
                base = (
                    base.value
                    if isinstance(base, ast.Attribute)
                    else base.func
                )
            if isinstance(base, ast.Name) and base.id in banned:
                offenders.append(f"{p.name}:{node.lineno} F.broadcast({base.id}...)")
    assert not offenders, offenders


# Fail-closed classification of EVERY F.broadcast() hint site in the
# package, keyed (relative path, hinted identifier). An explicit hint
# is never demoted by AQE, so each entry records WHY the frame cannot
# scale with data volume; a new hint (or a rename) that is not
# classified here is CI-red until audited. Reasons use the round-11
# audit's categories:
#   1-row agg     — groupBy().agg(...) reduce, exactly one row
#   bounded-key   — key universe fixed by construction (labels, types,
#                   buckets, hours, digits), not by SF
#   constant dim  — TPC-H nation (25) / region (5), SF-invariant
#   top-k/capped  — LIMIT / row_number <= k / explicit cap upstream
#   vocab-bounded — token/shingle vocabulary agg, sublinear in corpus
#                   and capped upstream where the operator documents it
#   size-gated    — hint applied only under a measured count gate
#   caller-opt-in — hint behind an explicit caller flag, off by default
_BROADCAST_HINT_ALLOWLIST: dict[tuple[str, str], str] = {
    ("functions/__init__.py", "offsets"):
        "<= num_partitions rows by construction (one per ordered-scan bucket)",
    ("operators/bloomjoin.py", "bloom"):
        "constant-size: packed bloom-bitmap words (fixed filter width)",
    ("operators/bloomjoin.py", "truth"):
        "distinct dim keys — the operator's contract is a small dim "
        "side (that is what makes the bloom prefilter + semi-join win)",
    ("operators/chagg.py", "tot"): "1-row agg: grand totals",
    ("operators/chagg2.py", "b"): "1-row agg: moment/bounds frame",
    ("operators/chagg2.py", "c"):
        "1-row count frame, or the constant 24-row hour grid reached "
        "via c.sparkSession.range(24) (sparkbar densify)",
    ("operators/chagg2.py", "cb"): "1-row agg: combined moments",
    ("operators/chagg2.py", "ha"): "1-row agg: histogram half A",
    ("operators/chagg2.py", "hab"): "1-row agg: merged histogram",
    ("operators/chagg2.py", "ma"): "1-row agg: metric-A moments",
    ("operators/chagg2.py", "mb"): "1-row agg: metric-B moments",
    ("operators/chagg2.py", "mx"): "1-row agg: max frame",
    ("operators/chagg2.py", "ra"): "1-row agg: range frame",
    ("operators/chagg2.py", "tot"): "1-row agg: grand totals",
    ("operators/classifier.py", "cb"):
        "bounded-key: per-class count frame (label universe)",
    ("operators/classifier.py", "llr"):
        "vocab-bounded: per-token log-likelihood ratios (capped "
        "feature vocabulary)",
    ("operators/classifier.py", "nd"): "1-row agg: doc totals",
    ("operators/classifier.py", "pri"):
        "bounded-key: class priors (label universe)",
    ("operators/classifier.py", "th"): "1-row agg: decision threshold",
    ("operators/classifier.py", "tot"): "1-row agg: totals",
    ("operators/classifier.py", "tots"):
        "bounded-key: per-class token totals",
    ("operators/cohort.py", "nrow"): "1-row agg: row count",
    ("operators/cohort.py", "obs"): "1-row agg: observation window",
    ("operators/companions.py", "dups"): "1-row agg: violation counter",
    ("operators/companions.py", "hits"):
        "1-row agg: recall-hit count (per ANN variant)",
    ("operators/companions.py", "resize_agg"):
        "1-row agg: media-resize violation counter",
    ("operators/companions.py", "spec_agg"):
        "1-row agg: FFT-spectrum violation counter",
    ("operators/companions.py", "stats"):
        "bounded-key: per-event-type pick stats (type universe)",
    ("operators/corpus.py", "bench"):
        "benchmark shingle set — decontamination benchmarks are "
        "fixed-size inputs by contract, not SF-scaling",
    ("operators/corpus.py", "lr"):
        "bounded-key: per-bucket logistic params (fixed bucket count)",
    ("operators/corpus.py", "m"): "1-row agg: normalization max",
    ("operators/corpus.py", "src"):
        "bounded-key: per-source aggregate (source universe)",
    ("operators/corpus.py", "stats"): "1-row agg: corpus stats",
    ("operators/corpus.py", "tok"):
        "vocab-bounded: per-token stats (top-N capped upstream)",
    ("operators/corpus.py", "tot"): "1-row agg: totals",
    ("operators/corpus.py", "total"): "1-row agg: grand total",
    ("operators/corpus.py", "tots"): "1-row agg: totals",
    ("operators/corpus.py", "vocab"):
        "vocab-bounded: global token counts (documented cap; the "
        "operator's scale note covers the 100 TB vocabulary bound)",
    ("operators/dedup.py", "th"): "1-row agg: threshold frame",
    ("operators/fuzzy.py", "va"):
        "vocab-bounded: deletion-neighborhood token side A",
    ("operators/fuzzy.py", "vb"):
        "vocab-bounded: deletion-neighborhood token side B",
    ("operators/graph.py", "nodes"):
        "size-gated: hint applied only when rem.count() <= "
        "KCORE_BROADCAST_MAX_NODES (the k-core peel gate)",
    ("operators/graph.py", "ranks"):
        "size-gated: PageRank rank vector under the documented "
        "node-count gate",
    ("operators/graph.py", "summed"):
        "size-gated: per-node contribution sums under the same gate",
    ("operators/profile.py", "tot"): "1-row agg: totals",
    ("operators/rollup.py", "tot"): "1-row agg: grand total",
    ("operators/sampling.py", "quota"):
        "bounded-key: per-language quota (language universe)",
    ("operators/sampling.py", "total"): "1-row agg: total weight",
    ("operators/sampling.py", "vocab"):
        "vocab-bounded: sampling vocabulary frame",
    ("operators/sampling.py", "weights"):
        "bounded-key: per-stratum weights (stratum universe)",
    ("operators/similarity.py", "a"):
        "bounded-key: per-label centroid side A (label universe)",
    ("operators/similarity.py", "b"):
        "bounded-key: per-label centroid side B (label universe)",
    ("operators/similarity.py", "bm"):
        "top-k/capped: brute-force match list for the query set "
        "(N_QUERY_VECS x TOP_K rows)",
    ("operators/similarity.py", "ca"): "bounded-key: per-label counts",
    ("operators/similarity.py", "cb"): "bounded-key: per-label counts",
    ("operators/similarity.py", "na"): "bounded-key: per-label norms",
    ("operators/similarity.py", "nb"): "bounded-key: per-label norms",
    ("operators/similarity.py", "probes"):
        "top-k/capped: multi-probe LSH codes for the constant query "
        "set (N_QUERY_VECS x n_probes rows)",
    ("operators/similarity.py", "q"):
        "top-k/capped: the constant query-vector set (N_QUERY_VECS)",
    ("operators/similarity.py", "qprobe"):
        "top-k/capped: IVFPQ query-probe fanout (bounded query set x "
        "nprobe rows)",
    ("operators/similarity.py", "qside"):
        "top-k/capped: query-side projection (N_QUERY_VECS rows)",
    ("operators/similarity.py", "queries_df"):
        "top-k/capped: the constant query-vector set (N_QUERY_VECS)",
    ("operators/similarity.py", "snorm"):
        "bounded-key: per-label norm sums (label universe)",
    ("operators/similarity.py", "src"):
        "bounded-key: per-source centroids (source universe)",
    ("operators/similarity.py", "sums"):
        "bounded-key: per-(label,pos) sums — label universe x EMB_DIM",
    ("operators/sketch.py", "b"): "1-row agg: sketch-state row B",
    ("operators/sketch.py", "days"):
        "bounded-key: per-event-type day counts (type universe)",
    ("operators/sketch.py", "members"):
        "bounded-key: event-type pair membership (type universe "
        "squared)",
    ("operators/sketch.py", "row"):
        "bounded-key: one CMS row of fixed width per depth index",
    ("operators/sketch.py", "u"): "1-row agg: union sketch state",
    ("operators/skew.py", "stats"): "1-row agg: key-distribution stats",
    ("operators/skew.py", "top"): "1-row agg: hottest-key frame",
    ("operators/text.py", "lab"):
        "bounded-key: per-language label stats (language universe)",
    ("operators/text.py", "prd"):
        "bounded-key: per-language predicted stats",
    ("operators/timeseries.py", "b"): "1-row agg: bounds frame",
    ("operators/timeseries.py", "den"): "1-row agg: denominator",
    ("operators/timeseries.py", "m"): "1-row agg: mean frame",
    ("operators/timeseries.py", "mad"): "1-row agg: MAD scale",
    ("operators/timeseries.py", "med"): "1-row agg: median frame",
    ("operators/timeseries.py", "st"): "1-row agg: series stats",
    ("operators/zorder.py", "bounds"):
        "1-row agg: per-dimension min/max bounds",
    ("queries.py", "nation"): "constant dim: nation (25 rows at any SF)",
    ("queries.py", "region"): "constant dim: region (5 rows at any SF)",
    ("queries_ext2.py", "types"):
        "bounded-key: event-type universe frame",
    ("queries_ext3.py", "avgs"): "1-row agg: average frame",
    ("queries_ext3.py", "total"): "1-row agg: grand total",
    ("queries_ext4.py", "nation"): "constant dim: nation",
    ("queries_ext4.py", "region"): "constant dim: region",
    ("queries_ext5.py", "avg_bal"): "1-row agg: average balance (q22)",
    ("queries_ext5.py", "cn"):
        "constant dim: single-nation key filter (<= 25 rows)",
    ("queries_ext5.py", "nation"): "constant dim: nation",
    ("queries_ext5.py", "region"): "constant dim: region",
    ("queries_ext5.py", "top"): "1-row agg: max-revenue frame (q15)",
    ("queries_ext6.py", "threshold"): "1-row agg: q11 value threshold",
}
# load_table(...) literals that may sit under a hint (SF-invariant
# dimension tables only).
_BROADCASTABLE_TABLES = {"nation", "region"}


def test_broadcast_hints_fail_closed_allowlist():
    """VERDICT r11 task 2: the broadcast-hint audit, inverted to fail
    CLOSED. Every ``F.broadcast(...)`` site in the package must be
    classified in ``_BROADCAST_HINT_ALLOWLIST`` (keyed by file +
    hinted identifier, each entry recording why the frame is bounded
    by construction), or — for inline ``load_table`` hints — name an
    SF-invariant dimension table. A new hint, a rename, or a hint on
    a newly-loaded fact table is red until audited; stale allowlist
    entries (site removed) are red too, so the list cannot rot."""
    import ast
    import pathlib

    import clickhouse_batcher_spark

    root = pathlib.Path(clickhouse_batcher_spark.__file__).parent
    offenders: list[str] = []
    seen: set[tuple[str, str]] = set()
    for p in sorted(root.rglob("*.py")):
        rel = str(p.relative_to(root))
        tree = ast.parse(p.read_text())
        for node in ast.walk(tree):
            if not (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "broadcast"
                and isinstance(node.func.value, ast.Name)
                and node.func.value.id == "F"
                and node.args
            ):
                continue
            arg = node.args[0]
            # Inline load_table(...) hints: every table literal under
            # the hinted expression must be an SF-invariant dim.
            table_lits = [
                a.value
                for c in ast.walk(arg)
                if isinstance(c, ast.Call)
                and isinstance(c.func, ast.Name)
                and c.func.id == "load_table"
                for a in c.args
                if isinstance(a, ast.Constant) and isinstance(a.value, str)
            ]
            if table_lits:
                bad = [t for t in table_lits if t not in _BROADCASTABLE_TABLES]
                if bad:
                    offenders.append(
                        f"{rel}:{node.lineno} F.broadcast over "
                        f"load_table({bad}) — SF-scaling table under an "
                        "explicit hint"
                    )
                continue
            base = arg
            while isinstance(base, (ast.Attribute, ast.Call)):
                base = (
                    base.value
                    if isinstance(base, ast.Attribute)
                    else base.func
                )
            name = base.id if isinstance(base, ast.Name) else ast.dump(base)
            key = (rel, name)
            seen.add(key)
            if key not in _BROADCAST_HINT_ALLOWLIST:
                offenders.append(
                    f"{rel}:{node.lineno} F.broadcast({name}...) is not "
                    "classified in _BROADCAST_HINT_ALLOWLIST — audit the "
                    "frame's bound (or remove the hint and let AQE decide)"
                )
    stale = set(_BROADCAST_HINT_ALLOWLIST) - seen
    assert not offenders, "\n".join(offenders)
    assert not stale, f"allowlist entries with no surviving site: {stale}"


# Top-level package defs that no non-test file references, keyed
# (path relative to the package, name). Each is either given a real
# caller or deleted with its tests (ROADMAP D8); the list only shrinks.
# What is left is the paper's own ClickHouse surface and D2's listener.
_TEST_ONLY_DEFS: dict[tuple[str, str], str] = {
    ("plans/ddl.py", "clickhouse_migrations"):
        "ClickHouse DDL for the migration runner (the reference's schema)",
    ("sinks/clickhouse.py", "ClickHouseSink"):
        "the reference's ClickHouse target, run against live Derby",
    ("streaming/metrics.py", "IngestMetricsListener"):
        "streaming progress listener (D2)",
}


def test_no_top_level_def_is_reached_only_from_tests():
    """Fail-closed lint against library code that only tests reach.
    A top-level def or class of the package counts as reached when its
    name appears as an AST ``Name``, ``Attribute`` or import alias in
    a non-test file (the package, ``bench.py``, ``__spark_entry__.py``,
    ``perfbench/*.py`` other than its tests, ``tools/*.py``), when it
    is registered with ``@query`` or ``@memo.shared``, or when it is a
    dunder. An import alias in an ``__init__.py`` does not count: a
    def that is only re-exported is not reached. Every other def must
    be listed in ``_TEST_ONLY_DEFS``; a new one is red, and so is a
    stale entry.

    The check follows one level of references only: a def referenced
    solely by another unreached def counts as reached, and a name
    shared with any referenced attribute or local counts too."""
    import ast
    import pathlib

    import clickhouse_batcher_spark

    pkg = pathlib.Path(clickhouse_batcher_spark.__file__).parent
    repo = pkg.parent
    non_test = [
        *pkg.rglob("*.py"),
        repo / "bench.py",
        repo / "__spark_entry__.py",
        *(p for p in (repo / "perfbench").glob("*.py")
          if not p.name.startswith("test_")),
        *(repo / "tools").glob("*.py"),
    ]
    referenced: set[str] = set()
    for p in non_test:
        for node in ast.walk(ast.parse(p.read_text())):
            if isinstance(node, ast.Name):
                referenced.add(node.id)
            elif isinstance(node, ast.Attribute):
                referenced.add(node.attr)
            elif isinstance(node, ast.alias) and p.name != "__init__.py":
                referenced.add(node.name.rsplit(".", 1)[-1])

    def registered(d) -> bool:
        for dec in d.decorator_list:
            f = dec.func if isinstance(dec, ast.Call) else dec
            if isinstance(f, ast.Name) and f.id == "query":
                return True
            if (
                isinstance(f, ast.Attribute)
                and f.attr == "shared"
                and isinstance(f.value, ast.Name)
                and f.value.id == "memo"
            ):
                return True
        return False

    unreached: set[tuple[str, str]] = set()
    for p in sorted(pkg.rglob("*.py")):
        for d in ast.parse(p.read_text()).body:
            if not isinstance(
                d, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                continue
            dunder = d.name.startswith("__") and d.name.endswith("__")
            if dunder or registered(d) or d.name in referenced:
                continue
            unreached.add((str(p.relative_to(pkg)), d.name))
    new = sorted(unreached - set(_TEST_ONLY_DEFS))
    stale = sorted(set(_TEST_ONLY_DEFS) - unreached)
    assert not new, (
        f"top-level defs no non-test file references: {new} — give "
        "each a caller or delete it with its tests"
    )
    assert not stale, f"_TEST_ONLY_DEFS entries now reached or gone: {stale}"


# The DataFrame methods through which the package ships Python
# functions to executor workers.
_KERNEL_METHODS = (
    "mapInPandas", "applyInPandas", "mapInArrow", "applyInPandasWithState",
)


def _kernel_hazards(source: str, fname: str) -> list[str]:
    """Every kernel passed to one of ``_KERNEL_METHODS`` in ``source``
    that would pickle a module-level function or a package
    import BY REFERENCE.

    Executor Python workers are not guaranteed to have this package on
    sys.path (the driver imports ``__spark_entry__.py`` by file path),
    so a by-reference pickle dies there with ModuleNotFoundError. A
    kernel is flagged when it is passed as a module-level name, an
    attribute or ``partial(module_fn)``, or when it — a local def, a
    lambda, or the nested defs a factory call returns — loads a
    module-level function or package import, directly or through the
    local defs it calls or the names it loads that hold a factory
    call's result (``select = _build_select()``). Driver-side closures that never reach one of
    those entry points are not kernels and are not checked."""
    import ast

    tree = ast.parse(source)
    mod_funcs = {n.name for n in tree.body if isinstance(n, ast.FunctionDef)}
    pkg_imports = {
        a.asname or a.name
        for n in tree.body
        if isinstance(n, ast.ImportFrom)
        and n.module
        and "clickhouse_batcher_spark" in n.module
        for a in n.names
    }
    risky = mod_funcs | pkg_imports
    defs: dict[str, list] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.FunctionDef):
            defs.setdefault(node.name, []).append(node)

    def nested(factory: str) -> list:
        """The defs a factory builds; they ship with whatever uses them."""
        return [
            inner
            for d in defs.get(factory, [])
            for inner in ast.walk(d)
            if isinstance(inner, ast.FunctionDef) and inner is not d
        ]

    # name = factory(...): loading the name loads the factory's defs
    built: dict[str, list] = {}
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Assign)
            and isinstance(node.value, ast.Call)
            and isinstance(node.value.func, ast.Name)
        ):
            for t in node.targets:
                if isinstance(t, ast.Name):
                    built.setdefault(t.id, []).extend(nested(node.value.func.id))

    def captured(node, seen: set) -> set:
        loads = {
            n.id
            for n in ast.walk(node)
            if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load)
        }
        hits = loads & risky
        for name in sorted(loads - risky - seen):
            seen.add(name)  # a local def the kernel calls ships with it
            for d in defs.get(name, []) + built.get(name, []):
                hits |= captured(d, seen)
        return hits

    def is_partial(f) -> bool:
        return getattr(f, "id", getattr(f, "attr", None)) == "partial"

    out = []
    for node in ast.walk(tree):
        if not (
            isinstance(node, ast.Call)
            and getattr(node.func, "attr", getattr(node.func, "id", None))
            in _KERNEL_METHODS
        ):
            continue
        where = f"{fname}:{node.lineno}"
        # the kernel may arrive positionally or as func=...
        for k in list(node.args[:1]) + [
            kw.value for kw in node.keywords if kw.arg == "func"
        ]:
            if isinstance(k, ast.Call) and is_partial(k.func) and k.args:
                k = k.args[0]  # partial(fn, ...) pickles fn
            if isinstance(k, ast.Attribute):
                out.append(f"{where} kernel passed as attribute .{k.attr}")
                continue
            if isinstance(k, ast.Name) and k.id in risky:
                out.append(f"{where} kernel {k.id} is module-level")
                continue
            if isinstance(k, ast.Name):
                bodies = defs.get(k.id, [])
            elif isinstance(k, ast.Lambda):
                bodies = [k]
            elif isinstance(k, ast.Call) and isinstance(k.func, ast.Name):
                # factory call: the nested defs it builds are the kernel
                bodies = nested(k.func.id)
            else:
                bodies = []
            hits = set().union(*(captured(b, set()) for b in bodies))
            if hits:
                out.append(f"{where} kernel captures module-level {sorted(hits)}")
    return out


def test_no_module_level_pandas_kernels():
    """Kernels passed to mapInPandas/applyInPandas must be LOCAL defs
    (built in a closure or a _build_*() factory) that capture no
    module-level function or package import: those pickle BY
    REFERENCE, and this package is not importable on executor Python
    workers when the driver runs from a cwd other than the repo root.
    Three operators (ols/pca/lttb) carried that latent
    ModuleNotFoundError for five rounds because local sweeps always ran
    from the repo root — this AST lint is the systematic guard (see
    ``_kernel_hazards`` for the shapes it checks)."""
    import pathlib

    import clickhouse_batcher_spark

    root = pathlib.Path(clickhouse_batcher_spark.__file__).parent
    offenders = []
    for p in sorted(root.rglob("*.py")):
        offenders += _kernel_hazards(p.read_text(), p.name)
    assert not offenders, offenders


_HAZARD_MODULE = """
from functools import partial

from clickhouse_batcher_spark.functions import tokens
from clickhouse_batcher_spark.operators import memo


def helper(x):
    return x


def module_kernel(it):
    yield from it


def _build_kernel():
    def kernel(it):
        for pdf in it:
            yield helper(pdf)

    return kernel


def _build_clean_kernel():
    def kernel(it):
        yield from it

    return kernel


def query(df):
    def uses_module_fn(it):
        for pdf in it:
            yield helper(pdf)

    def uses_pkg_import(it):
        for pdf in it:
            yield tokens(pdf)

    def calls_local(it):
        for pdf in it:
            yield via_local(pdf)

    def via_local(pdf):
        return helper(pdf)

    def merge(a, b):
        return helper(a)

    def clean(it):
        for pdf in it:
            yield pdf

    def build():  # driver-side closure, never pickled
        return helper(df)

    built = _build_kernel()

    def calls_built(it):
        yield from built(it)

    built_clean = _build_clean_kernel()

    def calls_built_clean(it):
        yield from built_clean(it)

    g = df.groupBy("k")
    df.mapInPandas(module_kernel, "x long")  # bad
    df.mapInPandas(memo.module_kernel, "x long")  # bad
    df.mapInPandas(partial(module_kernel), "x long")  # bad
    df.mapInPandas(uses_module_fn, "x long")  # bad
    df.mapInPandas(func=uses_pkg_import, schema="x long")  # bad
    df.mapInPandas(calls_local, "x long")  # bad
    df.mapInPandas(_build_kernel(), "x long")  # bad
    g.cogroup(g).applyInPandas(lambda a, b: merge(a, b), "x long")  # bad
    g.applyInPandas(lambda pdf: helper(pdf), "x long")  # bad
    df.mapInPandas(calls_built, "x long")  # bad
    df.mapInPandas(clean, "x long")
    df.mapInPandas(partial(clean), "x long")
    df.mapInPandas(_build_clean_kernel(), "x long")
    g.applyInPandas(lambda pdf: pdf, "x long")
    df.mapInPandas(calls_built_clean, "x long")
    return build()
"""


def test_kernel_lint_flags_every_hazard_shape():
    """The lint must flag each by-reference kernel shape of the
    synthetic module (one ``# bad`` line per shape) and nothing else —
    in particular not the driver-side ``build`` closure."""
    lines = _HAZARD_MODULE.splitlines()
    bad = {i for i, line in enumerate(lines, 1) if line.endswith("# bad")}
    hazards = _kernel_hazards(_HAZARD_MODULE, "synthetic.py")
    flagged = {int(h.split()[0].split(":")[1]) for h in hazards}
    assert len(bad) == 10
    assert flagged == bad, hazards
    assert len(hazards) == len(bad), hazards


def test_kcore_broadcast_hint_is_size_gated(spark, sf_dir, monkeypatch):
    """The k-core peel's node-frame broadcast hints must be conditional
    on the surviving-set size (round-9): below KCORE_BROADCAST_MAX_NODES
    the peel joins carry broadcast hints; above it the hints drop and
    the plan falls back to shuffle joins. autoBroadcastJoinThreshold is
    disabled during the check so only the HINT decides the join
    strategy."""
    from clickhouse_batcher_spark import catalog
    from clickhouse_batcher_spark.operators import graph

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan_small = _formatted_plan(
            catalog.QUERIES["coactivity_kcore"](spark, sf_dir)
        )
        # -1, not 0: at tiny sf the first peel can have ZERO survivors
        # and 0 <= 0 would keep the hints on
        monkeypatch.setattr(graph, "KCORE_BROADCAST_MAX_NODES", -1)
        plan_big = _formatted_plan(
            catalog.QUERIES["coactivity_kcore"](spark, sf_dir)
        )
        # the edge-building pipeline keeps its own (legitimate)
        # broadcasts in both plans; the PEEL joins are the delta:
        # below the threshold they broadcast, above it they fall back
        # to shuffle joins
        assert plan_small.count("BroadcastHashJoin") > plan_big.count(
            "BroadcastHashJoin"
        )
        assert plan_big.count("SortMergeJoin") > plan_small.count(
            "SortMergeJoin"
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
