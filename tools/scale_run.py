"""Measured scaling exponents (VERDICT r7 task 3): run the family-
representative queries at sf0.1 / sf0.3(derived) / sf1(derived) and
fit per-query scaling exponents, converting SCALE.md's design claims
(DF-capped dedup candidates, banded LSH, CC loop, broadcast joins)
into measurements.

The sf0.3/sf1 dirs come from tools/make_scaled_sf.py (replica
construction that preserves within-replica dedup structure and keeps
cross-replica overlap at zero — the honest model of a corpus that
GREW). Exponent = log(t_big / t_small) / log(rows_big / rows_small),
fitted by least squares over the three points: 1.0 = linear, < 1 =
fixed-cost-dominated at this size, >> 1 = a scale problem.

Usage::

    python tools/make_scaled_sf.py --out /tmp/sfscale/sf0.3 --replicas 3
    python tools/make_scaled_sf.py --out /tmp/sfscale/sf1 --replicas 10
    python tools/scale_run.py --out SCALE_RUN_r08.json
"""

from __future__ import annotations

import argparse
import json
import math
import sys
import time

sys.path.insert(0, "/root/repo")

# Family representatives: scan/agg, shuffled joins, window families,
# every dedup detector + the CC closure, similarity (brute force +
# bucketed ANN), retrieval, quality/LM/curation, packing, graph.
QUERIES = [
    "tpch_q1",
    "tpch_q18_big_orders",
    "join_revenue_by_segment",
    "events_analytics_window",
    "text_stats",
    "quality_filter_c4",
    "dedup_exact_docs",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "dedup_clusters",
    "dedup_keep_canonical",
    "dedup_span_rewrite",
    "similarity_topk",
    "similarity_ann_lsh",
    "embedding_neardup",
    "bm25_retrieval_topk",
    "tfidf_top_terms",
    "dsir_importance_weights",
    "docs_kn_bigram_logprob",
    "concat_block_packing",
    "coactivity_pagerank",
    # round-8 second-session additions
    "coactivity_kcore",
    "knn_label_agreement",
    "doremi_domain_weights",
    "padding_efficiency_report",
    "unigram_lm_learn",
    "unigram_lm_encode_docs",
    "user_survival_km",
    "events_theil_sen_trend",
    "events_cusum_changepoint",
    # round-9 additions
    "length_sorted_packing_gain",
    "docs_code_switch_report",
    "shingle_novelty_curve",
    "quality_psi_by_source",
    "token_budget_waterfill",
    "decontamination_report",
    "temperature_mix_curve",
    "cluster_quality_consistency",
    "media_audio_spectrum",
    "minhash_recall_curve",
    "dedup_inflation_report",
    "pii_rate_by_source",
    "shard_checksum_manifest",
    "coactivity_label_propagation",
    "coactivity_assortativity",
    "events_hourly_seasonality",
    "user_lifecycle_stages",
    # round-10 companions for the rows-only families
    "ann_recall_vs_exact",
    "bpe_roundtrip_violations",
    "unigram_encode_lossless",
    "pca_projection_invariants",
    "lttb_invariant_violations",
    "semantic_dedup_invariants",
    "media_pipeline_invariants",
    # round-10 export/dedup analytics
    "resharding_stability_report",
    "dup_pair_training_spacing",
]

POINTS = [
    ("/root/testdata/sf0.1", 1.0),
    ("/tmp/sfscale/sf0.3", 3.0),
    ("/tmp/sfscale/sf1", 10.0),
]


def _force(df) -> int:
    return df.count()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default="SCALE_RUN_r08.json")
    ap.add_argument("--queries", default=None)
    args = ap.parse_args()
    names = args.queries.split(",") if args.queries else QUERIES

    from clickhouse_batcher_spark import catalog  # noqa: E402
    from clickhouse_batcher_spark.session import get_session  # noqa: E402

    catalog.load_all()

    spark = get_session(app_name="chb_scale_run")
    # one untimed warm pass per plan at the smallest sf (codegen/JIT
    # costs are plan-shaped, not data-sized — bench.py's lesson)
    for n in names:
        try:
            _force(catalog.QUERIES[n](spark, "/root/testdata/sf0.001"))
        except Exception as e:  # pragma: no cover - report and continue
            print("warm fail", n, e)
        finally:
            spark.catalog.clearCache()

    from clickhouse_batcher_spark.operators.memo import evict_all

    results: dict[str, dict] = {n: {} for n in names}
    for sf_dir, mult in POINTS:
        spark.catalog.clearCache()
        evict_all()  # drop the previous scale point's memoized frames
        for n in names:
            t0 = time.perf_counter()
            try:
                rows = _force(catalog.QUERIES[n](spark, sf_dir))
                el = round(time.perf_counter() - t0, 3)
                results[n][str(mult)] = {"sec": el, "rows": rows}
                print(f"{sf_dir.rsplit('/',1)[-1]:8s} {n:32s} "
                      f"{el:8.2f}s  {rows} rows", flush=True)
            except Exception as e:
                results[n][str(mult)] = {"err": str(e)[:300]}
                print("FAIL", sf_dir, n, str(e)[:200], flush=True)

    for n in names:
        pts = [
            (math.log(mult), math.log(results[n][str(mult)]["sec"]))
            for _, mult in POINTS
            if "sec" in results[n].get(str(mult), {})
        ]
        if len(pts) >= 2:
            mx = sum(x for x, _ in pts) / len(pts)
            my = sum(y for _, y in pts) / len(pts)
            denom = sum((x - mx) ** 2 for x, _ in pts)
            slope = (
                sum((x - mx) * (y - my) for x, y in pts) / denom
                if denom
                else 0.0
            )
            results[n]["exponent"] = round(slope, 3)
    with open(args.out, "w") as fh:
        json.dump(results, fh, indent=1, sort_keys=True)
    print(json.dumps(
        {n: results[n].get("exponent") for n in names}, sort_keys=True
    ))


if __name__ == "__main__":
    main()
