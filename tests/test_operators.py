"""Parity + behavior tests for the LLM-pipeline operator surface."""

import pytest
from pyspark.sql import functions as F

from clickhouse_batcher_spark import catalog

catalog.load_all()

from tests.parity import assert_parity

ORACLED = [
    "text_stats",
    "langid_predict",
    "token_histogram",
    "doc_fingerprint",
    "dedup_content_hash",
    "dedup_ngram_jaccard",
    "dedup_containment_pairs",
    "dedup_minhash_lsh",
    "simhash_signatures",
    "dedup_simhash",
    "similarity_topk",
    "embedding_neardup",
    "knn_label_agreement",
    "media_metadata",
    "media_frame_sample",
    "asof_events_orders",
    "asof_forward_events_orders",
    "asof_nearest_events_orders",
    "chunk_documents",
    "docs_rare_token_ratio",
    "embedding_quantize_int8",
    "decontaminate_docs",
    "dsir_importance_weights",
    "quality_filter_c4",
    "token_fertility_by_lang",
    "source_overlap_matrix",
    "bm25_retrieval_topk",
    "quality_filter_gopher",
    "salted_join_user_segments",
    "value_histogram_quantiles",
    "docs_unigram_logprob",
    "docs_bigram_logprob",
    "token_zipf_fit",
    "embedding_label_cohesion",
    "classifier_calibration_bins",
    "dedup_threshold_sweep",
    "join_key_skew_report",
    "quality_budget_curve",
    "length_sorted_packing_gain",
    "docs_code_switch_report",
    "shingle_novelty_curve",
    "quality_psi_by_source",
    "token_budget_waterfill",
    "decontamination_report",
    "temperature_mix_curve",
    "cluster_quality_consistency",
    "minhash_recall_curve",
    "dedup_inflation_report",
    "pii_rate_by_source",
    "shard_checksum_manifest",
    "coactivity_label_propagation",
    "coactivity_assortativity",
    "events_hourly_seasonality",
    "user_lifecycle_stages",
    "source_distinctive_terms",
    "docs_repetition_signals",
    "bpe_pair_counts",
    "funnel_conversion",
    "incremental_rollup_events",
    "bloom_semi_join_orders",
    "docs_token_entropy",
    "distinct_users_linear_count",
    "event_type_value_correlation",
    "cohort_retention_weekly",
    "user_survival_km",
    "events_theil_sen_trend",
    "fuzzy_token_matches",
    "events_zorder_bucket_stats",
    "inverted_index_postings",
    "coactivity_triangle_stats",
    "sliding_distinct_users",
    "events_day_over_day",
    "orders_quality_constraints",
    "orders_snapshot_diff",
    "repeated_span_stats",
    "hybrid_retrieval_rrf",
    "hll_distinct_users",
    "topk_heavy_hitters",
    "topk_weighted_users",
    "dedup_keep_canonical",
    "events_rank_corr",
    "events_cramers_v",
    "events_bit_aggregates",
    "events_linreg_by_type",
    "user_type_sum_map",
    "ab_welch_ttest",
    "ab_mann_whitney_u",
    "events_skew_kurt_by_type",
    "events_theils_u",
    "sequence_count_per_user",
    "window_funnel_levels",
    "temperature_mix_sample",
    "kmv_distinct_users",
    "props_information_value",
    "hll_state_merge_daily",
    "user_type_minmax_map",
    "kmv_union_intersection",
    "concat_block_packing",
    "duplicate_line_ratio",
    "conversion_latency_quantiles",
    "customer_rfm_segments",
    "part_copurchase_lift",
    "user_sequence_logprob",
    "supplier_hhi_by_nation",
    "user_activity_gini",
    "events_hourly_robust_anomalies",
    "events_hour_anova",
    "langid_confusion",
    "event_type_pmi",
    "events_sparkbar_hourly",
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
    # round-10 widening
    "ab_ks_test",
    "orders_pareto_skyline",
    "docs_readability_report",
    "quantile_state_merge_daily",
    "embedding_centroid_distances",
    "ab_assignment_srm",
    "ab_min_sample_size",
    "parts_abc_classification",
    "orders_benford_deviation",
    "customer_order_islands",
    "attribution_model_comparison",
    "user_metric_corr_matrix",
    "docs_simpson_diversity",
    "orders_interarrival_burstiness",
]


@pytest.mark.parametrize("name", ORACLED)
def test_operator_parity(spark, sf_dir, name):
    assert_parity(spark, name, sf_dir)


def test_repeated_span_stats_invariants(spark, sf_dir):
    """Structural invariants of the exact-substring span flags: one
    row per doc, coverage bounded by the flagged-interval union, and a
    non-zero cross-doc signal on this corpus."""
    from clickhouse_batcher_spark.operators.dedup import SPAN_K
    from clickhouse_batcher_spark.tables import load_table

    rows = catalog.QUERIES["repeated_span_stats"](spark, sf_dir).collect()
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert len(rows) == n_docs
    assert any(r["covered_tokens"] > 0 for r in rows)  # real repeats exist
    for r in rows:
        assert 0.0 <= r["coverage"] <= 1.0, r
        assert r["covered_tokens"] <= r["n_tokens"], r
        assert r["n_repeated_positions"] <= r["n_grams"], r
        # interval union can cover at most K tokens per flagged start
        assert r["covered_tokens"] <= SPAN_K * r["n_repeated_positions"], r
        if r["n_repeated_positions"]:
            assert r["covered_tokens"] >= SPAN_K  # one span covers K


def test_neardup_detectors_find_planted_twins(spark, sf_dir):
    """The truncated-twin corpus gives every detector a known signal."""
    jac = catalog.QUERIES["dedup_ngram_jaccard"](spark, sf_dir)
    twin_pairs = jac.filter(
        F.col("doc_b") == F.col("doc_a") + 100_000
    ).count()
    assert twin_pairs > 100  # most twins detected at jaccard >= 0.6

    mh = catalog.QUERIES["dedup_minhash_lsh"](spark, sf_dir)
    assert mh.count() > 100

    emb = catalog.QUERIES["embedding_neardup"](spark, sf_dir)
    assert emb.filter(F.col("vec_b") == F.col("vec_a") + 100_000).count() > 0


def test_embedding_quantize_bounds(spark, sf_dir):
    """Quantization contract: codes fit int8 ([-127, 127]) and the
    reconstruction error respects the half-step bound scale/2."""
    rows = catalog.QUERIES["embedding_quantize_int8"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        codes = [int(c) for c in r["q_csv"].split(",")]
        assert len(codes) == 64
        assert all(-127 <= c <= 127 for c in codes), r["vec_id"]
        assert r["max_abs_err"] <= r["scale"] / 2 + 1e-12, r["vec_id"]


def test_chunk_documents_invariants(spark, sf_dir):
    """Chunking contract: contiguous chunk_idx from 0; every chunk has
    1..CHUNK_TOKENS tokens (docs are non-empty); consecutive chunk
    starts are CHUNK_STRIDE apart so coverage has CHUNK-STRIDE token
    overlap; the chunk count matches 1+ceil(max(0, n-CHUNK)/STRIDE)."""
    import math

    from clickhouse_batcher_spark.operators.corpus import (
        CHUNK_STRIDE,
        CHUNK_TOKENS,
    )

    chunks = {}
    for r in catalog.QUERIES["chunk_documents"](spark, sf_dir).collect():
        chunks.setdefault(r["doc_id"], {})[r["chunk_idx"]] = r["n_chunk_tokens"]
    n_toks = {
        r["doc_id"]: r["n_tokens"]
        for r in catalog.QUERIES["text_stats"](spark, sf_dir).collect()
    }
    assert set(chunks) == set(n_toks)
    for doc_id, by_idx in chunks.items():
        n = n_toks[doc_id]
        expected_chunks = 1 + math.ceil(max(0, n - CHUNK_TOKENS) / CHUNK_STRIDE)
        assert sorted(by_idx) == list(range(expected_chunks)), doc_id
        for idx, clen in by_idx.items():
            start = idx * CHUNK_STRIDE  # 0-based
            assert clen == min(CHUNK_TOKENS, n - start), (doc_id, idx)
            assert 1 <= clen <= CHUNK_TOKENS, (doc_id, idx)


def test_embedding_neardup_tile_invariance(spark, sf_dir, monkeypatch):
    """NEARDUP_TILES is a memory/parallelism knob only: every unordered
    pair lands in exactly one tile-pair group for ANY T, so the result
    set must be identical across tile counts (round-3 advice)."""
    from clickhouse_batcher_spark.operators import similarity as S

    results = {}
    for tiles in (3, 8):
        monkeypatch.setattr(S, "NEARDUP_TILES", tiles)
        results[tiles] = {
            (r["vec_a"], r["vec_b"], round(r["cos_sim"], 6))
            for r in catalog.QUERIES["embedding_neardup"](spark, sf_dir).collect()
        }
    assert results[3]  # twins guarantee a non-empty result
    assert results[3] == results[8]


@pytest.mark.parametrize(
    "fixture_dir", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
)
def test_ann_lsh_recall_vs_bruteforce(spark, fixture_dir):
    """The LSH path is approximate: measure top-5 recall against the
    brute-force baseline at BOTH driver fixture sizes (rows-only op —
    this is its correctness check)."""
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in catalog.QUERIES["similarity_topk"](spark, fixture_dir).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in catalog.QUERIES["similarity_ann_lsh"](spark, fixture_dir).collect()
    }
    assert approx  # buckets are non-degenerate
    recall = len(exact & approx) / len(exact)
    # Multi-probe LSH (16 tables x 8 planes, 2^3 probes/table): the
    # offline config scan measures 0.80-0.92 at seed 42 on both
    # fixtures; 0.6 is the floor a retrieval component must clear to
    # be more than decorative (VERDICT r4 task 2).
    assert recall >= 0.6, f"recall {recall}"


def test_decode_features_plumbing(spark, sf_dir):
    """Real-kernel decode over the real-binary media table: every PNG
    row is fully pixel-decoded (format/width/height from the actual
    IHDR, not metadata), WAV rows are PCM-parsed, GIF rows
    header-parsed — nothing falls back to 'unknown'."""
    from clickhouse_batcher_spark.operators.multimodal import (
        FEATURE_DIM,
        decode_features,
        media_binary_table,
    )

    media = media_binary_table(spark, sf_dir)
    feats = decode_features(media)
    assert feats.schema["features"].dataType.simpleString() == "array<double>"
    rows = feats.limit(60).collect()
    assert rows and all(len(r["features"]) == FEATURE_DIM for r in rows)
    expected_fmt = {"image": "png", "audio": "wav", "video": "gif"}
    for r in rows:
        assert r["format"] == expected_fmt[r["media_type"]], r
        if r["format"] == "png":
            # dims must match the generator's formula — proves the
            # kernel read the real IHDR
            assert r["width"] == 4 + r["doc_id"] % 13, r
            assert r["height"] == 3 + r["doc_id"] % 11, r
            assert r["channels"] == 3
            # features[4:8] are decoded-pixel stats; n_pixels = w*h*3
            assert r["features"][7] == r["width"] * r["height"] * 3
        elif r["format"] == "gif":
            assert r["width"] == 16 + r["doc_id"] % 9, r
            assert r["height"] == 9 + r["doc_id"] % 7, r
            # features[3] is the LZW-decoded frame count — proves the
            # kernel walked and decompressed every image block
            assert r["features"][3] == 2 + r["doc_id"] % 3, r
            # features[6] is len(first frame RGB) = w*h*3
            assert r["features"][6] == r["width"] * r["height"] * 3, r
    # deterministic: same input -> same features
    again = feats.limit(60).collect()
    assert [r["features"] for r in rows] == [r["features"] for r in again]


def test_media_codecs_roundtrip_and_headers():
    """Driver-side unit checks for the dependency-free codecs: PNG
    encode->decode reproduces exact pixels (incl. a hand-filtered
    stream exercising Sub/Up/Average/Paeth), WAV round-trips PCM16
    samples, and BMP/JPEG headers parse from crafted bytes (VERDICT r4
    task 3: 'a unit test asserts decoded dimensions for a known
    image')."""
    import struct
    import zlib

    from clickhouse_batcher_spark.operators.multimodal import _build_codecs

    c = _build_codecs()
    # --- PNG round trip, known 2x2 image ---
    px = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255, 10, 20, 30])
    blob = c["png_encode"](2, 2, px)
    w, h, ch, depth, out = c["png_decode"](blob)
    assert (w, h, ch, depth) == (2, 2, 3, 8)
    assert out == px
    # --- PNG with every filter type (hand-built scanlines) ---
    wf, hf = 3, 5
    raw_px = bytes(range(wf * hf * 3))
    stride = wf * 3

    def line(y):
        return raw_px[y * stride : (y + 1) * stride]

    def sub_f(cur):
        return bytes(
            (cur[i] - (cur[i - 3] if i >= 3 else 0)) & 0xFF for i in range(stride)
        )

    def up_f(cur, prev):
        return bytes((cur[i] - prev[i]) & 0xFF for i in range(stride))

    def avg_f(cur, prev):
        return bytes(
            (cur[i] - (((cur[i - 3] if i >= 3 else 0) + prev[i]) >> 1)) & 0xFF
            for i in range(stride)
        )

    def paeth_f(cur, prev):
        out = []
        for i in range(stride):
            a = cur[i - 3] if i >= 3 else 0
            b = prev[i]
            cc = prev[i - 3] if i >= 3 else 0
            p = a + b - cc
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
            pred = a if pa <= pb and pa <= pc else (b if pb <= pc else cc)
            out.append((cur[i] - pred) & 0xFF)
        return bytes(out)

    filtered = (
        b"\x00" + line(0)
        + b"\x01" + sub_f(line(1))
        + b"\x02" + up_f(line(2), line(1))
        + b"\x03" + avg_f(line(3), line(2))
        + b"\x04" + paeth_f(line(4), line(3))
    )

    def chunk(tag, data):
        body = tag + data
        return (
            struct.pack(">I", len(data))
            + body
            + struct.pack(">I", zlib.crc32(body) & 0xFFFFFFFF)
        )

    blob2 = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", wf, hf, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(filtered))
        + chunk(b"IEND", b"")
    )
    w2, h2, ch2, _, out2 = c["png_decode"](blob2)
    assert (w2, h2, ch2) == (wf, hf, 3)
    assert out2 == raw_px
    # --- WAV round trip ---
    samples = [0, 1000, -1000, 32767, -32768, 5]
    wav = c["wav_encode"](8000, samples)
    rate, nch, bits, got = c["wav_decode"](wav)
    assert (rate, nch, bits) == (8000, 1, 16)
    assert got == samples
    # --- BMP header ---
    bmp = (
        b"BM" + b"\x00" * 16
        + struct.pack("<ii", 17, -9)  # top-down: negative height
        + b"\x00\x00" + struct.pack("<H", 24) + b"\x00" * 10
    )
    assert c["bmp_header"](bmp) == (17, 9, 24)
    # --- JPEG header: SOI + APP0 + SOF0 ---
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
    sof0 = b"\xff\xc0" + struct.pack(">H", 17) + bytes([8]) + struct.pack(
        ">HH", 33, 44
    ) + bytes([3]) + b"\x00" * 9
    assert c["jpeg_header"](b"\xff\xd8" + app0 + sof0) == (44, 33, 3, 8)
    # --- GIF header ---
    assert c["gif_header"](b"GIF89a" + struct.pack("<HH", 7, 11) + b"\x00") == (7, 11)
    # --- GIF LZW round trip: 2 frames of known palette indices ---
    palette = [(0, 0, 0), (255, 0, 0), (0, 255, 0), (0, 0, 255)]
    f0 = bytes([0, 1, 2, 3, 3, 2])
    f1 = bytes([3, 3, 0, 0, 1, 1])
    gif = c["gif_encode"](3, 2, palette, [f0, f1])
    gw, gh, n_frames, frames = c["gif_decode"](gif)
    assert (gw, gh, n_frames) == (3, 2, 2)
    expect0 = b"".join(bytes(palette[i]) for i in f0)
    expect1 = b"".join(bytes(palette[i]) for i in f1)
    assert frames[0] == expect0 and frames[1] == expect1
    # --- decoder vs a REAL (string-table, growing-code-width) LZW
    # encoder, the form third-party GIF writers emit; our shipping
    # encoder's CLEAR-per-pixel stream never grows the table, so this
    # covers the growth path the fixture can't ---
    w3, h3 = 16, 8
    pix = bytes((i * 7 + (i // w3) * 3) % 4 for i in range(w3 * h3))
    min_code = 2
    clear_c, eoi_c = 4, 5
    codes = [clear_c]
    tbl = {bytes([i]): i for i in range(4)}
    nxt = 6
    width = 3
    widths = []
    cur = b""
    for b in pix:
        cand = cur + bytes([b])
        if cand in tbl:
            cur = cand
            continue
        codes.append(tbl[cur])
        widths.append(width)
        tbl[cand] = nxt
        nxt += 1
        if nxt - 1 == (1 << width):  # decoder grows at table==2^width
            width += 1
        cur = bytes([b])
    codes.append(tbl[cur])
    widths.append(width)
    codes.append(eoi_c)
    widths = [3] + widths + [width]  # CLEAR at 3 bits; EOI at final width
    acc = nbits = 0
    packed = bytearray()
    for code, cw in zip(codes, widths):
        acc |= code << nbits
        nbits += cw
        while nbits >= 8:
            packed.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
    if nbits:
        packed.append(acc & 0xFF)
    gct = b"".join(bytes(p) for p in palette)
    blob3 = bytearray(
        b"GIF89a" + struct.pack("<HHBBB", w3, h3, 0x80 | 1, 0, 0) + gct
    )
    blob3 += b"\x2c" + struct.pack("<HHHHB", 0, 0, w3, h3, 0)
    blob3.append(min_code)
    for i in range(0, len(packed), 255):
        chunk_b = packed[i : i + 255]
        blob3.append(len(chunk_b))
        blob3 += chunk_b
    blob3 += b"\x00\x3b"
    gw3, gh3, nf3, frames3 = c["gif_decode"](bytes(blob3))
    assert (gw3, gh3, nf3) == (w3, h3, 1)
    assert frames3[0] == b"".join(bytes(palette[i]) for i in pix)
    # --- garbage in -> None, not an exception ---
    assert c["png_decode"](b"not a png") is None
    assert c["wav_decode"](b"RIFFxxxx") is None
    assert c["jpeg_header"](b"\x00\x01") is None


def test_asof_pandas_matches_window(spark, sf_dir):
    from clickhouse_batcher_spark.operators.asof import asof_join_pandas
    from clickhouse_batcher_spark.tables import load_table

    events = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") < 500)
        .select("event_id", "user_id", "ts")
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate"
    )
    window_version = {
        (r["event_id"], r["o_orderkey"])
        for r in catalog.QUERIES["asof_events_orders"](spark, sf_dir)
        .filter(F.col("event_id") < 500)
        .collect()
    }
    pandas_version = asof_join_pandas(
        events,
        orders,
        left_key="user_id",
        right_key="o_custkey",
        left_ts="ts",
        right_ts="o_orderdate",
        right_tiebreak="o_orderkey",
        right_cols=["o_orderkey", "o_orderdate"],
        out_schema="event_id BIGINT, user_id BIGINT, ts TIMESTAMP, "
        "o_orderkey BIGINT, o_orderdate TIMESTAMP",
    )
    pandas_set = {
        (r["event_id"], r["o_orderkey"]) for r in pandas_version.collect()
    }
    assert window_version == pandas_set


def test_resize_real_png_output(spark, sf_dir):
    """The resize kernel now actually decodes, resamples, and
    re-encodes: every output payload must itself be a valid
    RESIZE_W x RESIZE_H RGB PNG when decoded with the same codec."""
    from clickhouse_batcher_spark.operators.multimodal import (
        RESIZE_H,
        RESIZE_W,
        _build_codecs,
        media_binary_table,
        resize_media,
    )

    images = media_binary_table(spark, sf_dir).filter(
        F.col("media_type") == "image"
    )
    out = resize_media(images).limit(10).collect()
    assert out
    c = _build_codecs()
    for r in out:
        assert r["width"] == RESIZE_W and r["height"] == RESIZE_H
        decoded = c["png_decode"](bytes(r["payload"]))
        assert decoded is not None, "resize output is not a valid PNG"
        w, h, ch, depth, px = decoded
        assert (w, h, ch, depth) == (RESIZE_W, RESIZE_H, 3, 8)
        assert px is not None and len(px) == RESIZE_W * RESIZE_H * 3


def test_dedup_clusters_match_union_find(spark, sf_dir):
    """Spark label propagation == exact union-find on the same edges."""
    from clickhouse_batcher_spark.operators.cluster import connected_components
    from clickhouse_batcher_spark.operators.dedup import dedup_minhash_lsh

    edges = [
        (r["doc_a"], r["doc_b"])
        for r in dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b").collect()
    ]
    assert edges

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    expected = {v: find(v) for v in parent}

    pairs_df = spark.createDataFrame(edges, "doc_a BIGINT, doc_b BIGINT")
    got = {
        r["vertex"]: r["component"]
        for r in connected_components(pairs_df).collect()
    }
    assert got == expected


def test_connected_components_chain_graph_terminates(spark):
    """Round-3 advice: a diameter-15 chain (worst case for min-label
    propagation — one hop per iteration) must converge to a single
    component without lineage blowup (localCheckpoint every few
    iterations keeps the plan bounded)."""
    from clickhouse_batcher_spark.operators.cluster import connected_components

    n = 16  # chain 0-1-2-...-15, diameter 15
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a BIGINT, doc_b BIGINT"
    )
    got = {
        r["vertex"]: r["component"] for r in connected_components(edges).collect()
    }
    assert got == {v: 0 for v in range(n)}


def test_shingle_memo_keyed_on_application_id(spark):
    """Round-3 advice: the memo key must be the Spark applicationId
    (unique per context), not id(spark) — a recycled id() could serve a
    cached DataFrame owned by a dead session."""
    from clickhouse_batcher_spark.operators import dedup

    live_key = (spark.sparkContext.applicationId, "/fake/sf")
    stale_key = ("app-some-other-session", "/fake/sf")
    live_sentinel, stale_sentinel = object(), object()
    dedup._doc_shingles_cached.table[live_key] = live_sentinel
    dedup._doc_shingles_cached.table[stale_key] = stale_sentinel
    try:
        # the live session gets its own entry...
        assert dedup._doc_shingles_cached(spark, "/fake/sf") is live_sentinel

        # ...and a different session, even at the same sf_dir, resolves
        # to ITS entry — never the other session's.
        class _FakeSC:
            applicationId = "app-some-other-session"

        class _FakeSpark:
            sparkContext = _FakeSC()

        assert (
            dedup._doc_shingles_cached(_FakeSpark(), "/fake/sf")
            is stale_sentinel
        )
    finally:
        del dedup._doc_shingles_cached.table[live_key]
        del dedup._doc_shingles_cached.table[stale_key]


def test_retrieval_parity(spark, sf_dir):
    assert_parity(spark, "retrieval_topk_docs", sf_dir)


def test_cms_parity_and_bounds(spark, sf_dir):
    assert_parity(spark, "token_count_min_sketch", sf_dir)
    rows = catalog.QUERIES["token_count_min_sketch"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["cms_estimate"] >= r["exact_cnt"]  # CMS never undercounts


def test_profile_parity(spark, sf_dir):
    assert_parity(spark, "profile_events", sf_dir)


def test_bm25_topk_contract(spark, sf_dir):
    """BM25 contract: exactly TOP_K rows, rank is the dense 1..k
    sequence in score order, and every score is positive (Lucene idf
    is always > 0)."""
    from clickhouse_batcher_spark.operators.corpus import BM25_TOP_K

    rows = (
        catalog.QUERIES["bm25_retrieval_topk"](spark, sf_dir)
        .orderBy("rank")
        .collect()
    )
    assert len(rows) == BM25_TOP_K
    assert [r["rank"] for r in rows] == list(range(1, BM25_TOP_K + 1))
    scores = [r["score"] for r in rows]
    assert all(s > 0 for s in scores)
    assert scores == sorted(scores, reverse=True)


def test_quality_filter_gopher_mix(spark, sf_dir):
    """The calibrated thresholds must actually split the corpus: some
    docs keep, some reject, and `keep` is the AND of the four rules."""
    df = catalog.QUERIES["quality_filter_gopher"](spark, sf_dir)
    agg = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("keep").cast("int")).alias("n_keep"),
        F.sum(
            (
                F.col("keep")
                != (
                    F.col("r_word_count")
                    & F.col("r_mean_len")
                    & F.col("r_stopwords")
                    & F.col("r_repetition")
                )
            ).cast("int")
        ).alias("n_inconsistent"),
    ).collect()[0]
    assert agg["n_inconsistent"] == 0
    assert 0 < agg["n_keep"] < agg["n"]


def test_salted_join_equals_plain_join(spark, sf_dir):
    """Salting is an execution-layer rewrite: the (key, salt) join must
    return the exact multiset of the plain equi-join, for any salt
    count."""
    from clickhouse_batcher_spark.operators.skew import salted_join
    from clickhouse_batcher_spark.tables import load_table

    events = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    plain = sorted(
        (r["event_id"], r["c_mktsegment"])
        for r in events.join(
            customer, events.user_id == customer.c_custkey
        ).collect()
    )
    for n_salts in (1, 5):
        salted = sorted(
            (r["event_id"], r["c_mktsegment"])
            for r in salted_join(
                events, customer, "user_id", "c_custkey", n_salts=n_salts
            ).collect()
        )
        assert salted == plain, n_salts


def test_histogram_quantile_bound(spark, sf_dir):
    """The discrete q-quantile element lies inside the estimated bin:
    est <= exact < est + BIN_WIDTH (the sketch's error bound)."""
    import duckdb

    from clickhouse_batcher_spark.operators.sketch import (
        HIST_BIN_WIDTH,
        HIST_QS,
    )

    est = {
        r["event_type"]: r
        for r in catalog.QUERIES["value_histogram_quantiles"](
            spark, sf_dir
        ).collect()
    }
    con = duckdb.connect()
    exact = con.execute(
        f"""SELECT event_type,
              {", ".join(f"quantile_disc(value, {q}) AS q{int(q*100)}" for q in HIST_QS)}
           FROM '{sf_dir}/events.parquet' GROUP BY event_type"""
    ).fetchall()
    assert exact
    for row in exact:
        etype = row[0]
        for i, q in enumerate(HIST_QS):
            e, x = est[etype][f"q{int(q*100)}_est"], row[1 + i]
            assert e <= x < e + HIST_BIN_WIDTH, (etype, q, e, x)


def test_repetition_signals_invariants(spark, sf_dir):
    """Count bounds + a planted pathological doc rejects."""
    rows = catalog.QUERIES["docs_repetition_signals"](spark, sf_dir).collect()
    assert rows
    kept = sum(1 for r in rows if r["keep"])
    assert 0 < kept < len(rows)  # the thresholds discriminate
    for r in rows:
        assert 0 <= r["top_bigram_cnt"] <= r["n_bigrams"], r["doc_id"]
        assert 0 <= r["dup_trigram_cnt"] <= r["n_trigrams"], r["doc_id"]
        assert 0.0 <= r["top_bigram_frac"] <= 1.0
        assert 0.0 <= r["dup_trigram_frac"] <= 1.0
        # a doc is only rejected when a fraction crosses its threshold
        from clickhouse_batcher_spark.operators.ngrams import (
            DUP_TRIGRAM_MAX_FRAC,
            TOP_BIGRAM_MAX_FRAC,
        )
        assert r["keep"] == (
            r["top_bigram_frac"] <= TOP_BIGRAM_MAX_FRAC
            and r["dup_trigram_frac"] <= DUP_TRIGRAM_MAX_FRAC
        )


def test_repetition_signals_planted_loop(spark):
    """A phrase loop maxes both signals; varied text keeps both low."""
    from clickhouse_batcher_spark.operators.ngrams import _ngram_arrays

    df = spark.createDataFrame(
        [
            (1, "buy now " * 30),  # 'buy now'/'now buy' dominate
            (2, " ".join(f"w{i}" for i in range(60))),  # all n-grams unique
        ],
        "doc_id long, text string",
    )
    g = _ngram_arrays(df)
    rows = {r["doc_id"]: r for r in g.collect()}
    loop_bg = rows[1]["bg"]
    assert loop_bg.count("buy now") == 30
    assert len(set(rows[2]["tg"])) == len(rows[2]["tg"])


def test_merge_fold_equals_sequential_fold(spark):
    """The replace-based linear _merge_fold (round-13 optimization)
    must equal the greedy left-to-right non-overlapping sequential
    fold on adversarial inputs the corpus tests may not exercise:
    a==b runs, adjacent back-to-back matches, near-miss boundaries
    (token suffix equal to the pair's left symbol), multi-space merged
    symbols from earlier rounds, empty and singleton arrays."""
    from clickhouse_batcher_spark.operators.ngrams import _merge_fold

    def seq_fold(syms, a, b):
        out = []
        for s in syms:
            if out and out[-1] == a and s == b:
                out[-1] = f"{a} {b}"
            else:
                out.append(s)
        return out

    cases = [
        (["x", "x", "x"], "x", "x"),
        (["x", "x", "x", "x"], "x", "x"),
        (["a", "b", "a", "b"], "a", "b"),
        (["a", "a", "b"], "a", "b"),
        (["a", "b", "b"], "a", "b"),
        (["b", "a", "b"], "a", "b"),
        (["ca", "b"], "a", "b"),  # suffix near-miss: must NOT merge
        (["a", "bc"], "a", "b"),  # prefix near-miss: must NOT merge
        (["a b", "c", "d"], "a b", "c"),  # left symbol from round 1
        (["q", "a b", "a b"], "a b", "a b"),
        ([], "a", "b"),
        (["a"], "a", "b"),
        (["b", "a"], "a", "b"),
    ]
    # randomized sweep over a tiny alphabet (dense accidental matches)
    import random

    rng = random.Random(13)
    for _ in range(40):
        n = rng.randint(0, 12)
        syms = [rng.choice(["a", "b", "c"]) for _ in range(n)]
        pair = rng.choice([("a", "b"), ("b", "b"), ("c", "a")])
        cases.append((syms, *pair))

    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(i, syms, a, b) for i, (syms, a, b) in enumerate(cases)],
        "id INT, syms ARRAY<STRING>, a STRING, b STRING",
    )
    # one plan per distinct pair (the pair is a plan-time literal)
    got = {}
    for i, (syms, a, b) in enumerate(cases):
        row = (
            df.filter(F.col("id") == i)
            .select(_merge_fold("syms", a, b).alias("m"))
            .collect()[0]
        )
        got[i] = list(row["m"])
    for i, (syms, a, b) in enumerate(cases):
        assert got[i] == seq_fold(syms, a, b), (i, syms, a, b)


def test_bpe_pair_counts_ranks(spark, sf_dir):
    """Ranks are 1..k, counts non-increasing, pairs are real bigrams."""
    rows = sorted(
        catalog.QUERIES["bpe_pair_counts"](spark, sf_dir).collect(),
        key=lambda r: r["rank"],
    )
    from clickhouse_batcher_spark.operators.ngrams import TOP_PAIRS

    assert [r["rank"] for r in rows] == list(range(1, TOP_PAIRS + 1))
    cnts = [r["cnt"] for r in rows]
    assert cnts == sorted(cnts, reverse=True)
    assert all(len(r["pair"].split(" ")) == 2 for r in rows)


def test_funnel_stage_cascade(spark, sf_dir):
    """Stage counts are monotone non-increasing; per-user stage times
    respect the strict-order + window cascade."""
    from clickhouse_batcher_spark.operators.funnel import (
        FUNNEL_STAGES,
        FUNNEL_WINDOW_S,
        funnel_stage_times,
    )
    from clickhouse_batcher_spark.tables import load_table

    summary = catalog.QUERIES["funnel_conversion"](spark, sf_dir).collect()[0]
    assert (
        summary["n_users"]
        >= summary["n_view"]
        >= summary["n_view_click"]
        >= summary["n_view_click_purchase"]
    )
    assert summary["n_view_click"] > 0  # window chosen to discriminate
    assert summary["n_view_click_purchase"] < summary["n_view"]

    events = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin(*FUNNEL_STAGES)
    )
    for r in funnel_stage_times(events).collect():
        if r["t2"] is not None:
            assert r["t1"] is not None
            gap = (r["t2"] - r["t1"]).total_seconds()
            assert 0 < gap <= FUNNEL_WINDOW_S, r["user_id"]
        if r["t3"] is not None:
            assert r["t2"] is not None
            gap = (r["t3"] - r["t2"]).total_seconds()
            assert 0 < gap <= FUNNEL_WINDOW_S, r["user_id"]


def test_rollup_merge_is_split_invariant(spark, sf_dir):
    """merge(agg(A), agg(B), agg(C)) == agg(full) for an arbitrary
    3-way hash split — the mergeable-state contract, beyond the
    catalog query's single date split."""
    from clickhouse_batcher_spark.operators.rollup import (
        merge_rollups,
        partial_rollup,
    )
    from clickhouse_batcher_spark.tables import load_table

    events = load_table(spark, sf_dir, "events")
    parts = [
        partial_rollup(events.filter(F.pmod(F.col("event_id"), F.lit(3)) == i))
        for i in range(3)
    ]
    merged = {
        (r["day"], r["event_type"]): (r["cnt"], r["sum_value"])
        for r in merge_rollups(*parts).collect()
    }
    full = {
        (r["day"], r["event_type"]): (r["cnt"], r["sum_value"])
        for r in merge_rollups(partial_rollup(events)).collect()
    }
    assert merged == full  # exact, including the double-cast sums


def test_bloom_prefilter_never_drops_members(spark, sf_dir, monkeypatch):
    """Bloom filters admit false positives, never false negatives: with
    a deliberately saturated 32-bit filter every row passes the
    prefilter, yet the verify step keeps the result exact."""
    from clickhouse_batcher_spark.operators import bloomjoin as B
    from clickhouse_batcher_spark.tables import load_table

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    seg = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == B.BLOOM_SEGMENT)
        .select("c_custkey")
    )
    exact = {
        r["o_orderkey"]
        for r in orders.join(
            seg.withColumnRenamed("c_custkey", "o_custkey"),
            "o_custkey",
            "left_semi",
        ).collect()
    }

    monkeypatch.setattr(B, "BLOOM_WORDS", 1)  # saturate: FPs guaranteed
    bloom = B.bloom_build(seg, "c_custkey")
    passed = B.bloom_probe(orders, "o_custkey", bloom).count()
    final = {
        r["o_orderkey"]
        for r in B.bloom_semi_join(
            orders, "o_custkey", seg, "c_custkey"
        ).collect()
    }
    assert passed > len(exact)  # false positives really occurred
    assert final == exact       # ...and verify removed every one


def test_token_entropy_bounds(spark, sf_dir):
    """0 <= H <= ln(n_distinct) + rounding slack; uniform docs hit the
    ceiling, single-token docs hit 0."""
    import math

    rows = catalog.QUERIES["docs_token_entropy"](spark, sf_dir).collect()
    assert rows
    slack = 1e-6 * max(r["n_distinct_tokens"] for r in rows)
    for r in rows:
        assert -slack <= r["token_entropy"], r["doc_id"]
        assert r["token_entropy"] <= math.log(r["n_distinct_tokens"]) + slack

    df = spark.createDataFrame(
        [(1, "same same same same"), (2, "a b c d")],
        "doc_id long, text string",
    )
    from clickhouse_batcher_spark.operators import corpus as C
    from unittest.mock import patch

    with patch.object(C, "load_table", lambda *_: df):
        by_id = {
            r["doc_id"]: r
            for r in C.docs_token_entropy(spark, sf_dir).collect()
        }
    assert by_id[1]["token_entropy"] == 0.0
    assert abs(by_id[2]["token_entropy"] - math.log(4)) < 1e-5


def test_linear_count_accuracy(spark, sf_dir):
    """Sketch estimate within 5% of the true distinct count at this
    load factor (~150 keys in 4096 bits)."""
    import duckdb

    exact = dict(
        duckdb.connect()
        .execute(
            f"SELECT event_type, count(DISTINCT user_id) "
            f"FROM '{sf_dir}/events.parquet' GROUP BY 1"
        )
        .fetchall()
    )
    rows = catalog.QUERIES["distinct_users_linear_count"](
        spark, sf_dir
    ).collect()
    assert set(r["event_type"] for r in rows) == set(exact)
    for r in rows:
        true = exact[r["event_type"]]
        # tolerance: 5% relative or 2 keys absolute, whichever is
        # larger — at tiny n a single hash collision costs one key,
        # which is normal sketch variance, not a defect.
        assert abs(r["est_distinct"] - true) <= max(0.05 * true, 2.0), (
            r["event_type"]
        )


def test_moment_corr_matches_numpy(spark, sf_dir):
    """Decimal-moment Pearson == numpy corrcoef to float tolerance, and
    a self-pair correlates at exactly 1."""
    import numpy as np

    from clickhouse_batcher_spark.operators.corr import moment_corr
    from clickhouse_batcher_spark.tables import load_table

    events = load_table(spark, sf_dir, "events")
    per_user = events.groupBy("user_id", "event_type").agg(
        F.sum(F.col("value").cast("decimal(27,6)")).cast("double").alias("x")
    )
    a = per_user.select("user_id", F.col("event_type").alias("type_a"), F.col("x").alias("xa"))
    b = per_user.select("user_id", F.col("event_type").alias("type_b"), F.col("x").alias("xb"))
    pairs = a.join(b, "user_id").filter(F.col("type_a") < F.col("type_b"))
    got = {
        (r["type_a"], r["type_b"]): r["corr"]
        for r in moment_corr(pairs, "xa", "xb", ["type_a", "type_b"]).collect()
    }
    raw = pairs.collect()
    by_pair = {}
    for r in raw:
        by_pair.setdefault((r["type_a"], r["type_b"]), []).append((r["xa"], r["xb"]))
    for key, vals in by_pair.items():
        xs, ys = zip(*vals)
        expected = np.corrcoef(xs, ys)[0, 1]
        assert abs(got[key] - expected) < 1e-9, key

    self_pairs = a.join(
        a.select("user_id", F.col("type_a").alias("type_b"), F.col("xa").alias("xb")),
        "user_id",
    ).filter(F.col("type_a") == F.col("type_b"))
    selfs = moment_corr(self_pairs, "xa", "xb", ["type_a", "type_b"]).collect()
    assert selfs and all(abs(r["corr"] - 1.0) < 1e-12 for r in selfs)


def test_fuzzy_blocking_is_complete(spark, sf_dir):
    """Deletion-neighborhood blocking must find EVERY pair within
    distance k (no false negatives) — verified against brute-force
    levenshtein over the whole vocabulary."""
    from clickhouse_batcher_spark.operators.fuzzy import FUZZY_MAX_DIST
    from clickhouse_batcher_spark.tables import load_table
    from clickhouse_batcher_spark.functions import tokens as tok_fn

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i in range(1, len(a) + 1):
            prev, dp[0] = dp[0], i
            for j in range(1, len(b) + 1):
                cur = dp[j]
                dp[j] = min(dp[j] + 1, dp[j - 1] + 1, prev + (a[i - 1] != b[j - 1]))
                prev = cur
        return dp[-1]

    docs = load_table(spark, sf_dir, "documents")
    vocab = sorted(
        r["tok"]
        for r in docs.select(F.explode(tok_fn("text")).alias("tok"))
        .distinct()
        .collect()
    )
    import itertools

    expected = {
        (a, b)
        for a, b in itertools.combinations(vocab, 2)
        if lev(a, b) <= FUZZY_MAX_DIST
    }
    got = {
        (r["tok_a"], r["tok_b"])
        for r in catalog.QUERIES["fuzzy_token_matches"](spark, sf_dir).collect()
    }
    assert got == expected
    assert expected  # the corpus really exercises the operator


def test_cohort_retention_invariants(spark, sf_dir):
    """Week-0 retention is 1.0 for every cohort; activity never
    precedes the cohort week; n_active <= cohort_size."""
    rows = catalog.QUERIES["cohort_retention_weekly"](spark, sf_dir).collect()
    assert rows
    week0 = {r["cohort_week"] for r in rows if r["activity_week"] == r["cohort_week"]}
    cohorts = {r["cohort_week"] for r in rows}
    assert week0 == cohorts
    for r in rows:
        assert r["activity_week"] >= r["cohort_week"]
        assert 0 < r["n_active"] <= r["cohort_size"]
        if r["activity_week"] == r["cohort_week"]:
            assert r["retention"] == 1.0, r["cohort_week"]


def test_zorder_key_properties(spark):
    """Interleave round-trip: the key is a bijection on (a, b) pairs,
    and neighbors in either dimension stay within a bounded key
    distance band (locality)."""
    import itertools

    from clickhouse_batcher_spark.operators.zorder import zorder_key

    pts = [(a, b) for a, b in itertools.product(range(16), range(16))]
    df = spark.createDataFrame(pts, "a long, b long")
    rows = df.select(
        "a", "b", zorder_key(F.col("a"), F.col("b"), 4).alias("z")
    ).collect()
    keys = {(r["a"], r["b"]): r["z"] for r in rows}
    assert len(set(keys.values())) == len(pts)  # bijective on the grid
    # spot-check the classic morton values
    assert keys[(0, 0)] == 0 and keys[(1, 0)] == 1 and keys[(0, 1)] == 2
    assert keys[(15, 15)] == 255


def test_zorder_clusters_both_dimensions(spark, sf_dir):
    """Per-bucket envelopes shrink on BOTH dims vs their global ranges
    — the property single-column sorting cannot give."""
    rows = catalog.QUERIES["events_zorder_bucket_stats"](
        spark, sf_dir
    ).collect()
    assert len(rows) > 16
    gu = max(r["max_user"] for r in rows) - min(r["min_user"] for r in rows)
    gm = max(r["max_minute"] for r in rows) - min(r["min_minute"] for r in rows)
    avg_u = sum(r["max_user"] - r["min_user"] for r in rows) / len(rows)
    avg_m = sum(r["max_minute"] - r["min_minute"] for r in rows) / len(rows)
    assert avg_u < gu / 4, (avg_u, gu)
    assert avg_m < gm / 4, (avg_m, gm)


def test_zorder_write_roundtrip(spark, sf_dir, tmp_path):
    """zorder_write preserves every row and produces the requested
    file count with per-file envelopes tight on both dims."""
    from clickhouse_batcher_spark.operators.zorder import zorder_write
    from clickhouse_batcher_spark.tables import load_table

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", F.unix_micros("ts").alias("us")
    )
    path = str(tmp_path / "zorder")
    zorder_write(events, "user_id", "us", path, files=8)
    back = spark.read.parquet(path)
    assert back.count() == events.count()
    assert sorted(back.columns) == sorted(events.columns)


def test_inverted_index_invariants(spark, sf_dir):
    """Postings are sorted, capped, and consistent with df/total_tf;
    df cross-checks against a direct distinct count."""
    from clickhouse_batcher_spark.operators.invindex import POSTINGS_CAP
    from clickhouse_batcher_spark.functions import tokens as tok_fn
    from clickhouse_batcher_spark.tables import load_table

    rows = catalog.QUERIES["inverted_index_postings"](spark, sf_dir).collect()
    assert rows
    docs = load_table(spark, sf_dir, "documents")
    true_df = {
        r["token"]: r["df"]
        for r in docs.select(F.explode(tok_fn("text")).alias("token"), "doc_id")
        .distinct()
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"))
        .collect()
    }
    for r in rows:
        ids = [int(x) for x in r["postings_csv"].split(",")]
        assert ids == sorted(ids)
        assert len(ids) == min(r["df"], POSTINGS_CAP)
        assert r["total_tf"] >= r["df"]
        assert true_df[r["token"]] == r["df"]


def test_triangle_count_matches_bruteforce(spark, sf_dir):
    """Distributed edge-edge-edge join == brute-force triangle count
    on the collected edge set (small by the edge threshold)."""
    import itertools

    from clickhouse_batcher_spark.operators.graph import coactivity_edges
    from clickhouse_batcher_spark.tables import load_table

    events = load_table(spark, sf_dir, "events")
    edges = {
        (r["ua"], r["ub"]) for r in coactivity_edges(events).collect()
    }
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    brute = sum(
        1
        for a, b in edges
        for c in adj[a] & adj[b]
        if c > b  # a < b < c: count each triangle once
    )
    row = catalog.QUERIES["coactivity_triangle_stats"](spark, sf_dir).collect()[0]
    assert row["n_triangles"] == brute
    assert row["n_edges"] == len(edges)
    deg = {n: len(s) for n, s in adj.items()}
    assert row["n_wedges"] == sum(d * (d - 1) // 2 for d in deg.values())


def test_sliding_distinct_accuracy(spark, sf_dir):
    """Window estimates track the exact sliding distinct counts within
    sketch tolerance (5% or 2 keys)."""
    import duckdb

    from clickhouse_batcher_spark.operators.sketch import LC_WINDOW_HOURS

    exact = dict(
        duckdb.connect()
        .execute(
            f"""
            WITH h AS (SELECT DISTINCT user_id,
                         date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h
                       FROM '{sf_dir}/events.parquet'),
            c AS (SELECT h - to_hours(off) AS w, user_id
                  FROM h, unnest(generate_series(0, {LC_WINDOW_HOURS - 1}))
                    AS t(off))
            SELECT w, count(DISTINCT user_id) FROM c GROUP BY w
            """
        )
        .fetchall()
    )
    rows = catalog.QUERIES["sliding_distinct_users"](spark, sf_dir).collect()
    assert len(rows) == len(exact)
    for r in rows:
        true = exact[r["window_start"]]
        assert abs(r["est_distinct"] - true) <= max(0.05 * true, 2.0), (
            r["window_start"]
        )


def test_quality_constraints_catch_planted_violations(spark, sf_dir):
    """Each rule fires on data planted to violate exactly it."""
    from clickhouse_batcher_spark.operators.quality import (
        check_orders_constraints,
    )
    from clickhouse_batcher_spark.tables import load_table

    orders = load_table(spark, sf_dir, "orders").limit(100).cache()
    customer = load_table(spark, sf_dir, "customer")

    clean = {
        r["constraint_name"]: r["pass"]
        for r in check_orders_constraints(orders, customer).collect()
    }
    assert all(clean.values()), clean

    dirty = orders.unionByName(
        orders.limit(1).select(  # dup key + orphan + bad status + bad price
            "o_orderkey",
            F.lit(-999).alias("o_custkey"),
            F.lit("X").alias("o_orderstatus"),
            F.lit(-5.0).alias("o_totalprice"),
            "o_orderdate",
            "o_orderpriority",
        )
    ).unionByName(
        orders.limit(1).select(
            (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
            F.lit(None).cast("bigint").alias("o_custkey"),  # null custkey
            "o_orderstatus",
            "o_totalprice",
            "o_orderdate",
            "o_orderpriority",
        )
    )
    got = {
        r["constraint_name"]: (r["violations"], r["pass"])
        for r in check_orders_constraints(dirty, customer).collect()
    }
    assert got["orderkey_unique"] == (1, False)
    assert got["custkey_complete"] == (1, False)
    assert got["status_in_domain"] == (1, False)
    assert got["price_in_range"] == (1, False)
    assert got["custkey_references_customer"] == (1, False)
    assert got["row_count_positive"][1] is True


def test_snapshot_diff_roundtrip(spark, sf_dir):
    """Applying the extracted diff to the old snapshot reconstructs
    the new snapshot exactly (CDC extract ∘ apply == identity), and
    all three change types occur in the scenario."""
    from clickhouse_batcher_spark.operators.merge import (
        SNAP_NEW_DAY,
        SNAP_OLD_DAY,
        merge_upsert,
        snapshot_diff,
    )
    from clickhouse_batcher_spark.tables import load_table

    orders = load_table(spark, sf_dir, "orders")
    old = orders.filter(
        F.col("o_orderdate") < F.lit(f"{SNAP_OLD_DAY} 00:00:00").cast("timestamp")
    ).select("o_orderkey", "o_totalprice", "o_orderstatus")
    new = orders.filter(
        (F.col("o_orderdate") < F.lit(f"{SNAP_NEW_DAY} 00:00:00").cast("timestamp"))
        & (F.col("o_orderkey") % 13 != 3)
    ).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 10 == 0, F.col("o_totalprice") + 1.0)
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
        "o_orderstatus",
    )
    diff = snapshot_diff(
        old, new, ["o_orderkey"], ["o_totalprice", "o_orderstatus"]
    ).cache()
    kinds = {r["change_type"] for r in diff.select("change_type").distinct().collect()}
    assert kinds == {"insert", "update", "delete"}

    upserts = diff.filter(F.col("change_type") != "delete").select(
        "o_orderkey",
        F.col("new_o_totalprice").alias("o_totalprice"),
        F.col("new_o_orderstatus").alias("o_orderstatus"),
    )
    deletes = diff.filter(F.col("change_type") == "delete").select("o_orderkey")
    rebuilt = merge_upsert(old, upserts, ["o_orderkey"]).join(
        deletes, "o_orderkey", "left_anti"
    )
    a = {tuple(r) for r in rebuilt.collect()}
    b = {tuple(r) for r in new.collect()}
    assert a == b


def test_overlap_sketch_accuracy(spark, sf_dir):
    """LC inclusion-exclusion intersection estimate within 10% (or 6
    keys) of the exact pairwise distinct-user overlap."""
    import duckdb

    exact = {
        (a, b): n
        for a, b, n in duckdb.connect()
        .execute(
            f"""
            WITH tu AS (SELECT DISTINCT event_type, user_id
                        FROM '{sf_dir}/events.parquet')
            SELECT a.event_type, b.event_type, count(*)
            FROM tu a JOIN tu b
              ON a.user_id = b.user_id AND a.event_type < b.event_type
            GROUP BY 1, 2
            """
        )
        .fetchall()
    }
    rows = catalog.QUERIES["distinct_users_type_overlap"](
        spark, sf_dir
    ).collect()
    assert len(rows) == len(exact)
    for r in rows:
        true = exact[(r["type_a"], r["type_b"])]
        assert abs(r["est_intersection"] - true) <= max(0.10 * true, 6.0), (
            r["type_a"],
            r["type_b"],
            r["est_intersection"],
            true,
        )
        assert r["bits_union"] <= r["bits_a"] + r["bits_b"]


def test_bpe_learn_merges_matches_sequential_recompute(spark, sf_dir):
    """The distributed iterative merge loop must equal an exact
    sequential recompute (greedy left-to-right non-overlapping merges,
    ties cnt desc then pair asc) — the coactivity_pagerank pattern for
    iterative ops with no SQL oracle."""
    from collections import Counter

    from clickhouse_batcher_spark.operators.ngrams import BPE_MERGE_ROUNDS
    from clickhouse_batcher_spark.functions import tokens as _tokens
    from clickhouse_batcher_spark.tables import load_table

    docs = (
        load_table(spark, sf_dir, "documents")
        .select(_tokens("text").alias("t"))
        .collect()
    )
    corpus = [list(r["t"]) for r in docs]
    expected = []
    for rnd in range(1, BPE_MERGE_ROUNDS + 1):
        counts = Counter()
        for syms in corpus:
            for i in range(len(syms) - 1):
                counts[(syms[i], syms[i + 1])] += 1
        if not counts:
            break
        (a, b), cnt = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        if cnt < 2:
            break
        expected.append((rnd, a, b, cnt))
        merged = f"{a} {b}"
        new_corpus = []
        for syms in corpus:
            out = []
            for s in syms:
                if out and out[-1] == a and s == b:
                    out[-1] = merged
                else:
                    out.append(s)
            new_corpus.append(out)
        corpus = new_corpus
    got = [
        (r["round"], r["sym_a"], r["sym_b"], r["cnt"])
        for r in catalog.QUERIES["bpe_learn_merges"](spark, sf_dir)
        .orderBy("round")
        .collect()
    ]
    assert got == expected


@pytest.mark.parametrize(
    "fixture_dir", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
)
def test_hll_accuracy_vs_exact(spark, fixture_dir):
    """HLL contract: with m=256 registers the standard error is
    ~1.04/sqrt(m) ~= 6.5%; assert every group estimates within 20%
    (small-range linear counting included) at both fixture sizes."""
    rows = catalog.QUERIES["hll_distinct_users"](spark, fixture_dir).collect()
    assert rows
    for r in rows:
        rel = abs(r["hll_estimate"] - r["exact_distinct"]) / r["exact_distinct"]
        assert rel <= 0.20, (r["event_type"], r["hll_estimate"], r["exact_distinct"])


def test_topk_heavy_hitters_contains_true_heavies(spark, sf_dir):
    """CMS estimates only overcount (est >= exact), so ranking by
    estimate can demote a heavy item only if lighter items were
    inflated ABOVE it — assert the true top-3 tokens survive into the
    sketch-ranked top-K on this corpus, and every estimate bounds its
    exact count from above."""
    rows = catalog.QUERIES["topk_heavy_hitters"](spark, sf_dir).collect()
    assert rows and len(rows) <= 20
    for r in rows:
        assert r["cms_estimate"] >= r["exact_cnt"], r["tok"]
    exact = catalog.QUERIES["token_count_min_sketch"](spark, sf_dir).collect()
    true_top3 = [
        r["tok"]
        for r in sorted(exact, key=lambda r: (-r["exact_cnt"], r["tok"]))[:3]
    ]
    picked = {r["tok"] for r in rows}
    assert set(true_top3) <= picked, (true_top3, picked)


def test_results_invariant_to_shuffle_partitioning(spark, sf_dir):
    """Freeze the round-4 one-off determinism verification as CI: the
    queries whose arithmetic could in principle depend on partition
    merge order (moment sums, EMA recurrence, correlation, sketches,
    fusion scores, iterative merges) must produce bit-identical rows
    under different shuffle-partition counts — this is what the
    decimal routing / integer-exact-internals conventions buy."""
    risk_set = [
        "value_moments_by_type",
        "events_ema_hourly_counts",
        "event_type_value_correlation",
        "hll_distinct_users",
        "hybrid_retrieval_rrf",
        "repeated_span_stats",
        "topk_heavy_hitters",
        "bpe_learn_merges",
        # round-5 third session: rank sums, chi-square terms, moment
        # sums, KMV min-sets, OLS integer moments, funnel windows
        "events_rank_corr",
        "events_cramers_v",
        "ab_mann_whitney_u",
        "events_skew_kurt_by_type",
        "kmv_distinct_users",
        "events_ols_fit",
        "window_funnel_levels",
        "hll_state_merge_daily",
    ]
    for name in risk_set:
        res = {}
        for n in ("5", "17"):
            spark.conf.set("spark.sql.shuffle.partitions", n)
            try:
                rows = catalog.QUERIES[name](spark, sf_dir).collect()
            finally:
                spark.conf.set("spark.sql.shuffle.partitions", "8")
            res[n] = sorted(tuple(r) for r in rows)
        assert res["5"] == res["17"], f"{name}: partition-dependent result"


def test_keep_canonical_drops_one_side_of_every_pair(spark, sf_dir):
    """The dedup guarantee: within any detected near-dup pair the
    worse member is dominated, so no pair survives intact in the kept
    set — and the truncated twins lose to their originals."""
    kept = {
        r["doc_id"]
        for r in catalog.QUERIES["dedup_keep_canonical"](spark, sf_dir).collect()
    }
    pairs = [
        (r["doc_a"], r["doc_b"])
        for r in catalog.QUERIES["dedup_minhash_lsh"](spark, sf_dir).collect()
    ]
    assert pairs
    both_kept = [(a, b) for a, b in pairs if a in kept and b in kept]
    assert not both_kept, both_kept[:5]
    # detected twin pairs: the truncated twin (doc + 100000) has
    # strictly fewer tokens, so it is always dominated and dropped
    # (its original may still lose to a third, longer near-dup)
    twin_pairs = [(a, b) for a, b in pairs if b == a + 100_000]
    assert twin_pairs
    assert all(b not in kept for _a, b in twin_pairs)


def test_pca_matches_full_numpy(spark, sf_dir):
    """The distributed Gram-partial PCA equals a single-machine NumPy
    PCA on the collected data (to float tolerance), partials and all;
    variance ratios are sorted descending; projections reproduce under
    repartitioning (sign convention pins the eigenvector orientation)."""
    import numpy as np

    from clickhouse_batcher_spark.operators.pca import PCA_K, pca_fit
    from clickhouse_batcher_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    mean, comps, evr = pca_fit(spark, emb)
    rows = emb.orderBy("vec_id").collect()
    X = np.array([r["embedding"] for r in rows], dtype=np.float64)
    assert np.allclose(mean, X.mean(axis=0), atol=1e-9)
    cov = np.cov(X, rowvar=False, bias=True)
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(evals)[::-1][:PCA_K]
    ref = evecs[:, order].T
    for i in range(PCA_K):
        j = int(np.argmax(np.abs(ref[i])))
        if ref[i, j] < 0:
            ref[i] = -ref[i]
    assert np.allclose(comps, ref, atol=1e-6)
    assert all(evr[i] >= evr[i + 1] - 1e-12 for i in range(PCA_K - 1))
    assert 0 < evr.sum() <= 1 + 1e-9

    # Re-partitioning must not change the fit (partial sums commute).
    mean2, comps2, _ = pca_fit(spark, emb.repartition(13))
    assert np.allclose(mean, mean2, atol=1e-9)
    assert np.allclose(comps, comps2, atol=1e-6)

    proj = {
        r["vec_id"]: r["proj"]
        for r in catalog.QUERIES["embedding_pca_project"](spark, sf_dir).collect()
    }
    assert len(proj) == len(rows)
    want = (X - X.mean(axis=0)) @ ref.T
    got = np.array([proj[r["vec_id"]] for r in rows])
    assert np.allclose(got, want, atol=1e-6)


def test_sequence_count_matches_greedy_simulation(spark, sf_dir):
    """The closed-form (total_B - max prefix excess) must equal an
    explicit greedy earliest-match simulation of sequenceCount."""
    from collections import defaultdict

    import duckdb

    from clickhouse_batcher_spark.operators.chagg2 import _SEQ_A, _SEQ_B

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{sf_dir}/events.parquet'"
    )
    rows = con.execute(
        f"""SELECT user_id, event_type FROM events
            WHERE event_type IN ('{_SEQ_A}', '{_SEQ_B}')
            ORDER BY user_id, ts, event_id"""
    ).fetchall()
    con.close()
    seq = defaultdict(list)
    for u, t in rows:
        seq[u].append(t)
    greedy = {}
    for u, types in seq.items():
        avail = matched = 0
        for t in types:
            if t == _SEQ_A:
                avail += 1
            elif avail > 0:
                avail -= 1
                matched += 1
        greedy[u] = matched
    got = {
        r["user_id"]: r["n_matches"]
        for r in catalog.QUERIES["sequence_count_per_user"](spark, sf_dir).collect()
    }
    assert got == greedy


def test_window_funnel_matches_chain_simulation(spark, sf_dir):
    """The range-window chain construction must equal an explicit
    per-user first-successor simulation of windowFunnel
    (strict_increase)."""
    from collections import defaultdict

    import duckdb

    from clickhouse_batcher_spark.operators.chagg2 import (
        _FUNNEL_STAGES,
        _FUNNEL_WINDOW_US,
    )

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{sf_dir}/events.parquet'"
    )
    rows = con.execute(
        f"""SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS tsm,
                   event_type
            FROM events WHERE event_type IN {_FUNNEL_STAGES!r}
            ORDER BY user_id, tsm"""
    ).fetchall()
    con.close()
    by_user = defaultdict(list)
    for u, tsm, et in rows:
        by_user[u].append((tsm, _FUNNEL_STAGES.index(et) + 1))
    levels = defaultdict(int)
    for u, evs in by_user.items():
        best = 0
        for t1, st in evs:
            if st != 1:
                continue
            lvl = 1
            n2 = min((t for t, s in evs if s == 2 and t > t1), default=None)
            if n2 is not None and n2 - t1 <= _FUNNEL_WINDOW_US:
                lvl = 2
                n3 = min(
                    (t for t, s in evs if s == 3 and t > n2), default=None
                )
                if n3 is not None and n3 - t1 <= _FUNNEL_WINDOW_US:
                    lvl = 3
            best = max(best, lvl)
        if best:
            levels[best] += 1
    got = {
        r["level"]: r["n_users"]
        for r in catalog.QUERIES["window_funnel_levels"](
            spark, sf_dir
        ).collect()
    }
    assert got == dict(levels)


def test_temperature_mix_quotas(spark, sf_dir):
    """Temperature scaling contract: quotas sum to ~target_frac of the
    corpus, every source keeps <= its size, and smoothing pulls
    fractions toward uniform (smaller sources keep a LARGER share)."""
    from clickhouse_batcher_spark.operators.sampling import (
        TMIX_TARGET_FRAC,
    )

    rows = catalog.QUERIES["temperature_mix_sample"](spark, sf_dir).collect()
    n_tot = sum(r["n_source"] for r in rows)
    q_tot = sum(r["quota"] for r in rows)
    assert abs(q_tot - TMIX_TARGET_FRAC * n_tot) <= len(rows)  # rounding
    for r in rows:
        assert 0 <= r["kept"] <= r["n_source"]
    shares = sorted(
        (r["n_source"], r["quota"] / r["n_source"]) for r in rows
    )
    # keep-fraction is non-increasing in source size (sqrt smoothing)
    fracs = [f for _, f in shares]
    assert all(a >= b - 1e-9 for a, b in zip(fracs, fracs[1:]))


def test_bpe_encode_roundtrip_and_sequential_recompute(spark, sf_dir):
    """Splitting every encoded symbol on its internal spaces must
    restore the original token stream, and a pure-Python sequential
    application of the learned merges must agree symbol-for-symbol."""
    from clickhouse_batcher_spark.operators.ngrams import bpe_learn_merges
    from clickhouse_batcher_spark.tables import load_table

    merges = [
        (r["sym_a"], r["sym_b"])
        for r in bpe_learn_merges(spark, sf_dir).orderBy("round").collect()
    ]
    assert merges  # the corpus yields at least one merge
    docs = {
        r["doc_id"]: r["text"]
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .collect()
    }
    enc_rows = (
        catalog.QUERIES["bpe_encode_docs"](spark, sf_dir)
        .orderBy("doc_id")
        .collect()
    )

    import re

    def toks(text):
        return [t for t in re.split(r"\s+", text.lower()) if t]

    def apply_merges(syms):
        for a, b in merges:
            out = []
            for s in syms:
                if out and out[-1] == a and s == b:
                    out[-1] = f"{a} {b}"
                else:
                    out.append(s)
            syms = out
        return syms

    n_compressed = 0
    for r in enc_rows:
        ref = apply_merges(toks(docs[r["doc_id"]]))
        assert r["n_symbols"] == len(ref), r["doc_id"]
        assert r["head_symbols"] == "|".join(ref[:8]), r["doc_id"]
        # roundtrip: un-merging restores the token stream
        restored = [t for s in ref for t in s.split(" ")]
        assert restored == toks(docs[r["doc_id"]]), r["doc_id"]
        n_compressed += r["n_symbols"] < r["n_tokens"]
    assert n_compressed > 0  # the merges actually fire somewhere


def test_ols_fit_matches_numpy_and_is_partition_invariant(spark, sf_dir):
    """events_ols_fit must equal NumPy lstsq on the collected design
    matrix, and the integer moment sums make it EXACTLY invariant to
    repartitioning."""
    import numpy as np

    from clickhouse_batcher_spark.operators.regress import (
        _design,
        ols_fit,
    )

    pdf = _design(spark, sf_dir).toPandas()
    X = pdf[["x0", "x1", "x2", "x3"]].to_numpy(dtype=np.float64)
    y = np.rint(pdf["y"].to_numpy() * 1e6) / 1e6
    ref, *_ = np.linalg.lstsq(X, y, rcond=None)

    beta, r2, n = ols_fit(spark, sf_dir)
    assert n == len(pdf)
    assert np.allclose(beta, ref, rtol=1e-8, atol=1e-10)
    pred = X @ ref
    ss_res = float(((y - pred) ** 2).sum())
    ss_tot = float(((y - y.mean()) ** 2).sum())
    assert abs(r2 - (1 - ss_res / ss_tot)) < 1e-6
    assert 0 < r2 < 1 or abs(r2) < 1  # sane range

    rows_a = catalog.QUERIES["events_ols_fit"](spark, sf_dir).collect()
    rows_b = catalog.QUERIES["events_ols_fit"](spark, sf_dir).collect()
    assert sorted(map(tuple, rows_a)) == sorted(map(tuple, rows_b))


def test_kmv_estimator_accuracy(spark):
    """At sf0.01 distinct users (~150) exceed k=64, so the estimator
    path engages; KMV with k=64 has sigma ~ 1/sqrt(62) ~ 13%, so 35%
    is a generous-but-meaningful accuracy floor."""
    sf = "/root/testdata/sf0.01"
    from clickhouse_batcher_spark.tables import load_table

    true = {
        r["event_type"]: r["d"]
        for r in load_table(spark, sf, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("d"))
        .collect()
    }
    est_engaged = 0
    for r in catalog.QUERIES["kmv_distinct_users"](spark, sf).collect():
        t = true[r["event_type"]]
        assert abs(r["est_distinct"] - t) / t < 0.35, (r, t)
        est_engaged += r["k_used"] == 64
    assert est_engaged > 0  # at least one group actually estimated


def test_hll_state_merge_is_lossless(spark, sf_dir):
    """Merged day-states must equal the direct sketch for EVERY group
    (register MAX associativity) and track exact distincts within HLL
    error at this register count."""
    rows = catalog.QUERIES["hll_state_merge_daily"](spark, sf_dir).collect()
    assert rows
    from clickhouse_batcher_spark.tables import load_table

    exact = {
        r["event_type"]: r["d"]
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("d"))
        .collect()
    }
    for r in rows:
        assert r["states_equal"] is True, r
        assert r["est_merged"] == r["est_direct"], r
        assert r["n_days"] > 1  # the rollup actually merged something


def test_kmv_set_algebra_accuracy(spark):
    """Union/intersection estimates must land within KMV error of the
    exact overlap at sf0.01 (where the estimator path engages)."""
    sf = "/root/testdata/sf0.01"
    from clickhouse_batcher_spark.tables import load_table

    ev = load_table(spark, sf, "events")
    a = {r["user_id"] for r in ev.filter(F.col("event_type") == "click").select("user_id").distinct().collect()}
    b = {r["user_id"] for r in ev.filter(F.col("event_type") == "view").select("user_id").distinct().collect()}
    row = catalog.QUERIES["kmv_union_intersection"](spark, sf).collect()[0]
    assert abs(row["est_union"] - len(a | b)) / len(a | b) < 0.35
    # intersection inherits three estimates' error; generous floor
    assert abs(row["est_intersection"] - len(a & b)) <= max(
        0.6 * len(a & b), 25
    )
    assert row["est_union"] <= row["est_a"] + row["est_b"]


def test_concat_block_packing_invariants(spark, sf_dir):
    """Zero padding: every block except the last holds exactly
    BLOCK_TOKENS tokens; block ids are contiguous from 0; doc spans
    are monotone; per-block token accounting sums to the corpus
    total."""
    from clickhouse_batcher_spark.operators.packing import BLOCK_TOKENS
    from clickhouse_batcher_spark.tables import load_table

    rows = sorted(
        catalog.QUERIES["concat_block_packing"](spark, sf_dir).collect(),
        key=lambda r: r["block_id"],
    )
    assert rows[0]["block_id"] == 0
    assert [r["block_id"] for r in rows] == list(range(len(rows)))
    for r in rows[:-1]:
        assert r["n_tokens"] == BLOCK_TOKENS, r
    assert 0 < rows[-1]["n_tokens"] <= BLOCK_TOKENS
    total = (
        load_table(spark, sf_dir, "documents")
        .select(
            F.size(
                F.filter(F.split(F.lower("text"), r"\s+"), lambda t: t != "")
            ).alias("n")
        )
        .agg(F.sum("n"))
        .collect()[0][0]
    )
    assert sum(r["n_tokens"] for r in rows) == total
    # doc spans never go backwards between consecutive blocks
    for a, b in zip(rows, rows[1:]):
        assert a["last_doc"] <= b["first_doc"] or a["last_doc"] == b["first_doc"]
        assert a["first_doc"] <= b["first_doc"]


def test_duplicate_line_ratio_finds_real_sharing(spark, sf_dir):
    """The corpus has ~160 repeated 10-token lines at sf0.001, so
    cross-doc sharing must surface; bounds and ratio arithmetic hold
    for every doc."""
    rows = catalog.QUERIES["duplicate_line_ratio"](spark, sf_dir).collect()
    assert rows
    n_with_sharing = 0
    for r in rows:
        assert 0 <= r["n_shared"] <= r["n_spans"], r
        assert abs(
            r["shared_ratio"] - round(r["n_shared"] / r["n_spans"], 6)
        ) < 1e-9
        n_with_sharing += r["n_shared"] > 0
    assert n_with_sharing > 10  # real cross-doc sharing exists


def test_rfm_quartiles_are_balanced(spark, sf_dir):
    """Quartile assignment contract: every axis splits customers into
    four groups whose sizes differ by at most one."""
    from collections import Counter

    rows = catalog.QUERIES["customer_rfm_segments"](spark, sf_dir).collect()
    total = sum(r["n_customers"] for r in rows)
    for axis in ("r_q", "f_q", "m_q"):
        sizes = Counter()
        for r in rows:
            sizes[r[axis]] += r["n_customers"]
        assert set(sizes) == {1, 2, 3, 4}
        assert max(sizes.values()) - min(sizes.values()) <= 1, (axis, sizes)
    assert total == sum(
        Counter(
            {r["segment"]: r["n_customers"] for r in rows}
        ).values()
    )


def test_copurchase_lift_consistency(spark, sf_dir):
    """Association-rule arithmetic: lift == confidence / baseline rate
    and support never exceeds either marginal."""
    from clickhouse_batcher_spark.operators.graph import MIN_PAIR_SUPPORT
    from clickhouse_batcher_spark.tables import load_table

    rows = catalog.QUERIES["part_copurchase_lift"](spark, sf_dir).collect()
    assert rows
    n_orders = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey")
        .distinct()
        .count()
    )
    for r in rows:
        assert r["together"] >= MIN_PAIR_SUPPORT
        assert r["together"] <= min(r["cnt_a"], r["cnt_b"])
        assert r["part_a"] < r["part_b"]
        lift = r["together"] * n_orders / (r["cnt_a"] * r["cnt_b"])
        assert abs(r["lift"] - round(lift, 6)) < 1e-9
        conf = r["together"] / r["cnt_a"]
        assert abs(r["conf_a_to_b"] - round(conf, 6)) < 1e-9


def test_anova_matches_scipy_style_recompute(spark, sf_dir):
    """eta^2 and F must match a direct NumPy group-mean recompute."""
    import numpy as np

    from clickhouse_batcher_spark.tables import load_table

    pdf = (
        load_table(spark, sf_dir, "events")
        .select("event_type", F.hour("ts").alias("hod"), F.round("value", 6).alias("v"))
        .toPandas()
    )
    got = {
        r["event_type"]: r
        for r in catalog.QUERIES["events_hour_anova"](spark, sf_dir).collect()
    }
    for et, g in pdf.groupby("event_type"):
        y = g["v"].to_numpy()
        n, k = len(y), g["hod"].nunique()
        grand = y.mean()
        ssb = sum(
            len(sub) * (sub["v"].mean() - grand) ** 2
            for _, sub in g.groupby("hod")
        )
        sst = ((y - grand) ** 2).sum()
        eta = ssb / sst
        f = (ssb / (k - 1)) / ((sst - ssb) / (n - k))
        r = got[et]
        assert r["n"] == n and r["k"] == k
        assert abs(r["eta_sq"] - eta) < 1e-4, (et, r["eta_sq"], eta)
        assert abs(r["f_stat"] - f) / max(abs(f), 1) < 1e-3, (et, r["f_stat"], f)


def test_langid_confusion_shares_sum_to_one(spark, sf_dir):
    """Row recall shares and column precision shares each sum to 1,
    and cell counts reconcile with langid_predict."""
    from collections import defaultdict

    rows = catalog.QUERIES["langid_confusion"](spark, sf_dir).collect()
    total = sum(r["n"] for r in rows)
    n_docs = catalog.QUERIES["langid_predict"](spark, sf_dir).count()
    assert total == n_docs
    by_label, by_pred = defaultdict(float), defaultdict(float)
    for r in rows:
        by_label[r["labeled_lang"]] += r["recall_share"]
        by_pred[r["pred_lang"]] += r["precision_share"]
    for v in list(by_label.values()) + list(by_pred.values()):
        assert abs(v - 1.0) < 1e-4, v


def test_containment_catches_truncated_twins(spark, sf_dir):
    """The fixture's truncated twins are PREFIXES of their originals,
    so containment(twin in original) must be high for most twins —
    the asymmetric signal — and every row respects its bounds."""
    rows = catalog.QUERIES["dedup_containment_pairs"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["shared"] <= r["n_contained"], r
        assert r["containment"] >= 0.8
    twin_rows = [
        r
        for r in rows
        if r["container"] == r["contained"] - 100_000
        or r["contained"] == r["container"] + 100_000
    ]
    assert len(twin_rows) > 50  # twins surface as containments


def test_asof_join_keeps_duplicate_left_rows(spark, sf_dir):
    """ADVICE r5: partitioning the dedup window on left.columns
    collapsed fully identical left rows into one output row; the
    generic API must keep both (ClickHouse ASOF JOIN does)."""
    from clickhouse_batcher_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(7, 100), (7, 100), (7, 50)], "k BIGINT, t BIGINT"
    )
    right = spark.createDataFrame(
        [(7, 90, 1), (7, 40, 2)], "k BIGINT, rt BIGINT, rid BIGINT"
    )
    out = asof_join(
        left,
        right.withColumnRenamed("k", "rk"),
        left_key="k",
        right_key="rk",
        left_ts="t",
        right_ts="rt",
        right_tiebreak="rid",
        right_cols=["rt", "rid"],
    ).collect()
    assert len(out) == 3
    matched_90 = [r for r in out if r["t"] == 100]
    assert len(matched_90) == 2
    assert all(r["rt"] == 90 for r in matched_90)
    assert [r["rt"] for r in out if r["t"] == 50] == [40]


def test_c4_rules_fire_on_planted_corpus(spark):
    """Each C4 rule on a planted punctuated corpus (the synthetic
    documents table has no punctuation, so rule firing is proven
    here; the catalog entry proves oracle parity on real inputs)."""
    from clickhouse_batcher_spark.operators.corpus import c4_signals

    rows = [
        # 3 sentences, 3 good lines -> keep
        (1, "This line has five good words.\n"
            "Another line with enough words here!\n"
            "A third full sentence sits here?"),
        # too few sentences
        (2, "One single proper sentence lives here."),
        # lorem ipsum page
        (3, "Lorem ipsum dolor sit amet, consectetur adipiscing elit.\n"
            "Second proper sentence with many words.\n"
            "Third proper sentence with many words."),
        # curly brace page
        (4, "function f() { return 1; }\n"
            "Second proper sentence with many words.\n"
            "Third proper sentence with many words?\n"
            "Fourth proper sentence with many words."),
        # javascript line dropped, others kept
        (5, "Please enable javascript to view this page.\n"
            "Second proper sentence with many words.\n"
            "Third proper sentence with many words.\n"
            "Fourth proper sentence with many words."),
        # line without terminal punctuation dropped; short line dropped
        (6, "no terminal punctuation on this line\n"
            "Tiny line.\n"
            "But this proper sentence survives the cut.\n"
            "And this other proper sentence does too!\n"
            "Then a third one appears here."),
    ]
    df = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    got = {r["doc_id"]: r for r in c4_signals(df).collect()}
    assert got[1]["keep"] and got[1]["n_kept_lines"] == 3
    assert not got[2]["keep"] and got[2]["n_sentences"] == 1
    assert not got[3]["keep"] and got[3]["has_lorem_ipsum"]
    assert not got[4]["keep"] and got[4]["has_curly_brace"]
    assert got[5]["keep"] and got[5]["n_kept_lines"] == 3  # js line dropped
    assert got[6]["keep"] and got[6]["n_kept_lines"] == 3


def test_semantic_dedup_matches_numpy_recompute(spark, sf_dir):
    """SemDeDup must equal a sequential NumPy replica of the exact
    algorithm (same seeded centroids, same rounded-cosine contract):
    per-cell greedy prune visiting ascending centroid-cosine. Plus the
    structural invariants the greedy guarantees: kept members of a cell
    are pairwise below threshold-reachable only via rounding, and every
    dropped doc names a kept same-cell duplicate."""
    import numpy as np

    from clickhouse_batcher_spark.operators.similarity import (
        SEMDEDUP_THRESHOLD,
        _dvec,
        _embeddings,
        _kmeans_centroids,
        _twin_corpus,
    )

    corpus = _twin_corpus(
        _embeddings(spark, sf_dir).select(
            "vec_id", _dvec("embedding").alias("v")
        )
    ).cache()
    out = {
        r["vec_id"]: r
        for r in catalog.QUERIES["semantic_dedup"](spark, sf_dir).collect()
    }
    rows = corpus.collect()
    ids = np.array([r["vec_id"] for r in rows])
    X = np.asarray([r["v"] for r in rows], dtype=np.float64)
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    cents = _kmeans_centroids(corpus)
    sims = Xn @ cents.T
    cells = np.argmax(sims, axis=1)
    csim = np.round(sims[np.arange(len(ids)), cells], 6)

    expect = {}
    for cell in np.unique(cells):
        idx = np.where(cells == cell)[0]
        order = idx[np.lexsort((ids[idx], csim[idx]))]
        kept: list[int] = []
        for i in order:
            dup = None
            if kept:
                s = np.round(Xn[kept] @ Xn[i], 6)
                j = int(np.argmax(s))
                if s[j] >= SEMDEDUP_THRESHOLD:
                    dup = int(ids[kept[j]])
            if dup is None:
                kept.append(i)
            expect[int(ids[i])] = (int(cell), float(csim[i]), dup is None, dup)

    assert set(out) == set(expect)
    for vid, (cell, cs, is_kept, dup) in expect.items():
        r = out[vid]
        assert (r["cell"], r["kept"], r["dup_of"]) == (cell, is_kept, dup)
        assert abs(r["centroid_sim"] - cs) < 1e-9

    dropped = [r for r in out.values() if not r["kept"]]
    assert dropped  # the twin construction guarantees collapses
    for r in dropped:
        rep = out[r["dup_of"]]
        assert rep["kept"] and rep["cell"] == r["cell"]
    corpus.unpersist()


def test_leakage_safe_split_invariant(spark, sf_dir):
    """No near-dup cluster may straddle a split boundary, and the
    splits partition the documents table exactly."""
    from pyspark.sql import functions as F

    from clickhouse_batcher_spark.operators.cluster import (
        dedup_clusters,
        leakage_safe_split,
    )
    from clickhouse_batcher_spark.operators.sampling import hash_bucket
    from clickhouse_batcher_spark.tables import load_table

    comps = dedup_clusters(spark, sf_dir).select("doc_id", "cluster_id")
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    full = docs.join(comps, "doc_id", "left").select(
        "doc_id", F.coalesce("cluster_id", "doc_id").alias("cl")
    )
    b = hash_bucket("cl", 100, "leakfree")
    lab = full.withColumn(
        "split",
        F.when(b < 10, "test").when(b < 20, "val").otherwise("train"),
    )
    spans = (
        lab.groupBy("cl")
        .agg(F.countDistinct("split").alias("k"))
        .filter(F.col("k") > 1)
        .count()
    )
    assert spans == 0
    out = {r["split"]: r for r in leakage_safe_split(spark, sf_dir).collect()}
    assert sum(r["n_docs"] for r in out.values()) == docs.count()
    assert set(out) <= {"train", "val", "test"}


def test_connected_components_random_graphs_match_union_find(spark):
    """Seeded random graphs (mixed chains/stars/cliques, diameters not
    divisible by STEPS_PER_ACTION) vs an exact union-find — guards the
    round-7 chained-steps convergence logic."""
    import random

    from clickhouse_batcher_spark.operators.cluster import connected_components

    for seed in (7, 21, 99):
        rng = random.Random(seed)
        n = 60
        raw = [(rng.randrange(n), rng.randrange(n)) for _ in range(45)]
        edges = [(a, b) for a, b in raw if a != b]
        verts = sorted({v for e in edges for v in e})
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        groups: dict[int, list[int]] = {}
        for v in verts:
            groups.setdefault(find(v), []).append(v)
        want = {}
        for members in groups.values():
            m = min(members)
            for v in members:
                want[v] = m
        df = spark.createDataFrame(edges, "doc_a BIGINT, doc_b BIGINT")
        got = {
            r["vertex"]: r["component"]
            for r in connected_components(df).collect()
        }
        assert got == want, f"seed={seed}"


def test_bitext_margin_mining_matches_numpy(spark, sf_dir):
    """The distributed margin miner equals a sequential NumPy
    implementation of Artetxe & Schwenk's ratio margin (same 1e6
    integer scaling, same tie-breaks), and the mutual-best contract
    holds: every src/tgt id appears at most once and every margin
    clears the threshold."""
    import numpy as np

    from clickhouse_batcher_spark.operators.similarity import (
        BITEXT_KNN,
        BITEXT_MARGIN_THRESHOLD,
        bitext_margin_mining,
    )
    from clickhouse_batcher_spark.tables import load_table

    got = {
        (r["src_id"], r["tgt_id"]): (r["cos_sim"], r["margin"])
        for r in bitext_margin_mining(spark, sf_dir).collect()
    }
    src_ids = [s for s, _ in got]
    tgt_ids = [t for _, t in got]
    assert len(set(src_ids)) == len(src_ids)
    assert len(set(tgt_ids)) == len(tgt_ids)
    assert all(m >= BITEXT_MARGIN_THRESHOLD for _, m in got.values())

    rows = (
        load_table(spark, sf_dir, "embeddings")
        .orderBy("vec_id")
        .collect()
    )
    ids = np.array([r["vec_id"] for r in rows])
    X = np.array([r["embedding"] for r in rows], dtype=np.float64)
    X = X / np.linalg.norm(X, axis=1, keepdims=True)
    s_mask, t_mask = ids % 2 == 0, ids % 2 == 1
    s_ids, t_ids = ids[s_mask], ids[t_mask]
    # identical pipeline: cosine -> round 6 -> 1e6 BIGINT
    c6 = np.rint(np.round(X[s_mask] @ X[t_mask].T, 6) * 1e6).astype(
        np.int64
    )
    k = BITEXT_KNN

    def knn_sum(scores):
        # top-k VALUES along axis 1 — the id tie-break cannot change a
        # sum of values, so a plain value sort suffices
        return np.sort(scores, axis=1)[:, ::-1][:, :k].sum(axis=1)

    fwd = knn_sum(c6)  # per src: ids only break ties, sums are id-free
    bwd = knn_sum(c6.T)  # per tgt
    margin = np.round(
        (2 * k * c6.astype(np.float64)) / (fwd[:, None] + bwd[None, :]), 6
    )
    # mutual best with id tie-breaks
    def best_idx(m, other_ids):
        out = []
        for i in range(m.shape[0]):
            row = m[i]
            j = np.lexsort((other_ids, -row))[0]
            out.append(j)
        return np.array(out)

    b_fwd = best_idx(margin, t_ids)
    b_bwd = best_idx(margin.T, s_ids)
    want = {}
    for i, j in enumerate(b_fwd):
        if b_bwd[j] == i and margin[i, j] >= BITEXT_MARGIN_THRESHOLD:
            want[(int(s_ids[i]), int(t_ids[j]))] = (
                round(c6[i, j] / 1e6, 6),
                float(margin[i, j]),
            )
    assert got == want


def test_dedup_lines_transform_matches_python(spark, sf_dir):
    """The in-row keep-first span filter equals a sequential Python
    recompute (same tokenization, same 10-token grid), and the
    invariants hold: n_kept <= n_spans, kept spans are unique."""
    import hashlib
    import math

    from clickhouse_batcher_spark.operators.dedup import (
        SPAN_LINE_TOKENS,
        dedup_lines_transform,
    )
    from clickhouse_batcher_spark.tables import load_table

    got = {
        r["doc_id"]: (r["n_spans"], r["n_kept"], r["cleaned_sha256"])
        for r in dedup_lines_transform(spark, sf_dir).collect()
    }
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    ).collect()
    assert len(got) == len(docs)
    for d in docs:
        ts = [t for t in d["text"].lower().split() if t]
        k = SPAN_LINE_TOKENS
        spans = [
            " ".join(ts[i * k : i * k + k])
            for i in range(math.ceil(len(ts) / k))
        ]
        spans = [s for s in spans if s]
        kept, seen = [], set()
        for s in spans:
            if s not in seen:
                seen.add(s)
                kept.append(s)
        sha = hashlib.sha256(" ".join(kept).encode()).hexdigest()
        assert got[d["doc_id"]] == (len(spans), len(kept), sha), d[
            "doc_id"
        ]


def test_hard_negative_triplets_contract(spark, sf_dir):
    """Triplet invariants: one positive per query (its exact top-1
    neighbor), negatives outside the false-negative margin, at most
    HARDNEG_K per query, ranked strictly below the positive."""
    import numpy as np

    from clickhouse_batcher_spark.operators.similarity import (
        HARDNEG_K,
        HARDNEG_MARGIN,
        N_QUERY_VECS,
        hard_negative_triplets,
    )
    from clickhouse_batcher_spark.tables import load_table

    rows = hard_negative_triplets(spark, sf_dir).collect()
    emb = load_table(spark, sf_dir, "embeddings").orderBy("vec_id").collect()
    ids = np.array([r["vec_id"] for r in emb])
    X = np.array([r["embedding"] for r in emb], dtype=np.float64)
    X = X / np.linalg.norm(X, axis=1, keepdims=True)
    cos = np.round(X[:N_QUERY_VECS] @ X.T, 6)
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    for q, triplets in by_q.items():
        assert len(triplets) <= HARDNEG_K
        # the positive is the exact top-1 (id tie-break) excluding self
        c = cos[q].copy()
        c[q] = -np.inf
        best = np.lexsort((ids, -c))[0]
        for t in triplets:
            assert t["pos_id"] == int(ids[best])
            assert round(t["pos_cos"] - t["neg_cos"], 6) >= HARDNEG_MARGIN
            # query, positive, and negative are three DISTINCT vectors
            # (a chained != would skip the neg != query comparison)
            assert len({t["neg_id"], t["pos_id"], q}) == 3


def test_nb_classifier_matches_python_recompute(spark, sf_dir):
    """The distilled NB (teacher label, log-odds, verdict) equals an
    independent pure-Python recompute: same tokenization, sha-bucket,
    Laplace smoothing, 6-decimal half-up rounding, exact integer
    micro-unit accumulation."""
    import hashlib
    import math
    from decimal import ROUND_HALF_UP, Decimal

    from clickhouse_batcher_spark.operators.classifier import (
        NBQ_BUCKETS,
        _NBQ_SALT,
        quality_classifier_nb,
    )
    from clickhouse_batcher_spark.operators.corpus import (
        GOPHER_MAX_MEAN_LEN,
        GOPHER_MAX_TOKENS,
        GOPHER_MIN_MEAN_LEN,
        GOPHER_MIN_STOPWORDS,
        GOPHER_MIN_TOKENS,
        GOPHER_MIN_TTR,
        GOPHER_STOPWORDS,
    )
    from clickhouse_batcher_spark.tables import load_table

    def micro6(x: float) -> int:
        q = Decimal(repr(x)).quantize(
            Decimal("0.000001"), rounding=ROUND_HALF_UP
        )
        return int(q * 1_000_000)

    def bucket(tok: str) -> int:
        h = hashlib.sha256((_NBQ_SALT + tok).encode()).hexdigest()[:4]
        return int(h, 16) % NBQ_BUCKETS

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    ).collect()
    labels, doc_buckets = {}, {}
    for d in docs:
        ts = [t for t in d["text"].lower().split() if t]
        n = len(ts)
        mean_len = sum(len(t) for t in ts) / n
        n_stop = len({t for t in ts if t in GOPHER_STOPWORDS})
        ttr = len(set(ts)) / n
        labels[d["doc_id"]] = (
            GOPHER_MIN_TOKENS <= n <= GOPHER_MAX_TOKENS
            and GOPHER_MIN_MEAN_LEN <= mean_len <= GOPHER_MAX_MEAN_LEN
            and n_stop >= GOPHER_MIN_STOPWORDS
            and ttr >= GOPHER_MIN_TTR
        )
        doc_buckets[d["doc_id"]] = [bucket(t) for t in ts]

    c1 = [0] * NBQ_BUCKETS
    c0 = [0] * NBQ_BUCKETS
    for did, bks in doc_buckets.items():
        tgt = c1 if labels[did] else c0
        for b in bks:
            tgt[b] += 1
    t1, t0 = sum(c1), sum(c0)
    n1 = sum(1 for v in labels.values() if v)
    n0 = len(labels) - n1
    lr = [
        micro6(
            math.log(
                ((c1[b] + 1) / (t1 + NBQ_BUCKETS))
                / ((c0[b] + 1) / (t0 + NBQ_BUCKETS))
            )
        )
        for b in range(NBQ_BUCKETS)
    ]
    prior = micro6(math.log((n1 + 1) / (n0 + 1)))

    rows = quality_classifier_nb(spark, sf_dir).collect()
    assert len(rows) == len(docs)
    for r in rows:
        did = r["doc_id"]
        want = prior + sum(lr[b] for b in doc_buckets[did])
        assert r["teacher_keep"] == labels[did], did
        assert r["n_tokens"] == len(doc_buckets[did]), did
        # libm-vs-JVM ln can shift a 6th decimal on an exact rounding
        # boundary; allow that per-bucket slack, nothing more
        assert abs(r["nb_logodds"] - want / 1e6) <= 1e-5, did
        if abs(want) > 10:
            assert r["nb_keep"] == (want > 0), did


def test_nb_classifier_separates_planted_corpus(spark):
    """On a corpus where pass/fail docs use disjoint vocabularies the
    learned verdict reproduces the teacher exactly (the classifier
    actually learns the lexical signal, not just the prior)."""
    from clickhouse_batcher_spark.operators.classifier import (
        nb_quality_scores,
    )

    good_vocab = [f"wrd{i}" for i in range(28)]  # length-4 tokens
    good = " ".join(["the", "of"] + good_vocab)  # 30 toks, mean 3.9
    bads = ["zzzz qqqq zzzz", "vvvv kkkk vvvv", "zzzz kkkk qqqq"]
    rows = [(i, good + f" extra{i:02d}") for i in range(4)] + [
        (10 + j, b) for j, b in enumerate(bads)
    ]
    docs = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    out = {r["doc_id"]: r for r in nb_quality_scores(docs).collect()}
    assert len(out) == 7
    for i in range(4):
        assert out[i]["teacher_keep"] and out[i]["nb_keep"]
        assert out[i]["nb_logodds"] > 0
    for j in range(3):
        assert not out[10 + j]["teacher_keep"]
        assert not out[10 + j]["nb_keep"]
        assert out[10 + j]["nb_logodds"] < 0


def test_tfidf_top_terms_planted(spark):
    """Hand-computed TF-IDF top-k on a 3-doc corpus, including the
    term-ascending tie-break and a doc with fewer than k terms."""
    from clickhouse_batcher_spark.operators.classifier import tfidf_terms

    docs = spark.createDataFrame(
        [
            (1, "apple apple banana cherry"),
            (2, "banana cherry cherry date"),
            (3, "apple eggplant eggplant eggplant"),
        ],
        "doc_id BIGINT, text STRING",
    )
    got = {
        (r["doc_id"], r["rank"]): (r["term"], r["tf"], round(r["tfidf"], 6))
        for r in tfidf_terms(docs).collect()
    }
    lo = 0.405465  # round(ln(3/2), 6)
    hi = 1.098612  # round(ln(3), 6)
    want = {
        (1, 1): ("apple", 2, round(2 * lo, 6)),
        (1, 2): ("banana", 1, lo),   # tie with cherry -> term asc
        (1, 3): ("cherry", 1, lo),
        (2, 1): ("date", 1, hi),
        (2, 2): ("cherry", 2, round(2 * lo, 6)),
        (2, 3): ("banana", 1, lo),
        (3, 1): ("eggplant", 3, round(3 * hi, 6)),
        (3, 2): ("apple", 1, lo),
    }
    assert got == want


def test_kn_bigram_logprob_matches_python(spark, sf_dir):
    """Interpolated Kneser-Ney bigram scores equal a full sequential
    Python recompute (same counts, same D=0.75 formula, same
    6-decimal micro-unit accumulation)."""
    import math
    from collections import Counter, defaultdict
    from decimal import ROUND_HALF_UP, Decimal

    from clickhouse_batcher_spark.operators.corpus import (
        KN_DISCOUNT,
        docs_kn_bigram_logprob,
    )
    from clickhouse_batcher_spark.tables import load_table

    def micro6(x):
        return int(
            Decimal(repr(x)).quantize(
                Decimal("0.000001"), rounding=ROUND_HALF_UP
            )
            * 1_000_000
        )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    ).collect()
    pairs = {}
    big = Counter()
    for d in docs:
        ts = [t for t in d["text"].lower().split() if t]
        ps = list(zip(ts, ts[1:]))
        if ps:
            pairs[d["doc_id"]] = ps
            big.update(ps)
    c1 = Counter()
    nfol = Counter()
    nprec = Counter()
    for (w1, w2), c in big.items():
        c1[w1] += c
        nfol[w1] += 1
        nprec[w2] += 1
    n_types = len(big)
    d75 = KN_DISCOUNT
    lp = {}
    for (w1, w2), c in big.items():
        p = max(c - d75, 0.0) / c1[w1] + (d75 * nfol[w1] / c1[w1]) * (
            nprec[w2] / n_types
        )
        lp[(w1, w2)] = micro6(math.log(p))
    rows = docs_kn_bigram_logprob(spark, sf_dir).collect()
    assert len(rows) == len(pairs)
    for r in rows:
        ps = pairs[r["doc_id"]]
        want = sum(lp[p] for p in ps)
        assert r["n_bigrams"] == len(ps)
        got_sum = r["avg_kn_logprob"] * len(ps)
        assert abs(got_sum - want / 1e6) <= 1e-5 * max(1, len(ps)), r[
            "doc_id"
        ]


def test_curation_funnel_consistent_with_components(spark, sf_dir):
    """The funnel's per-source counts must agree with the standalone
    operators it composes: Gopher keeps, exact-dup uniques, totals."""
    from clickhouse_batcher_spark.operators.classifier import (
        corpus_curation_funnel,
    )
    from clickhouse_batcher_spark.operators.corpus import (
        quality_filter_gopher,
    )
    from clickhouse_batcher_spark.tables import load_table

    funnel = corpus_curation_funnel(spark, sf_dir).collect()
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()
    assert sum(r["n_docs"] for r in funnel) == n_docs
    gopher_keeps = (
        quality_filter_gopher(spark, sf_dir).filter("keep").count()
    )
    assert sum(r["n_pass_gopher"] for r in funnel) == gopher_keeps
    n_unique_texts = docs.select("text").distinct().count()
    assert sum(r["n_exact_unique"] for r in funnel) == n_unique_texts
    for r in funnel:
        assert r["n_keep"] <= min(r["n_pass_gopher"], r["n_exact_unique"])
        assert r["n_tokens_kept"] <= r["n_tokens"]
        assert abs(r["keep_rate"] - r["n_keep"] / r["n_docs"]) < 1e-12


def test_dsir_resample_matches_python_recompute(spark, sf_dir):
    """The DSIR resample's kept SET equals a Python recompute of the
    acceptance rule (exp(lw - max) rounded half-up to 6, sha-bucket
    Bernoulli), and the best-matched doc is always kept (p = 1)."""
    import hashlib
    import math
    from decimal import ROUND_HALF_UP, Decimal

    from clickhouse_batcher_spark.operators.corpus import (
        _DSIR_RS_SALT,
        _DSIR_RS_SPACE,
        dsir_importance_weights,
        dsir_resample_docs,
    )

    weights = {
        r["doc_id"]: r["dsir_logweight"]
        for r in dsir_importance_weights(spark, sf_dir).collect()
    }
    mx = max(weights.values())
    best = max(weights, key=lambda d: weights[d])

    def hb(doc_id):
        h = hashlib.sha256(
            (_DSIR_RS_SALT + str(doc_id)).encode()
        ).hexdigest()[:8]
        return int(h, 16) % _DSIR_RS_SPACE

    def p6_micro(lw):
        q = Decimal(repr(math.exp(lw - mx))).quantize(
            Decimal("0.000001"), rounding=ROUND_HALF_UP
        )
        return int(q * _DSIR_RS_SPACE)

    want = {d for d, lw in weights.items() if hb(d) < p6_micro(lw)}
    got = {
        r["doc_id"]: r["accept_prob"]
        for r in dsir_resample_docs(spark, sf_dir).collect()
    }
    assert set(got) == want
    assert best in got and got[best] == 1.0
    assert all(0 < p <= 1.0 for p in got.values())
    # thinning actually thins (docs far from the target drop out)
    assert 0 < len(got) < len(weights)


def test_token_zipf_fit_matches_numpy_lstsq(spark, sf_dir):
    """Independent formulation: rebuild each language's rank/frequency
    points in pure Python (collections.Counter) and fit with
    numpy.polyfit — the operator's closed-form moments must agree to
    float tolerance, and the synthetic corpus must actually look
    Zipf-ish (negative slope)."""
    import math
    from collections import Counter

    import numpy as np

    from clickhouse_batcher_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("lang", "text").collect()
    by_lang: dict[str, Counter] = {}
    for r in docs:
        toks = [t for t in r["text"].lower().split() if t]
        by_lang.setdefault(r["lang"], Counter()).update(toks)
    got = {
        r["lang"]: r
        for r in catalog.QUERIES["token_zipf_fit"](spark, sf_dir).collect()
    }
    assert set(got) == set(by_lang)
    for lang, cnts in by_lang.items():
        ranked = sorted(cnts.items(), key=lambda kv: (-kv[1], kv[0]))
        x = np.array(
            [round(math.log(i + 1), 6) for i in range(len(ranked))]
        )
        y = np.array([round(math.log(c), 6) for _, c in ranked])
        slope, intercept = np.polyfit(x, y, 1)
        r = got[lang]
        assert r["n_vocab"] == len(ranked)
        assert r["total_tokens"] == sum(cnts.values())
        assert abs(r["zipf_slope"] - slope) < 1e-4
        assert abs(r["zipf_intercept"] - intercept) < 1e-4
        assert r["zipf_slope"] < 0  # frequency falls with rank
        assert 0.0 <= r["r2"] <= 1.0


def test_embedding_label_cohesion_matches_numpy(spark, sf_dir):
    """Independent formulation: NumPy centroid (true mean) cosine —
    scale-invariance means the operator's sum-vector trick must agree;
    and every cosine stat is a valid cosine."""
    import numpy as np

    from clickhouse_batcher_spark.tables import load_table

    rows = load_table(spark, sf_dir, "embeddings").collect()
    by_label: dict[int, list] = {}
    for r in rows:
        by_label.setdefault(r["label"], []).append(
            np.round(np.array(r["embedding"], dtype=np.float64), 6)
        )
    got = {
        r["label"]: r
        for r in catalog.QUERIES["embedding_label_cohesion"](
            spark, sf_dir
        ).collect()
    }
    assert set(got) == set(by_label)
    for label, vecs in by_label.items():
        m = np.stack(vecs)
        centroid = m.mean(axis=0)
        cos = (m @ centroid) / (
            np.linalg.norm(m, axis=1) * np.linalg.norm(centroid)
        )
        r = got[label]
        assert r["n_vectors"] == len(vecs)
        assert abs(r["avg_cos_to_centroid"] - cos.mean()) < 1e-4
        assert abs(r["min_cos_to_centroid"] - cos.min()) < 1e-4
        assert -1.0 <= r["min_cos_to_centroid"] <= r["avg_cos_to_centroid"] <= 1.0


def test_classifier_calibration_bins_consistency(spark, sf_dir):
    """Bins partition the corpus; per-bin means stay inside their bin;
    totals agree with the underlying classifier output."""
    from clickhouse_batcher_spark.tables import load_table

    bins = catalog.QUERIES["classifier_calibration_bins"](
        spark, sf_dir
    ).collect()
    scored = catalog.QUERIES["quality_classifier_nb"](spark, sf_dir).collect()
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert sum(r["n_docs"] for r in bins) == n_docs == len(scored)
    assert sum(r["n_teacher_keep"] for r in bins) == sum(
        1 for r in scored if r["teacher_keep"]
    )
    for r in bins:
        assert 0 <= r["bin"] <= 9
        lo, hi = r["bin"] / 10.0, (r["bin"] + 1) / 10.0 if r["bin"] < 9 else 1.0
        # rounding to 6 can put a boundary value a hair outside
        assert lo - 1e-6 <= r["mean_pred_p"] <= hi + 1e-6
        assert 0.0 <= r["teacher_keep_rate"] <= 1.0


def test_dedup_threshold_sweep_monotonic(spark, sf_dir):
    """Raising the cutoff can only shrink the pair set and the touched
    docs; the 0.5 row equals the full verified pair frame."""
    rows = {
        r["threshold"]: r
        for r in catalog.QUERIES["dedup_threshold_sweep"](
            spark, sf_dir
        ).collect()
    }
    pairs = catalog.QUERIES["dedup_minhash_lsh"](spark, sf_dir)
    assert rows[0.5]["n_pairs"] == pairs.count()
    ts = sorted(rows)
    for lo, hi in zip(ts, ts[1:]):
        assert rows[lo]["n_pairs"] >= rows[hi]["n_pairs"]
        assert rows[lo]["n_docs"] >= rows[hi]["n_docs"]
    for r in rows.values():
        # every pair touches 2 docs; distinct docs <= 2 * pairs
        assert r["n_docs"] <= 2 * r["n_pairs"]


def test_join_key_skew_report_matches_recompute(spark, sf_dir):
    """Each side's stats must agree with a pure-Python recount, and
    the skew ratio is >= 1 by construction."""
    from collections import Counter

    from clickhouse_batcher_spark.tables import load_table

    spec = {
        "lineitem.l_orderkey": ("lineitem", "l_orderkey"),
        "orders.o_custkey": ("orders", "o_custkey"),
        "events.user_id": ("events", "user_id"),
    }
    got = {
        r["side"]: r
        for r in catalog.QUERIES["join_key_skew_report"](
            spark, sf_dir
        ).collect()
    }
    assert set(got) == set(spec)
    for side, (table, key) in spec.items():
        cnt = Counter(
            r[key] for r in load_table(spark, sf_dir, table).select(key).collect()
        )
        r = got[side]
        assert r["n_rows"] == sum(cnt.values())
        assert r["n_keys"] == len(cnt)
        mx = max(cnt.values())
        assert r["max_key_rows"] == mx
        assert r["top_key"] == min(k for k, c in cnt.items() if c == mx)
        assert r["skew_ratio"] >= 1.0


def test_quality_budget_curve_monotonic_and_consistent(spark, sf_dir):
    """Raising the quality bar can only shrink docs/tokens; shares are
    valid fractions; the curve agrees with the scored frame."""
    curve = {
        r["threshold"]: r
        for r in catalog.QUERIES["quality_budget_curve"](
            spark, sf_dir
        ).collect()
    }
    scored = catalog.QUERIES["quality_classifier_nb"](spark, sf_dir).collect()
    import math

    total = sum(r["n_tokens"] for r in scored)
    ts = sorted(curve)
    for lo, hi in zip(ts, ts[1:]):
        assert curve[lo]["n_docs"] >= curve[hi]["n_docs"]
        assert curve[lo]["tokens_kept"] >= curve[hi]["tokens_kept"]
    for t, r in curve.items():
        keep = [
            s
            for s in scored
            if round(1.0 / (1.0 + math.exp(-s["nb_logodds"])), 6) >= t
        ]
        assert r["n_docs"] == len(keep)
        assert r["tokens_kept"] == sum(s["n_tokens"] for s in keep)
        assert abs(r["token_share"] - r["tokens_kept"] / total) < 1e-6


def test_source_distinctive_terms_matches_recompute(spark, sf_dir):
    """Pure-Python recompute of the smoothed log-odds keyness: the
    per-source top-k and their scores must agree exactly."""
    import math
    from collections import Counter

    from clickhouse_batcher_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("source", "text").collect()
    by_src: dict[str, Counter] = {}
    for r in docs:
        by_src.setdefault(r["source"], Counter()).update(
            t for t in r["text"].lower().split() if t
        )
    glob = Counter()
    for c in by_src.values():
        glob.update(c)
    T, V = sum(glob.values()), len(glob)
    got: dict[str, list] = {}
    for r in catalog.QUERIES["source_distinctive_terms"](spark, sf_dir).collect():
        got.setdefault(r["source"], []).append(r)
    assert set(got) == set(by_src)
    for source, cnts in by_src.items():
        ts = sum(cnts.values())
        scored = sorted(
            (
                (
                    round(
                        math.log(
                            ((c + 1) / (ts + V))
                            / ((glob[tok] - c + 1) / (T - ts + V))
                        ),
                        6,
                    ),
                    tok,
                    c,
                )
                for tok, c in cnts.items()
            ),
            key=lambda x: (-x[0], x[1]),
        )[:5]
        rows = sorted(got[source], key=lambda r: r["rnk"])
        assert [(r["token"], r["n_in_source"]) for r in rows] == [
            (tok, c) for _, tok, c in scored
        ]
        for r, (k, _, _) in zip(rows, scored):
            assert abs(r["keyness"] - k) < 1e-9


def test_connected_components_reliable_checkpoint(spark, tmp_path):
    """When the session has a reliable checkpoint dir configured
    (setCheckpointDir — SCALE.md's cluster-run prescription), the CC
    loop's lineage cuts go through .checkpoint() instead of
    localCheckpoint(): same labels, and the checkpoint dir actually
    receives RDD data (proving the reliable path ran)."""
    import os

    from clickhouse_batcher_spark.operators.cluster import (
        connected_components,
    )

    edges = spark.createDataFrame(
        # a 7-chain (forces multiple actions + a mid-loop cut) plus a
        # separate triangle
        [(i, i + 1) for i in range(7)] + [(100, 101), (101, 102), (100, 102)],
        "doc_a LONG, doc_b LONG",
    )
    baseline = {
        r["vertex"]: r["component"]
        for r in connected_components(edges).collect()
    }
    ckpt = str(tmp_path / "reliable_ckpt")
    sc = spark.sparkContext
    sc.setCheckpointDir(ckpt)
    try:
        reliable = {
            r["vertex"]: r["component"]
            for r in connected_components(edges).collect()
        }
        assert reliable == baseline
        assert baseline[6] == 0 and baseline[102] == 100
        # the reliable dir holds at least one materialized RDD
        found = []
        for root, _dirs, files in os.walk(ckpt):
            found += [os.path.join(root, f) for f in files]
        assert found, "checkpoint dir received no RDD data"
    finally:
        # unset so the shared test session reverts to localCheckpoint
        scala_none = getattr(
            getattr(sc._jvm.scala, "None$"), "MODULE$"
        )
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(scala_none)


def test_dedup_span_rewrite_brute_force(spark, tmp_path):
    """dedup_span_rewrite vs an independent brute-force recompute on a
    hand fixture: doc 1 and 2 share one 5-token span (removed from
    BOTH, partially covering each), doc 3 and its exact copy doc 4 are
    fully covered (empty cleaned text), doc 5 is shorter than the span
    length (no shingles, untouched)."""
    import hashlib

    from clickhouse_batcher_spark.operators.dedup import (
        SPAN_REWRITE_K,
        dedup_span_rewrite,
    )

    d1 = "the quick brown fox jumps over a lazy dog today"
    d2 = "once more the quick brown fox jumps elsewhere entirely now"
    d3 = "completely unrelated text with nothing shared at all here"
    d4 = d3
    d5 = "tiny doc"
    rows = [(1, d1), (2, d2), (3, d3), (4, d4), (5, d5)]
    out_dir = str(tmp_path / "span_docs")
    spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in rows],
        "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG",
    ).write.parquet(f"{out_dir}/documents.parquet")

    # independent recompute (plain Python, set-based)
    k = SPAN_REWRITE_K
    toks = {i: t.lower().split() for i, t in rows}
    by_span = {}
    for i, ts in toks.items():
        for p in range(len(ts) - k + 1):
            by_span.setdefault(tuple(ts[p : p + k]), set()).add(i)
    want = {}
    for i, ts in toks.items():
        cov = set()
        for p in range(len(ts) - k + 1):
            if len(by_span[tuple(ts[p : p + k])]) >= 2:
                cov.update(range(p, p + k))
        clean = " ".join(t for j, t in enumerate(ts) if j not in cov)
        want[i] = (
            len(ts),
            len(cov),
            hashlib.sha256(clean.encode()).hexdigest(),
        )

    got = {
        r["doc_id"]: (r["n_tokens"], r["n_removed"], r["cleaned_sha256"])
        for r in dedup_span_rewrite(spark, out_dir).collect()
    }
    assert got == want
    # semantic spot checks beyond the recompute
    assert got[4][1] == got[4][0]  # exact copy: fully covered
    assert got[4][2] == hashlib.sha256(b"").hexdigest()
    assert got[3][1] == got[3][0]  # the copied doc is fully covered too
    assert got[5][1] == 0  # too short for any shingle
    assert 0 < got[1][1] < got[1][0]  # partial removal on doc 1
    assert 0 < got[2][1] < got[2][0]  # and on doc 2


def test_span_savings_consistent_with_rewrite(spark, sf_dir):
    """span_dedup_savings_by_source must be exactly the per-source
    rollup of dedup_span_rewrite's per-doc outputs (two plans, one
    truth)."""
    from clickhouse_batcher_spark.operators.dedup import (
        dedup_span_rewrite,
        span_dedup_savings_by_source,
    )
    from clickhouse_batcher_spark.tables import load_table

    per_doc = dedup_span_rewrite(spark, sf_dir)
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    want = {}
    for r in per_doc.join(src, "doc_id").collect():
        a = want.setdefault(r["source"], [0, 0, 0, 0])
        a[0] += 1
        a[1] += r["n_tokens"]
        a[2] += r["n_removed"]
        a[3] += int(r["n_removed"] == r["n_tokens"] and r["n_tokens"] > 0)
    got = {
        r["source"]: (
            r["n_docs"], r["n_tokens"], r["n_removed"], r["n_emptied"],
            r["removed_ppm"],
        )
        for r in span_dedup_savings_by_source(spark, sf_dir).collect()
    }
    assert set(got) == set(want)
    for s, (nd, nt, nr, ne) in want.items():
        assert got[s] == (nd, nt, nr, ne, nr * 1_000_000 // nt)


def test_survival_km_is_a_proper_survival_function(spark, sf_dir):
    """KM invariants the hash oracle cannot express as intent: S is a
    non-increasing function in (0, 1], the risk set shrinks over time,
    the first risk set is every user, and each step multiplies exactly
    by (1 - d/n) within the log-rounding tolerance."""
    rows = (
        catalog.QUERIES["user_survival_km"](spark, sf_dir)
        .orderBy("duration_h")
        .collect()
    )
    from clickhouse_batcher_spark.tables import load_table as _lt

    assert rows
    n_users = _lt(spark, sf_dir, "events").select("user_id").distinct().count()
    assert rows[0]["n_risk"] <= n_users
    prev_s, prev_risk = 1.0, n_users + 1
    for r in rows:
        assert 0.0 <= r["survival"] <= prev_s + 1e-9
        assert 0 < r["n_churned"] <= r["n_risk"] < prev_risk + 1
        step = 1.0 - r["n_churned"] / r["n_risk"]
        assert r["survival"] == pytest.approx(prev_s * step, abs=2e-4)
        prev_s, prev_risk = r["survival"], r["n_risk"]


def test_theil_sen_matches_python_median_of_slopes(spark, sf_dir):
    """Independent recompute: collect the daily series, enumerate all
    pairwise slopes in Python, and select the same lower median."""
    from clickhouse_batcher_spark.tables import load_table as _lt

    daily = (
        _lt(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.date_trunc("day", F.col("ts").cast("timestamp"))
            .cast("date")
            .alias("d"),
        )
        .count()
        .collect()
    )
    series: dict[str, list] = {}
    for r in daily:
        series.setdefault(r["event_type"], []).append((r["d"], r["count"]))
    got = {
        r["event_type"]: (r["n_days"], r["n_pairs"], r["ts_slope"])
        for r in catalog.QUERIES["events_theil_sen_trend"](
            spark, sf_dir
        ).collect()
    }
    for et, pts in series.items():
        pts.sort()
        slopes = [
            ((c2 - c1) / (d2 - d1).days, d1, d2)
            for i, (d1, c1) in enumerate(pts)
            for d2, c2 in pts[i + 1 :]
        ]
        slopes.sort()
        n = len(slopes)
        want = slopes[(n + 1) // 2 - 1][0]
        assert got[et] == (len(pts), n, pytest.approx(want, abs=0)), et


def test_simhash_bucket_cap_trips_on_pathological_corpus(spark):
    """A low-entropy corpus (every doc identical) must trip the
    SIMHASH_BUCKET_CAP overflow counter and SKIP the overfull buckets
    instead of exploding the pair frame (the r8 scale run measured
    exponent 1.35 from exactly this shape); a sub-cap corpus of the
    same text keeps its full pair set with zero overflow."""
    from clickhouse_batcher_spark.operators import dedup as D

    text = "the quick brown fox jumps over the lazy dog again and again"
    big = spark.createDataFrame(
        [(i, text, "en", "src") for i in range(D.SIMHASH_BUCKET_CAP + 88)],
        "doc_id BIGINT, text STRING, lang STRING, source STRING",
    )
    pairs = D._simhash_pairs(big)
    n_over = pairs.count()
    assert D.LAST_SIMHASH_BUCKET_OVERFLOW >= D.SIMHASH_CHUNKS
    assert n_over == 0  # every bucket overfull -> all skipped

    small = spark.createDataFrame(
        [(i, text, "en", "src") for i in range(50)],
        "doc_id BIGINT, text STRING, lang STRING, source STRING",
    )
    pairs_small = D._simhash_pairs(small)
    n_small = pairs_small.count()
    assert D.LAST_SIMHASH_BUCKET_OVERFLOW == 0
    assert n_small >= 50 * 49 // 2  # identical docs all pair at hamming 0


def test_length_sorted_packing_gain_recompute(spark, sf_dir):
    """Exact Python recompute of both strategies' padding waste, plus
    the theory invariant: contiguous batching of the LENGTH-SORTED
    order minimizes the sum of per-batch maxima over equal-size
    groups, so its waste can never exceed arrival-order waste."""
    from clickhouse_batcher_spark.operators.curriculum import (
        PACK_BATCH_SIZE,
    )
    from clickhouse_batcher_spark.functions import tokens as _tokens
    from clickhouse_batcher_spark.tables import load_table as _lt

    docs = _lt(spark, sf_dir, "documents")
    lens = [
        (r.doc_id, r.n)
        for r in docs.select(
            "doc_id", F.size(_tokens("text")).alias("n")
        ).collect()
    ]

    def waste(order):
        total_tok = padded = 0
        for i in range(0, len(order), PACK_BATCH_SIZE):
            batch = order[i : i + PACK_BATCH_SIZE]
            mx = max(n for _, n in batch)
            padded += mx * len(batch)
            total_tok += sum(n for _, n in batch)
        return padded, padded - total_tok

    by_arrival = sorted(lens)
    by_len = sorted(lens, key=lambda t: (t[1], t[0]))
    got = {
        r.strategy: r
        for r in catalog.QUERIES["length_sorted_packing_gain"](
            spark, sf_dir
        ).collect()
    }
    for name, order in (("arrival", by_arrival), ("length_sorted", by_len)):
        padded, w = waste(order)
        assert got[name].padded_slots == padded, name
        assert got[name].padding_waste == w, name
        assert got[name].waste_ppm == w * 1_000_000 // padded, name
    assert (
        got["length_sorted"].padding_waste <= got["arrival"].padding_waste
    )


def test_docs_code_switch_entropy_recompute(spark, sf_dir):
    """Sequential entropy recompute over the same marker sets; entropy
    bounds: 0 <= H <= ln(5); single-language docs get H == 0."""
    import math
    import re

    from clickhouse_batcher_spark.operators.text import (
        LANG_MARKERS,
        LANG_ORDER,
    )
    from clickhouse_batcher_spark.tables import load_table as _lt

    rows = {
        r.doc_id: r
        for r in catalog.QUERIES["docs_code_switch_report"](
            spark, sf_dir
        ).collect()
    }
    docs = _lt(spark, sf_dir, "documents").collect()
    ws = re.compile(r"[ \t\n\x0b\f\r]+")
    for d in docs:
        toks = [t for t in ws.split(d.text.lower()) if t]
        hits = [
            sum(1 for t in toks if t in LANG_MARKERS[lang])
            for lang in LANG_ORDER
        ]
        total = sum(hits)
        present = sum(1 for h in hits if h > 0)
        ent = (
            0.0
            if total == 0
            else round(
                sum(
                    -(h / total) * math.log(h / total)
                    for h in hits
                    if h > 0
                ),
                6,
            )
        )
        r = rows[d.doc_id]
        assert r.total_hits == total, d.doc_id
        assert r.n_langs_present == present, d.doc_id
        assert r.mix_entropy == pytest.approx(ent, abs=1e-9), d.doc_id
        assert r.is_mixed == (1 if present >= 2 else 0), d.doc_id
        assert 0.0 <= r.mix_entropy <= math.log(5) + 1e-9


def test_shingle_novelty_curve_recompute(spark, sf_dir):
    """Sequential set-based recompute: walk docs in doc_id order,
    count never-seen-before distinct 3-gram shingles, check counts and
    exact running totals."""
    import re

    from clickhouse_batcher_spark.operators.dedup import SHINGLE_K
    from clickhouse_batcher_spark.tables import load_table as _lt

    got = sorted(
        catalog.QUERIES["shingle_novelty_curve"](spark, sf_dir).collect(),
        key=lambda r: r.doc_id,
    )
    docs = sorted(
        _lt(spark, sf_dir, "documents").collect(), key=lambda r: r.doc_id
    )
    ws = re.compile(r"[ \t\n\x0b\f\r]+")
    seen: set = set()
    cum_new = cum_sh = 0
    it = iter(got)
    for d in docs:
        toks = [t for t in ws.split(d.text.lower()) if t]
        if len(toks) < SHINGLE_K:
            continue
        sh = {
            " ".join(toks[i : i + SHINGLE_K])
            for i in range(len(toks) - SHINGLE_K + 1)
        }
        new = {s for s in sh if s not in seen}
        seen |= sh
        cum_new += len(new)
        cum_sh += len(sh)
        r = next(it)
        assert r.doc_id == d.doc_id
        assert r.n_shingles == len(sh), d.doc_id
        assert r.n_new == len(new), d.doc_id
        assert r.cum_new == cum_new and r.cum_shingles == cum_sh, d.doc_id
        assert r.novelty_ppm == cum_new * 1_000_000 // cum_sh, d.doc_id


def test_token_budget_waterfill_invariants(spark, sf_dir):
    """Exact water-filling invariants + a full Python recompute of the
    integer allocation."""
    from clickhouse_batcher_spark.functions import tokens as _tokens
    from clickhouse_batcher_spark.operators.curriculum import (
        WATERFILL_BUDGET_DEN,
        WATERFILL_BUDGET_NUM,
    )
    from clickhouse_batcher_spark.tables import load_table as _lt

    docs = _lt(spark, sf_dir, "documents")
    per_src = {
        r.source: r.n
        for r in docs.select(
            "source", F.size(_tokens("text")).alias("nt")
        )
        .groupBy("source")
        .agg(F.sum("nt").alias("n"))
        .collect()
    }
    total = sum(per_src.values())
    budget = total * WATERFILL_BUDGET_NUM // WATERFILL_BUDGET_DEN
    # sequential recompute
    items = sorted(per_src.items(), key=lambda kv: (kv[1], kv[0]))
    n = len(items)
    k, p = 0, 0
    for r, (_, c) in enumerate(items, start=1):
        if c * (n - r) <= budget - (p + c):
            k, p = r, p + c
        else:
            break
    base = (budget - p) // (n - k) if k < n else 0
    rem = (budget - p) % (n - k) if k < n else 0
    want = {}
    for r, (src, c) in enumerate(items, start=1):
        if r <= k:
            want[src] = (c, 1)
        else:
            want[src] = (base + (1 if r - k <= rem else 0), 0)

    got = {
        r.source: (r.alloc_tokens, r.fully_taken)
        for r in catalog.QUERIES["token_budget_waterfill"](
            spark, sf_dir
        ).collect()
    }
    assert got == want
    assert sum(a for a, _ in got.values()) == min(budget, total)
    for src, (alloc, _) in got.items():
        assert alloc <= per_src[src], src
    # uncapped sources share the level within one token
    uncapped = [a for (a, f) in got.values() if f == 0]
    if uncapped:
        assert max(uncapped) - min(uncapped) <= 1


def test_quality_psi_recompute(spark, sf_dir):
    """NumPy-free sequential PSI recompute from the scored frame (the
    same binning and Laplace smoothing), plus PSI >= 0 (it is a
    symmetrized KL — nonnegative by Gibbs' inequality)."""
    import math
    from collections import Counter
    from decimal import Decimal

    from clickhouse_batcher_spark.operators.classifier import (
        PSI_BINS,
        nb_scores_cached,
    )
    from clickhouse_batcher_spark.tables import load_table as _lt

    src = {
        r.doc_id: r.source
        for r in _lt(spark, sf_dir, "documents")
        .select("doc_id", "source")
        .collect()
    }
    bins = {}
    for r in nb_scores_cached(spark, sf_dir).collect():
        p6 = round(1.0 / (1.0 + math.exp(-r.nb_logodds)), 6)
        bins[r.doc_id] = min(int(p6 * 10), PSI_BINS - 1)
    sb = Counter((src[d], b) for d, b in bins.items())
    cb = Counter(bins.values())
    ns = Counter(src[d] for d in bins)
    n_total = len(bins)
    want = {}
    for source, n_s in ns.items():
        terms = Decimal(0)
        for b in range(PSI_BINS):
            p = (sb.get((source, b), 0) + 1) / (n_s + PSI_BINS)
            q = (cb.get(b, 0) + 1) / (n_total + PSI_BINS)
            terms += Decimal(str(round((p - q) * math.log(p / q), 6)))
        want[source] = (n_s, float(terms))
    got = {
        r.source: (r.n_docs, r.psi)
        for r in catalog.QUERIES["quality_psi_by_source"](
            spark, sf_dir
        ).collect()
    }
    assert set(got) == set(want)
    for source in want:
        assert got[source][0] == want[source][0], source
        assert got[source][1] == pytest.approx(want[source][1], abs=2e-6)
        assert got[source][1] >= -1e-9, source


def test_decontamination_report_consistent_with_doc_level(spark, sf_dir):
    """The per-source rollup must agree exactly with decontaminate_docs
    plus the raw source map — denominators include uncontaminated
    train docs."""
    from collections import Counter

    from clickhouse_batcher_spark.operators.corpus import (
        CONTAM_BENCH_MOD,
        CONTAM_MIN_SHARED,
    )
    from clickhouse_batcher_spark.tables import load_table as _lt

    src = {
        r.doc_id: r.source
        for r in _lt(spark, sf_dir, "documents")
        .select("doc_id", "source")
        .collect()
    }
    shared = {
        r.doc_id: r.n_shared
        for r in catalog.QUERIES["decontaminate_docs"](
            spark, sf_dir
        ).collect()
    }
    n_train, n_cont, tot = Counter(), Counter(), Counter()
    for d, s in src.items():
        if d % CONTAM_BENCH_MOD == 0:
            continue
        n_train[s] += 1
        ns = shared.get(d, 0)
        tot[s] += ns
        if ns >= CONTAM_MIN_SHARED:
            n_cont[s] += 1
    got = {
        r.source: (
            r.n_train_docs,
            r.n_contaminated,
            r.total_shared_shingles,
            r.contaminated_ppm,
        )
        for r in catalog.QUERIES["decontamination_report"](
            spark, sf_dir
        ).collect()
    }
    assert set(got) == set(n_train)
    for s in n_train:
        assert got[s] == (
            n_train[s],
            n_cont[s],
            tot[s],
            n_cont[s] * 1_000_000 // n_train[s],
        ), s


def test_temperature_mix_curve_properties(spark, sf_dir):
    """Shares sum to ~1 per tau; tau=1 reproduces the natural share;
    lower tau compresses the spread (max share non-increasing as tau
    falls); exact Python recompute of every share."""
    import math
    from collections import Counter

    from clickhouse_batcher_spark.operators.sampling import TMIX_TAUS
    from clickhouse_batcher_spark.tables import load_table as _lt

    counts = Counter(
        r.source
        for r in _lt(spark, sf_dir, "documents").select("source").collect()
    )
    rows = catalog.QUERIES["temperature_mix_curve"](spark, sf_dir).collect()
    by_tau: dict = {}
    for r in rows:
        by_tau.setdefault(r.tau, {})[r.source] = r
    assert set(by_tau) == set(TMIX_TAUS)
    n_tot = sum(counts.values())
    for tau, per_src in by_tau.items():
        wts = {s: math.pow(n, tau) for s, n in counts.items()}
        w_tot = sum(wts.values())
        assert abs(sum(r.mix_share for r in per_src.values()) - 1) < 1e-4
        for s, r in per_src.items():
            assert r.n_docs == counts[s]
            assert r.mix_share == pytest.approx(
                round(wts[s] / w_tot, 6), abs=1e-9
            )
            assert r.natural_share == pytest.approx(
                round(counts[s] / n_tot, 6), abs=1e-9
            )
    one = by_tau[1.0]
    for s, r in one.items():
        assert r.mix_share == pytest.approx(r.natural_share, abs=2e-6)
    maxes = [max(r.mix_share for r in by_tau[t].values()) for t in sorted(TMIX_TAUS)]
    assert maxes == sorted(maxes)  # lower tau => flatter mix


def test_cluster_quality_consistency_recount(spark, sf_dir):
    """Recount from the two composed frames: members per cluster and
    keep verdicts inherited by twins through the modulo map."""
    from collections import Counter, defaultdict

    from clickhouse_batcher_spark.operators.dedup import TWIN_ID_OFFSET

    comps = catalog.QUERIES["dedup_clusters"](spark, sf_dir).collect()
    keeps = {
        r.doc_id: bool(r.nb_keep)
        for r in catalog.QUERIES["quality_classifier_nb"](
            spark, sf_dir
        ).collect()
    }
    n_mem, n_keep = Counter(), Counter()
    for r in comps:
        base = r.doc_id % TWIN_ID_OFFSET
        if base not in keeps:
            continue
        n_mem[r.cluster_id] += 1
        n_keep[r.cluster_id] += int(keeps[base])
    got = {
        r.cluster_id: (r.n_members, r.n_keep, r.mixed_verdict)
        for r in catalog.QUERIES["cluster_quality_consistency"](
            spark, sf_dir
        ).collect()
    }
    assert set(got) == set(n_mem)
    for cid in n_mem:
        mixed = 1 if 0 < n_keep[cid] < n_mem[cid] else 0
        assert got[cid] == (n_mem[cid], n_keep[cid], mixed), cid
    # every cluster comes from a near-dup pair: >= 2 members
    assert all(m >= 2 for m, _, _ in got.values())


def test_media_audio_spectrum_recompute(spark, sf_dir):
    """Sequential NumPy recompute over the same synthetic WAV payloads
    (rows-only operator: FFT is not SQL-expressible, so the recompute
    IS the correctness check)."""
    import numpy as np

    from clickhouse_batcher_spark.operators.multimodal import (
        _build_codecs,
        media_binary_table,
    )

    codecs = _build_codecs()
    payloads = {
        r.doc_id: bytes(r.payload)
        for r in media_binary_table(spark, sf_dir)
        .filter(F.col("media_type") == "audio")
        .collect()
    }
    got = {
        r.doc_id: r
        for r in catalog.QUERIES["media_audio_spectrum"](
            spark, sf_dir
        ).collect()
    }
    assert set(got) == set(payloads) and payloads
    for doc_id, payload in payloads.items():
        rate, _c, _b, samples = codecs["wav_decode"](payload)
        x = np.asarray(samples, dtype=np.float64)
        n = len(x)
        r = got[doc_id]
        assert r.n_samples == n and r.sample_rate == rate
        assert r.rms == pytest.approx(
            round(float(np.sqrt(np.mean(x * x))), 6), abs=0
        )
        zc = int(np.count_nonzero(np.diff(np.signbit(x))))
        assert r.zero_cross_rate == pytest.approx(
            round(zc / (n - 1), 6), abs=0
        )
        mag = np.abs(np.fft.rfft(x))
        dom = 1 + int(np.argmax(mag[1:]))
        assert r.dominant_hz == pytest.approx(
            round(dom * rate / n, 6), abs=0
        )
        w = mag[1:]
        freqs = np.arange(1, len(mag)) * rate / n
        cent = float((freqs * w).sum() / w.sum()) if w.sum() > 0 else 0.0
        assert r.spectral_centroid_hz == pytest.approx(
            round(cent, 6), abs=0
        )


def test_minhash_recall_curve_consistency(spark, sf_dir):
    """Recount from the two detector outputs + S-curve sanity: theory
    ppm is monotone non-decreasing in the decile and detection counts
    never exceed truth counts."""
    from collections import Counter

    from clickhouse_batcher_spark.operators.dedup import (
        MINHASH_BANDS,
        MINHASH_PERMS,
    )

    truth = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in catalog.QUERIES["dedup_ngram_jaccard"](
            spark, sf_dir
        ).collect()
    }
    det = {
        (r.doc_a, r.doc_b)
        for r in catalog.QUERIES["dedup_minhash_lsh"](
            spark, sf_dir
        ).collect()
    }
    n_true, n_det = Counter(), Counter()
    for pair, j in truth.items():
        b = int(j * 10)
        n_true[b] += 1
        n_det[b] += int(pair in det)
    got = sorted(
        catalog.QUERIES["minhash_recall_curve"](spark, sf_dir).collect(),
        key=lambda r: r.jaccard_decile,
    )
    assert {r.jaccard_decile for r in got} == set(n_true)
    r_rows = MINHASH_PERMS // MINHASH_BANDS
    prev_theory = -1
    for r in got:
        b = r.jaccard_decile
        assert (r.n_true_pairs, r.n_detected) == (n_true[b], n_det[b]), b
        assert r.n_detected <= r.n_true_pairs
        assert r.detected_ppm == n_det[b] * 1_000_000 // n_true[b]
        s_mid = b / 10 + 0.05
        theory = int(
            1_000_000 * (1 - (1 - s_mid**r_rows) ** MINHASH_BANDS)
        )
        assert r.scurve_theory_ppm == theory, b
        assert r.scurve_theory_ppm >= prev_theory
        prev_theory = r.scurve_theory_ppm


def test_dedup_inflation_report_recount(spark, sf_dir):
    """Recount from the raw table + CC survivors; pipeline monotonic:
    docs_after_neardup <= docs_after_exact <= n_docs and
    inflation_ppm >= 1_000_000."""
    from collections import Counter, defaultdict

    from clickhouse_batcher_spark.functions import tokens as _tokens
    from clickhouse_batcher_spark.operators.dedup import TWIN_ID_OFFSET
    from clickhouse_batcher_spark.tables import load_table as _lt

    docs = (
        _lt(spark, sf_dir, "documents")
        .select("doc_id", "source", "text", F.size(_tokens("text")).alias("nt"))
        .collect()
    )
    removed = {
        r.doc_id
        for r in catalog.QUERIES["dedup_clusters"](spark, sf_dir).collect()
        if not r.is_survivor and r.doc_id < TWIN_ID_OFFSET
    }
    first_by_text: dict = {}
    for d in sorted(docs, key=lambda d: d.doc_id):
        first_by_text.setdefault(d.text, d.doc_id)
    want = defaultdict(lambda: [0, 0, 0, 0, 0])
    for d in docs:
        w = want[d.source]
        w[0] += 1
        w[1] += d.nt
        exact = first_by_text[d.text] == d.doc_id
        w[2] += int(exact)
        final = exact and d.doc_id not in removed
        w[3] += int(final)
        w[4] += d.nt if final else 0
    got = {
        r.source: r
        for r in catalog.QUERIES["dedup_inflation_report"](
            spark, sf_dir
        ).collect()
    }
    assert set(got) == set(want)
    for src, w in want.items():
        r = got[src]
        assert (
            r.n_docs,
            r.n_tokens,
            r.docs_after_exact,
            r.docs_after_neardup,
            r.tokens_after_neardup,
        ) == tuple(w), src
        assert r.docs_after_neardup <= r.docs_after_exact <= r.n_docs
        assert r.inflation_ppm == w[1] * 1_000_000 // w[4]
        assert r.inflation_ppm >= 1_000_000


def test_pii_rate_by_source_recount(spark, sf_dir):
    """Sequential regex recount over the same patterns."""
    import re
    from collections import Counter

    from clickhouse_batcher_spark.operators.text import _REDACTIONS
    from clickhouse_batcher_spark.tables import load_table as _lt

    pats = [re.compile(p) for p, _ in _REDACTIONS]
    n_docs, hits, with_hits = Counter(), Counter(), Counter()
    for r in _lt(spark, sf_dir, "documents").select("source", "text").collect():
        n_docs[r.source] += 1
        counts = [len(p.findall(r.text.lower())) for p in pats]
        for i, c in enumerate(counts):
            hits[(r.source, i)] += c
        if sum(counts) > 0:
            with_hits[r.source] += 1
    got = {
        r.source: r
        for r in catalog.QUERIES["pii_rate_by_source"](spark, sf_dir).collect()
    }
    assert set(got) == set(n_docs)
    for s in n_docs:
        r = got[s]
        assert r.n_docs == n_docs[s]
        assert (r.n_email_hits, r.n_handle_hits, r.n_num_hits) == (
            hits[(s, 0)],
            hits[(s, 1)],
            hits[(s, 2)],
        ), s
        assert r.docs_with_hits == with_hits[s]
        assert r.hit_ppm == with_hits[s] * 1_000_000 // n_docs[s]


def test_shard_checksum_manifest_order_independent(spark, sf_dir):
    """Recompute the manifest sequentially AND from a reversed doc
    order — the commutative checksum must be identical; counts and
    ranges must match the shard assignment operator."""
    import hashlib
    from collections import defaultdict

    from clickhouse_batcher_spark.tables import load_table as _lt

    docs = _lt(spark, sf_dir, "documents").select(
        "doc_id", "n_chars", "text"
    ).collect()
    shards = {
        r.doc_id: r.shard
        for r in catalog.QUERIES["shard_documents_for_training"](
            spark, sf_dir
        ).collect()
    }
    agg = defaultdict(lambda: [0, 0, 0, None, None])
    for order in (docs, list(reversed(docs))):
        trial = defaultdict(int)
        for d in order:
            h48 = int(
                hashlib.sha256(d.text.encode()).hexdigest()[:12], 16
            )
            trial[shards[d.doc_id]] += h48
        if agg["_trial1"] == [0, 0, 0, None, None]:
            agg["_trial1"] = dict(trial)
        else:
            assert dict(trial) == agg["_trial1"]  # commutative
    expected = defaultdict(lambda: [0, 0, 0, 0, 1 << 62, -1])
    for d in docs:
        s = shards[d.doc_id]
        e = expected[s]
        h12 = hashlib.sha256(d.text.encode()).hexdigest()[:12]
        e[0] += 1
        e[1] += d.n_chars
        e[2] += int(h12[:6], 16)
        e[3] += int(h12[6:], 16)
        e[4] = min(e[4], d.doc_id)
        e[5] = max(e[5], d.doc_id)
    got = {
        r.shard: (
            r.n_docs,
            r.n_chars,
            int(r.checksum_hi),
            int(r.checksum_lo),
            r.min_doc_id,
            r.max_doc_id,
        )
        for r in catalog.QUERIES["shard_checksum_manifest"](
            spark, sf_dir
        ).collect()
    }
    assert set(got) == set(expected)
    for s, e in expected.items():
        assert got[s] == tuple(e), s
        # hi/lo halves reconstruct the full 48-bit commutative sum
        assert got[s][2] * (1 << 24) + got[s][3] == agg["_trial1"][s], s


def test_readability_hand_computed(spark):
    """Known text: exact word/vowel-group/sentence counts and the
    integer-milli Flesch rendering."""
    from unittest.mock import patch

    from clickhouse_batcher_spark.operators import text as T

    # "Hello world. This is a test." -> words 6; vowel groups:
    # H[e]ll[o] w[o]rld Th[i]s [i]s [a] t[e]st -> 7; sentences: 2 runs.
    df = spark.createDataFrame(
        [(1, "Hello world. This is a test.", "en", "s1", 28)],
        "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG",
    )
    with patch.object(T, "load_table", lambda *_: df):
        r = T.docs_readability_report(spark, "ignored").collect()[0]
    assert (r["n_words"], r["n_syllables"], r["n_sentences"]) == (6, 7, 2)
    assert r["n_letters"] == len("HelloworldThisisatest")
    want = 206835 - (1015 * 6) // 2 - (84600 * 7) // 6
    assert r["flesch_milli"] == want
    assert r["word_len_milli"] == (1000 * r["n_letters"]) // 6


def test_quantile_state_merge_matches_sorted_pick(spark, sf_dir):
    """Independent recompute: each reported bin equals the ceil-rank
    pick from the fully sorted floored value list, and the merged
    state equals the direct state (additivity)."""
    import math

    from clickhouse_batcher_spark import catalog
    from clickhouse_batcher_spark.tables import load_table

    got = {
        r["event_type"]: r
        for r in catalog.QUERIES["quantile_state_merge_daily"](
            spark, sf_dir
        ).collect()
    }
    vals = (
        load_table(spark, sf_dir, "events")
        .select("event_type", F.floor("value").cast("bigint").alias("b"))
        .collect()
    )
    series: dict[str, list] = {}
    for r in vals:
        series.setdefault(r["event_type"], []).append(r["b"])
    assert set(series) == set(got)
    for et, bins in series.items():
        bins.sort()
        n = len(bins)
        r = got[et]
        assert r["states_equal"] is True
        assert r["n_events"] == n
        assert r["n_bins"] == len(set(bins))
        for qq in (50, 90, 99):
            rank = (qq * n + 99) // 100  # ceil(q*n/100)
            assert r[f"p{qq}_bin"] == bins[rank - 1], (et, qq)
        assert r["p50_bin"] <= r["p90_bin"] <= r["p99_bin"]


def test_centroid_distances_matches_numpy(spark, sf_dir):
    """Float recompute: pair cosines within 2e-6 of numpy centroid
    cosines; complete strict-upper-triangle pair set."""
    import itertools

    import numpy as np

    from clickhouse_batcher_spark import catalog
    from clickhouse_batcher_spark.tables import load_table

    rows = catalog.QUERIES["embedding_centroid_distances"](
        spark, sf_dir
    ).collect()
    emb = load_table(spark, sf_dir, "embeddings").collect()
    by_label: dict[int, list] = {}
    for r in emb:
        by_label.setdefault(r["label"], []).append(
            np.round(np.array(r["embedding"], dtype=np.float64), 6)
        )
    cents = {k: np.sum(v, axis=0) for k, v in by_label.items()}
    want_pairs = {
        (a, b) for a, b in itertools.combinations(sorted(cents), 2)
    }
    assert {(r["label_a"], r["label_b"]) for r in rows} == want_pairs
    for r in rows:
        ca, cb = cents[r["label_a"]], cents[r["label_b"]]
        want = float(ca @ cb / (np.linalg.norm(ca) * np.linalg.norm(cb)))
        assert abs(r["centroid_cos"] - want) < 2e-6, r
        assert r["n_a"] == len(by_label[r["label_a"]])
        assert r["n_b"] == len(by_label[r["label_b"]])


def test_ab_assignment_srm_recompute(spark, sf_dir):
    """Recompute arms from the same salted hash in python; verify the
    integer chi-square and that a planted 90/10 split rejects."""
    import hashlib

    from clickhouse_batcher_spark import catalog
    from clickhouse_batcher_spark.tables import load_table

    r = catalog.QUERIES["ab_assignment_srm"](spark, sf_dir).collect()[0]
    users = [
        u["user_id"]
        for u in load_table(spark, sf_dir, "events")
        .select("user_id")
        .distinct()
        .collect()
    ]
    arms = [
        int(hashlib.sha256(f"abarm{u}".encode()).hexdigest()[:4], 16) % 2
        for u in users
    ]
    n_a, n_b = arms.count(0), arms.count(1)
    assert (r["n_a"], r["n_b"]) == (n_a, n_b)
    assert r["srm_chi2_milli"] == 1000 * (n_a - n_b) ** 2 // (n_a + n_b)
    assert r["srm_reject_05"] == int(
        1000 * (n_a - n_b) ** 2 > 3841 * (n_a + n_b)
    )
    # a healthy hash split must NOT reject
    assert r["srm_reject_05"] == 0
    # planted mismatch: 90/10 of the same population must reject
    na2, nb2 = int(len(users) * 0.9), len(users) - int(len(users) * 0.9)
    assert 1000 * (na2 - nb2) ** 2 > 3841 * (na2 + nb2)


def test_min_sample_size_closed_form(spark, sf_dir):
    """Recompute the power formula from the reported moments and check
    the planted sanity direction: halving the MDE quadruples n."""
    from clickhouse_batcher_spark import catalog
    from clickhouse_batcher_spark.operators.chagg2 import (
        _MDE_ABS,
        _MDE_REL,
        _Z_ALPHA,
        _Z_POWER,
    )

    rows = {
        r["metric"]: r
        for r in catalog.QUERIES["ab_min_sample_size"](
            spark, sf_dir
        ).collect()
    }
    z2 = (_Z_ALPHA + _Z_POWER) * (_Z_ALPHA + _Z_POWER)
    c = rows["continuous_value"]
    want_c = 2.0 * z2 * c["variance"] / ((_MDE_REL * c["baseline"]) ** 2)
    assert abs(c["n_per_arm_exact"] - want_c) / want_c < 1e-3
    assert c["n_per_arm"] >= c["n_per_arm_exact"]
    assert c["n_per_arm"] - c["n_per_arm_exact"] < 1.0
    v = rows["conversion_rate"]
    assert 0.0 < v["baseline"] < 1.0
    want_v = 2.0 * z2 * v["variance"] / (_MDE_ABS * _MDE_ABS)
    assert abs(v["n_per_arm_exact"] - want_v) / want_v < 1e-3
    # half the MDE -> 4x the required n (the formula's defining shape)
    assert abs(
        (2.0 * z2 * v["variance"] / ((_MDE_ABS / 2) ** 2)) / want_v - 4.0
    ) < 1e-9


def test_abc_classification_invariants(spark, sf_dir):
    """Classes partition the part universe; ppm shares reconstruct the
    80/15/5 design bands (A >= 790000 given granularity; monotone
    class revenue A > B > C per part on average)."""
    from clickhouse_batcher_spark import catalog
    from clickhouse_batcher_spark.tables import load_table

    rows = {
        r["abc_class"]: r
        for r in catalog.QUERIES["parts_abc_classification"](
            spark, sf_dir
        ).collect()
    }
    assert set(rows) == {"A", "B", "C"}
    n_parts = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey")
        .distinct()
        .count()
    )
    assert sum(r["n_parts"] for r in rows.values()) == n_parts
    ppm = {k: r["revenue_ppm"] for k, r in rows.items()}
    # boundary parts make A slightly exceed 80% and A+B exceed 95%
    assert ppm["A"] >= 790_000
    assert ppm["A"] + ppm["B"] >= 945_000
    assert abs(sum(ppm.values()) - 1_000_000) <= 3  # truncation only
    # Pareto shape: average revenue per part strictly decreases A->B->C
    avg = {
        k: int(r["revenue_c100"]) / r["n_parts"] for k, r in rows.items()
    }
    assert avg["A"] > avg["B"] > avg["C"]


def test_benford_rows_and_mass(spark, sf_dir):
    """All nine digits, observed ppm sums to ~1e6, counts sum to the
    order count, and the expected column is the pinned constant."""
    from clickhouse_batcher_spark import catalog
    from clickhouse_batcher_spark.operators.profile import _BENFORD_PPM
    from clickhouse_batcher_spark.tables import load_table

    rows = {
        r["digit"]: r
        for r in catalog.QUERIES["orders_benford_deviation"](
            spark, sf_dir
        ).collect()
    }
    assert set(rows) == set(range(1, 10))
    n = load_table(spark, sf_dir, "orders").count()
    assert sum(r["n_orders"] for r in rows.values()) == n
    assert 1_000_000 - 9 <= sum(r["obs_ppm"] for r in rows.values()) <= 1_000_000
    for d, r in rows.items():
        assert r["exp_ppm"] == _BENFORD_PPM[d]
        assert r["abs_dev_ppm"] == abs(r["obs_ppm"] - r["exp_ppm"])


def test_order_islands_hand_case(spark):
    """Hand-built: days {0,1,2, 5, 9,10} -> 3 islands, longest 3,
    max gap 4, 6 order days (duplicate same-day orders collapse)."""
    from unittest.mock import patch

    from clickhouse_batcher_spark.operators import chagg as C

    base = "2024-01-0"
    rows = []
    for i, day in enumerate([1, 2, 3, 6, 1, 3]):  # last two: dup days
        rows.append((i, 7, "F", 1.0, f"2024-01-{day:02d} 00:00:00", "P"))
    rows.append((10, 7, "F", 1.0, "2024-01-10 00:00:00", "P"))
    rows.append((11, 7, "F", 1.0, "2024-01-11 00:00:00", "P"))
    df = spark.createDataFrame(
        rows,
        "o_orderkey LONG, o_custkey LONG, o_orderstatus STRING,"
        " o_totalprice DOUBLE, ts_s STRING, o_orderpriority STRING",
    ).withColumn("o_orderdate", F.to_timestamp("ts_s"))
    del base
    with patch.object(C, "load_table", lambda *_: df):
        r = C.customer_order_islands(spark, "ignored").collect()[0]
    # days: 1,2,3 (island of 3), 6 (1), 10,11 (2)
    assert r["n_order_days"] == 6
    assert r["n_islands"] == 3
    assert r["max_island_len"] == 3
    assert r["max_gap_days"] == 4  # 6 -> 10


def test_holt_forecast_linear_series_is_exact(spark):
    """On an exactly linear daily series the integer Holt recursion
    tracks the line: SSE stays 0 and fc_h continues it."""
    from unittest.mock import patch

    from clickhouse_batcher_spark.operators import timeseries as T

    rows = []
    eid = 0
    for day in range(1, 21):
        n = 5 + 2 * (day - 1)  # exactly linear: 5,7,9,...
        for k in range(n):
            rows.append(
                (eid, f"2024-02-{day:02d} 08:{k % 60:02d}:00", k, "t", 1.0)
            )
            eid += 1
    df = spark.createDataFrame(
        rows,
        "event_id LONG, ts_s STRING, user_id LONG, event_type STRING,"
        " value DOUBLE",
    ).withColumn("ts", F.to_timestamp("ts_s"))
    with patch.object(T, "load_table", lambda *_: df):
        r = T.events_holt_forecast_daily(spark, "ignored").collect()[0]
    assert r["n_days"] == 20
    assert r["sse"] == 0
    last = 5 + 2 * 19
    assert r["fc_1d"] == last + 2
    assert r["fc_3d"] == last + 6
    assert r["fc_7d"] == last + 14


def test_attribution_models_consistency(spark, sf_dir):
    """Cross-model invariants: every model distributes the same total
    purchase mass (1e6 ppm per purchase, linear up to k-truncation),
    and last-touch credits match the production purchase_attribution
    operator's counts."""
    from clickhouse_batcher_spark import catalog
    from clickhouse_batcher_spark.tables import load_table

    rows = catalog.QUERIES["attribution_model_comparison"](
        spark, sf_dir
    ).collect()
    by_model: dict[str, int] = {}
    for r in rows:
        by_model[r["model"]] = by_model.get(r["model"], 0) + r["credits_ppm"]
    n_purch = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .count()
    )
    assert by_model["first_touch"] == n_purch * 1_000_000
    assert by_model["last_touch"] == n_purch * 1_000_000
    # linear loses < k ppm per purchase to truncation
    assert n_purch * 1_000_000 - n_purch * 200 <= by_model["linear"]
    assert by_model["linear"] <= n_purch * 1_000_000
    # last-touch counts agree with the production operator
    prod = {
        r["touch_type"]: r["n_purchases"]
        for r in catalog.QUERIES["purchase_attribution"](
            spark, sf_dir
        ).collect()
    }
    got_last = {
        r["touch_type"]: r["credits_ppm"] // 1_000_000
        for r in rows
        if r["model"] == "last_touch"
    }
    assert got_last == {k: v for k, v in prod.items() if v}


def test_corr_matrix_matches_numpy(spark, sf_dir):
    """Float recompute: each pair's Pearson r within 1e-6 of numpy
    corrcoef on the same per-customer metrics; r in [-1, 1]; all
    three pairs present."""
    import numpy as np

    from clickhouse_batcher_spark import catalog
    from clickhouse_batcher_spark.tables import load_table

    rows = {
        (r["metric_a"], r["metric_b"]): r
        for r in catalog.QUERIES["user_metric_corr_matrix"](
            spark, sf_dir
        ).collect()
    }
    assert set(rows) == {
        ("freq", "monetary_c"),
        ("freq", "recency_d"),
        ("monetary_c", "recency_d"),
    }
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice", "o_orderdate"
    ).collect()
    per: dict[int, list] = {}
    for r in orders:
        per.setdefault(r["o_custkey"], []).append(r)
    maxd = max(
        int(r["o_orderdate"].timestamp()) // 86400 for r in orders
    )
    met = {
        c: (
            len(v),
            sum(round(float(r["o_totalprice"]) * 100) for r in v),
            maxd
            - max(int(r["o_orderdate"].timestamp()) // 86400 for r in v),
        )
        for c, v in per.items()
    }
    cols = {"freq": 0, "monetary_c": 1, "recency_d": 2}
    arr = np.array([met[c] for c in sorted(met)], dtype=np.float64)
    for (ma, mb), r in rows.items():
        want = float(
            np.corrcoef(arr[:, cols[ma]], arr[:, cols[mb]])[0, 1]
        )
        assert abs(r["pearson_r"] - want) < 1e-6, (ma, mb)
        assert -1.0 <= r["pearson_r"] <= 1.0
        assert r["n_users"] == len(met)


def test_simpson_diversity_recompute(spark, sf_dir):
    """Exact python recompute of D per source from collected token
    frequencies, plus complement identity."""
    from collections import Counter

    from clickhouse_batcher_spark import catalog
    from clickhouse_batcher_spark.tables import load_table

    rows = {
        r["source"]: r
        for r in catalog.QUERIES["docs_simpson_diversity"](
            spark, sf_dir
        ).collect()
    }
    docs = load_table(spark, sf_dir, "documents").select(
        "source", "text"
    ).collect()
    per: dict[str, Counter] = {}
    for d in docs:
        per.setdefault(d["source"], Counter()).update(
            t for t in d["text"].lower().split() if t
        )
    assert set(per) == set(rows)
    for src, cnt in per.items():
        r = rows[src]
        n = sum(cnt.values())
        rep = sum(c * (c - 1) for c in cnt.values())
        assert r["n_tokens"] == n and r["vocab"] == len(cnt)
        assert r["simpson_ppm"] == rep * 1_000_000 // (n * (n - 1))
        assert r["gini_simpson_ppm"] == 1_000_000 - r["simpson_ppm"]


def test_tdiv_matches_duckdb_intdiv():
    """_tdiv == DuckDB's `//` (and Spark's DIV) on every sign
    combination — Python's flooring `//` differs on 4 of these 8
    cases, the exact Holt negative-forecast trap from ADVICE r10."""
    import duckdb

    from clickhouse_batcher_spark.operators.timeseries import _tdiv

    cases = [(7, 2), (-7, 2), (7, -2), (-7, -2),
             (1_000_001, 10**6), (-1_000_001, 10**6),
             (999_999, 10**6), (-999_999, 10**6)]
    for a, b in cases:
        want = duckdb.sql(f"SELECT CAST({a} AS BIGINT) // {b}").fetchone()[0]
        assert _tdiv(a, b) == want, (a, b)
    # and the flooring counter-example the helper exists for:
    assert _tdiv(-7, 2) == -3 and (-7) // 2 == -4


def test_discount_pct_int_matches_duckdb(spark):
    """discount_pct_int == DuckDB's rounding double->int path for
    EVERY 2-dp double in [0, 1) — including the 0.29/0.57/0.58-style
    values whose *100 binary product is 28.999...996, where a raw
    Spark double->int cast truncates one unit low."""
    import duckdb

    from pyspark.sql import functions as F

    from clickhouse_batcher_spark.operators.rollup import discount_pct_int

    vals = [round(i / 100, 2) for i in range(100)]
    df = spark.createDataFrame([(v,) for v in vals], "d double")
    got = {
        r["d"]: r["pct"]
        for r in df.select(
            "d", discount_pct_int(F.col("d")).alias("pct")
        ).collect()
    }
    for v in vals:
        want = duckdb.sql(
            f"SELECT CAST(CAST({v!r} AS DECIMAL(4,2)) * 100 AS INTEGER)"
        ).fetchone()[0]
        assert got[v] == want == round(v * 100), v
        # the raw-cast trap really exists for some of these doubles:
    raw = {
        r["d"]: r["raw"]
        for r in df.select(
            "d", (F.col("d") * 100).cast("int").alias("raw")
        ).collect()
    }
    assert any(raw[v] != got[v] for v in vals)


def test_burstiness_recompute(spark, sf_dir):
    """numpy recompute of B from per-customer consecutive gaps; B in
    (-1, 1); mean matches exact integer division."""
    import numpy as np

    from clickhouse_batcher_spark import catalog
    from clickhouse_batcher_spark.tables import load_table

    r = catalog.QUERIES["orders_interarrival_burstiness"](
        spark, sf_dir
    ).collect()[0]
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_orderkey"
    ).collect()
    per: dict[int, list] = {}
    for o in orders:
        per.setdefault(o["o_custkey"], []).append(
            (o["o_orderdate"], o["o_orderkey"])
        )
    gaps = []
    for v in per.values():
        v.sort()
        for a, b in zip(v, v[1:]):
            gaps.append(int(b[0].timestamp()) - int(a[0].timestamp()))
    g = np.array(gaps, dtype=np.float64)
    assert r["n_gaps"] == len(gaps)
    assert r["mean_gap_s"] == sum(gaps) // len(gaps)
    mu, sigma = g.mean(), g.std()  # population std, matching the op
    assert abs(r["stddev_gap_s"] - sigma) < 0.01  # rounded to 2 dp
    assert abs(r["burstiness"] - (sigma - mu) / (sigma + mu)) < 1e-5
    assert -1.0 < r["burstiness"] < 1.0
