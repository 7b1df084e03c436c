"""The rows-only companions must DETECT corruption, not just read 0.

Each companion query (operators/companions.py) reduces a rows-only
operator family to violation counters the driver hash-checks against
an independent DuckDB oracle. Parity (tests/test_operators.py's
ORACLED list) proves the counters are zero on the healthy pipeline;
these tests prove the zeros are EARNED — injecting a kernel defect
flips the matching counter non-zero, so a driver-green row certifies
the real invariant, not a constant."""

from clickhouse_batcher_spark import catalog

catalog.load_all()


def test_lttb_companion_detects_endpoint_drop(spark, sf_dir, monkeypatch):
    """Dropping the kernel's final pick must surface as an endpoint
    violation (and an n_out short of least(n_bars, LTTB_POINTS))."""
    from clickhouse_batcher_spark.operators import lttb as L

    real_factory = L._build_lttb_select

    def broken_factory():
        sel = real_factory()

        def bad(x, y, n_out):
            idx = sel(x, y, n_out)
            return idx[:-1] if len(idx) > 2 else idx

        return bad

    monkeypatch.setattr(L, "_build_lttb_select", broken_factory)
    rows = catalog.QUERIES["lttb_invariant_violations"](
        spark, sf_dir
    ).collect()
    assert rows
    assert any(r.endpoint_violations > 0 for r in rows)
    assert any(r.n_out < min(r.n_bars, L.LTTB_POINTS) for r in rows)


def test_bpe_companion_detects_lossy_merge(spark, sf_dir, monkeypatch):
    """A merge that concatenates WITHOUT the intra-symbol space marker
    is unrecoverable by splitting — roundtrip_violations must fire on
    every document where a merge actually applied."""
    from pyspark.sql import functions as F

    from clickhouse_batcher_spark.operators import ngrams as N

    real_chain = N._merge_fold_chain

    def lossy_chain(syms_col, merges):
        return F.transform(
            real_chain(syms_col, merges),
            lambda s: F.regexp_replace(s, " ", ""),
        )

    monkeypatch.setattr(N, "_merge_fold_chain", lossy_chain)
    row = catalog.QUERIES["bpe_roundtrip_violations"](
        spark, sf_dir
    ).collect()[0]
    assert row.roundtrip_violations > 0


def test_unigram_companion_detects_dropped_piece(
    spark, sf_dir, monkeypatch
):
    """A segmenter that silently drops each word's last piece breaks
    the concatenation law (or yields empty segmentations for
    single-piece words) — the counters must fire.

    The learned-vocabulary memo is snapshotted and restored: learning
    itself Viterbi-segments, so running it under the broken factory
    would otherwise POISON ``_UNIGRAM_CACHE`` for every later test
    (the round-10 ordering flake)."""
    from clickhouse_batcher_spark.operators import ngrams as N

    real_factory = N._build_viterbi
    cache_before = dict(N._UNIGRAM_CACHE)

    def broken_factory():
        vit = real_factory()

        def bad(word, scores, max_len):
            pieces = vit(word, scores, max_len)
            return pieces[:-1]

        return bad

    monkeypatch.setattr(N, "_build_viterbi", broken_factory)
    try:
        row = catalog.QUERIES["unigram_encode_lossless"](
            spark, sf_dir
        ).collect()[0]
    finally:
        N._UNIGRAM_CACHE.clear()
        N._UNIGRAM_CACHE.update(cache_before)
    assert row.concat_violations + row.empty_piece_violations > 0


def test_pca_companion_detects_nonorthonormal_components(
    spark, sf_dir, monkeypatch
):
    """Scaling the component matrix by 1.01 breaks the Pythagorean
    split ||y||^2 = ||p||^2 + ||r||^2 far beyond float round-off —
    pythagoras_violations must count essentially every vector."""
    from clickhouse_batcher_spark.operators import pca as P

    real_fit = P.pca_fit

    def bad_fit(spark_, emb, k=P.PCA_K):
        mean, comps, evr = real_fit(spark_, emb, k)
        return mean, comps * 1.01, evr

    monkeypatch.setattr(P, "pca_fit", bad_fit)
    row = catalog.QUERIES["pca_projection_invariants"](
        spark, sf_dir
    ).collect()[0]
    assert row.pythagoras_violations > 0


def test_semantic_companion_detects_partition_break(
    spark, sf_dir, monkeypatch
):
    """Marking every row kept-with-a-dup_of (or flipping kept) breaks
    the keep/duplicate partition — partition_violations must fire."""
    from pyspark.sql import functions as F

    from clickhouse_batcher_spark.operators import similarity as S

    real_sd = S.semantic_dedup

    def bad_sd(spark_, sf):
        return real_sd(spark_, sf).withColumn("kept", ~F.col("kept"))

    monkeypatch.setattr(S, "semantic_dedup", bad_sd)
    row = catalog.QUERIES["semantic_dedup_invariants"](
        spark, sf_dir
    ).collect()[0]
    assert row.partition_violations > 0


def test_media_companion_detects_resize_dim_drift(
    spark, sf_dir, monkeypatch
):
    """A resize kernel that emits a 32x32 raster while the pipeline
    contract stays 64x64 must fire resize_violations for every image
    (the companion re-decodes the emitted payload bytes, so the
    mismatch is caught on the real PNG, not on reported metadata)."""
    from clickhouse_batcher_spark.operators import multimodal as M

    real_resize = M.resize_media

    def bad_resize(media):
        old = (M.RESIZE_W, M.RESIZE_H)
        M.RESIZE_W = M.RESIZE_H = 32  # kernel reads these at call time
        try:
            return real_resize(media)
        finally:
            M.RESIZE_W, M.RESIZE_H = old  # contract stays 64x64

    monkeypatch.setattr(M, "resize_media", bad_resize)
    row = catalog.QUERIES["media_pipeline_invariants"](
        spark, sf_dir
    ).collect()[0]
    assert row.resize_violations == row.n_image > 0


def _held(df) -> bool:
    from clickhouse_batcher_spark.operators import memo

    lvl = memo._checkpoint_rdd(df).getStorageLevel()
    return lvl.useMemory() or lvl.useDisk()


def test_evict_memos_releases_storage(spark):
    """The dedup memos must be releasable per-corpus: materializing
    frames for two sf_dirs then evicting one drops exactly that
    corpus's entries AND releases its checkpointed RDD blocks, so a
    long-lived session iterating over many corpora cannot grow
    executor storage unbounded (VERDICT r9 task 5). The memos are
    localCheckpoint()-backed (round-13): also pin that the blocks
    SURVIVE spark.catalog.clearCache() — the property the cache()-
    backed memo lacked (the bench loop clears the cache after every
    query, which silently turned the memo into a recompute)."""
    from clickhouse_batcher_spark.operators import dedup as D
    from clickhouse_batcher_spark.operators import memo

    app = spark.sparkContext.applicationId
    a, b = "/root/testdata/sf0.001", "/root/testdata/sf0.01"
    memo.evict_all()  # clean slate
    fa = D._doc_shingles_cached(spark, a)
    fb = D._doc_shingles_cached(spark, b)

    # eager localCheckpoint: materialized at creation
    assert _held(fa) and _held(fb)

    # the whole point of the checkpoint-backed memo: an external
    # clearCache (the bench does this after every query) must NOT
    # release the memoized frames
    spark.catalog.clearCache()
    assert _held(fa) and _held(fb)
    assert fa.count() > 0  # still computable after clearCache

    assert memo.evict_all(a) == 1
    assert (app, a) not in D._doc_shingles_cached.table
    assert (app, b) in D._doc_shingles_cached.table
    assert not _held(fa)  # released
    assert _held(fb)  # untouched

    assert memo.evict_all() >= 1
    assert not D._doc_shingles_cached.table
    assert not D.minhash_pairs_cached.table
    assert not _held(fb)


def test_evict_all_covers_every_module(spark):
    """Every module's memo dict must be in the central registry so ONE
    hook releases everything (VERDICT r13 what's-wrong #2: the round-13
    memos had no eviction path outside dedup). Build one entry per
    module and verify evict_all releases them all — blocks unpersisted,
    dicts empty."""
    from clickhouse_batcher_spark.operators import (
        classifier, cluster, corpus, dedup, graph, memo, similarity,
        spancorrupt,
    )
    from clickhouse_batcher_spark.catalog import QUERIES

    sf = "/root/testdata/sf0.001"
    memo.evict_all()  # clean slate
    QUERIES["t5_span_corruption"](spark, sf)  # populates _t5_runs.table
    frames = {
        "dedup": dedup._doc_shingles_cached(spark, sf),
        "graph": graph.coactivity_edges_cached(spark, sf),
        "classifier": classifier.nb_scores_cached(spark, sf),
        "similarity": similarity.similarity_topk(spark, sf),
        "corpus": QUERIES["dsir_importance_weights"](spark, sf),
        "cluster": QUERIES["dedup_clusters"](spark, sf),
        # spancorrupt's memo entry is the intermediate RUNS frame, not
        # the query output — fetch it from the dict
        "spancorrupt": list(spancorrupt._t5_runs.table.values())[0],
    }

    for name, df in frames.items():
        assert _held(df), f"{name} memo not materialized"

    released = memo.evict_all()
    assert released >= len(frames)
    for name, df in frames.items():
        assert not _held(df), f"{name} memo not released by evict_all"
    for getter in (
        dedup._doc_shingles_cached, dedup.minhash_pairs_cached,
        dedup.dedup_ngram_jaccard, graph.coactivity_edges_cached,
        graph._directed_edges_cached, classifier.nb_scores_cached,
        similarity.similarity_topk, similarity._vecs_cached,
        similarity.similarity_ann_ivf, similarity.similarity_ann_lsh,
        similarity.similarity_ann_pq, similarity.semantic_dedup,
        corpus.decontaminate_docs, corpus.dsir_importance_weights,
        cluster.dedup_clusters, spancorrupt._t5_runs,
    ):
        assert not getter.table, getter.__name__
    assert not any(memo._REGISTRY)


def test_memo_materialize_prefers_reliable_checkpoint(spark, tmp_path):
    """Cluster-safe memo fallback (VERDICT r13 task 9): when the
    context has a checkpoint dir, memo.materialize must produce a
    RELIABLE checkpoint (survives executor loss; isCheckpointed), not
    a localCheckpoint; without one it must fall back to
    localCheckpoint (isLocallyCheckpointed)."""
    from clickhouse_batcher_spark.operators import memo

    sc = spark.sparkContext
    df = spark.range(10)
    local = memo.materialize(df)
    assert memo._checkpoint_rdd(local).isLocallyCheckpointed()
    sc.setCheckpointDir(str(tmp_path / "ckpt"))
    try:
        reliable = memo.materialize(spark.range(10))
        rdd = memo._checkpoint_rdd(reliable)
        assert rdd.isCheckpointed() and not rdd.isLocallyCheckpointed()
        assert reliable.count() == 10
    finally:
        _unset_checkpoint_dir(sc)


def _unset_checkpoint_dir(sc) -> None:
    """Unset so the session fixture's later tests keep local behavior."""
    scala_none = getattr(getattr(sc._jvm.scala, "None$"), "MODULE$")
    getattr(sc._jsc.sc(), "checkpointDir_$eq")(scala_none)
    assert sc.getCheckpointDir() is None


def test_memo_build_releases_its_intermediates(spark, sf_dir):
    """Frames memo.materialize cuts while a memo build runs are that
    build's intermediates: once the entry is materialized they are
    released, so building nb_scores_cached (which cuts ``lab`` and
    ``pbk``) leaves exactly ONE new persistent RDD — the entry's. An
    entry of another memo built inside a build is not an intermediate:
    similarity_topk's build fills _vecs_cached, and both stay held and
    readable."""
    from clickhouse_batcher_spark.operators import classifier, memo, similarity

    jsc = spark.sparkContext._jsc
    memo.evict_all()
    before = set(jsc.getPersistentRDDs().keys())
    scores = classifier.nb_scores_cached(spark, sf_dir)
    new = set(jsc.getPersistentRDDs().keys()) - before
    assert new == {memo._checkpoint_rdd(scores).id()}
    assert _held(scores) and scores.count() > 0

    topk = similarity.similarity_topk(spark, sf_dir)
    (vecs,) = similarity._vecs_cached.table.values()
    assert _held(topk) and _held(vecs)
    assert topk.count() > 0 and vecs.count() > 0
    assert similarity._vecs_cached(spark, sf_dir) is vecs
    memo.evict_all()


def test_evict_all_deletes_reliable_checkpoint_files(spark, sf_dir, tmp_path):
    """With a checkpoint dir set, memo entries are reliable checkpoints
    whose files outlive an unpersist: evict_all must delete them, and a
    build must delete its intermediates' files when it ends."""
    from clickhouse_batcher_spark.operators import classifier, graph, memo

    sc = spark.sparkContext
    ckpt = tmp_path / "ckpt"
    memo.evict_all()
    sc.setCheckpointDir(str(ckpt))
    try:
        graph.coactivity_edges_cached(spark, sf_dir)
        classifier.nb_scores_cached(spark, sf_dir)
        # the two entries' files; nb's lab/pbk files went with its build
        assert len(list(ckpt.glob("*/rdd-*"))) == 2
        assert memo.evict_all() == 2
        assert not list(ckpt.glob("*/rdd-*"))
    finally:
        memo.evict_all()
        _unset_checkpoint_dir(sc)


def test_memos_are_declared_only_through_shared():
    """Hand-written getters must not come back: outside operators/memo.py
    nothing calls (or imports) memo.get_or_build, and
    every ``@memo.shared`` build is a module-level def."""
    import ast
    import pathlib

    import clickhouse_batcher_spark

    root = pathlib.Path(clickhouse_batcher_spark.__file__).parent
    private = {"get_or_build"}
    offenders = []
    for p in sorted(root.rglob("*.py")):
        if p == root / "operators" / "memo.py":
            continue
        tree = ast.parse(p.read_text())
        for node in ast.walk(tree):
            where = f"{p.name}:{getattr(node, 'lineno', 0)}"
            if isinstance(node, ast.ImportFrom) and (node.module or "").endswith("memo"):
                offenders += [f"{where} imports {a.name}" for a in node.names if a.name in private]
            elif (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in private
                and ast.unparse(node.func.value).split(".")[-1] == "memo"
            ):
                offenders.append(f"{where} calls memo.{node.func.attr}")
            elif (
                isinstance(node, ast.FunctionDef)
                and node not in tree.body
                and any(ast.unparse(d).endswith("shared") for d in node.decorator_list)
            ):
                offenders.append(f"{where} nested @memo.shared build {node.name}")
    assert not offenders, offenders
