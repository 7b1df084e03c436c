"""Central registry for per-(session, sf_dir) memoized frames.

Several operator modules memoize an expensive shared subtree once per
(applicationId, sf_dir) so back-to-back catalog queries (bench/driver
runs, notebook sessions) amortize it instead of re-deriving it — dedup
shingles, MinHash-verified pairs, graph edges, ANN results, NB scores.

There is one way to declare such a memo: decorate a module-level
``build(spark, sf_dir) -> DataFrame`` with :func:`shared`::

    @memo.shared
    def coactivity_edges_cached(spark, sf_dir):
        return coactivity_edges(load_table(spark, sf_dir, "events"))

The decorator creates and registers the memo dict (exposed as
``getter.table``, keyed on ``(applicationId, sf_dir)``) and returns a
getter with the same ``(spark, sf_dir)`` signature that builds on first
use through :func:`get_or_build`. The undecorated build stays reachable
as ``getter.__wrapped__`` for tests that need a real recompute.

- Every entry is materialized through :func:`materialize`, the one
  lineage cut of the package: a reliable ``checkpoint()`` when the
  context has a checkpoint dir (survives executor loss on a cluster,
  per SCALE.md), else ``localCheckpoint()``.
- Frames that :func:`materialize` cuts *while a build runs* are that
  build's intermediates: they are released as soon as the entry itself
  is materialized. An entry of another memo built inside the build is
  not an intermediate and stays held.
- A frame cut outside any build is its caller's to free with
  :func:`release` (the streaming near-dup gate cuts one per batch).
- :func:`evict_all` releases every registered entry (optionally one
  corpus's): it unpersists the blocks and deletes a reliable
  checkpoint's files.

bench.py / tools/qtime.py call ``evict_all()`` in their per-query
cleanup so every recorded cold sample pays its own pipeline; they time
a separate, clearly-labeled amortized pass with the memos left warm.
"""

from __future__ import annotations

import functools
import logging
import threading

from pyspark.sql import DataFrame, SparkSession

log = logging.getLogger(__name__)

# Every memo dict created by shared(); module-level so the registry
# survives as long as the process, like the dicts themselves.
_REGISTRY: list[dict] = []

# Unexpected release failures (a broken internals path must be
# visible, not silently become a storage leak).
_EVICT_FAILURES = 0

# Per-thread stack of running builds; each level collects the frames
# materialize() cut while that build ran. Thread-local so a streaming
# query's materialize() on another thread never lands in a build.
_BUILDS = threading.local()


def shared(build):
    """Declare a memo over a module-level ``build(spark, sf_dir)``."""
    table = {}
    _REGISTRY.append(table)

    @functools.wraps(build)
    def getter(spark: SparkSession, sf_dir: str) -> DataFrame:
        return get_or_build(table, spark, sf_dir, build)

    getter.table = table
    return getter


def _cut(df: DataFrame) -> DataFrame:
    if df.sparkSession.sparkContext.getCheckpointDir():
        return df.checkpoint(eager=True)
    return df.localCheckpoint()


def _build_stack() -> list[list[DataFrame]]:
    return _BUILDS.__dict__.setdefault("stack", [])


def materialize(df: DataFrame) -> DataFrame:
    """Materialize ``df`` eagerly and cut its lineage.

    Prefers a reliable ``checkpoint()`` when the SparkContext has a
    checkpoint directory configured (cluster runs per SCALE.md: an
    executor loss can then recompute/refetch the frame from the
    checkpoint files instead of killing every consumer), falling back
    to ``localCheckpoint()`` (executor-block-backed, no lineage) in
    local mode where executor loss means the whole app is gone anyway.
    Inside a memo build the result is released when the build ends.
    """
    out = _cut(df)
    stack = _build_stack()
    if stack:
        stack[-1].append(out)
    return out


def get_or_build(memo: dict, spark: SparkSession, sf_dir: str,
                 build) -> DataFrame:
    """The shared getter: one materialized frame per
    (applicationId, sf_dir), built on first use."""
    key = (spark.sparkContext.applicationId, sf_dir)
    df = memo.get(key)
    if df is None:
        stack = _build_stack()
        stack.append([])
        try:
            df = _cut(build(spark, sf_dir))
        finally:
            for frame in stack.pop():
                release(frame, "build intermediate")
        memo[key] = df
    return df


def _checkpoint_rdd(df: DataFrame):
    """The materialized RDD behind a checkpoint()-ed frame (its analyzed
    plan is a LogicalRDD); lets eviction release the blocks
    deterministically instead of waiting for the ContextCleaner."""
    return df._jdf.queryExecution().analyzed().rdd()


def _session_stopped(df: DataFrame) -> bool:
    try:
        return df.sparkSession.sparkContext._jsc is None
    except Exception:
        return True


def release(df: DataFrame, what) -> None:
    """Unpersist a :func:`materialize`-d frame's blocks and delete its
    reliable checkpoint files, if it has any — for a cut made outside a
    memo build, whose owner knows when it is done with it. A frame owned
    by an already-stopped SparkContext is skipped; any other failure is
    logged and counted."""
    global _EVICT_FAILURES
    if _session_stopped(df):
        return
    try:
        rdd = _checkpoint_rdd(df)
        rdd.unpersist(False)
        ckpt = rdd.getCheckpointFile()
        if ckpt.isDefined():
            sc = df.sparkSession.sparkContext
            path = sc._jvm.org.apache.hadoop.fs.Path(ckpt.get())
            path.getFileSystem(sc._jsc.hadoopConfiguration()).delete(path, True)
    except Exception:
        _EVICT_FAILURES += 1
        log.warning(
            "memo could not release %r; its storage leaks until context "
            "cleanup", what, exc_info=True,
        )


def evict_all(sf_dir: str | None = None) -> int:
    """Release and drop every registered memo entry.

    Call with an ``sf_dir`` to release one corpus's frames (bench/sweep
    teardown between scale points), or ``None`` to flush everything.
    Returns the number of entries released. A popped frame is dead in
    either checkpoint mode (its blocks and checkpoint files are gone);
    consumers re-enter through their getter, which rebuilds.
    """
    released = 0
    for memo in _REGISTRY:
        for key in [k for k in memo if sf_dir is None or k[1] == sf_dir]:
            release(memo.pop(key), key)
            released += 1
    return released
