"""Tracing for the per-layer run, installed from outside the package.

:class:`Tracer` keeps spans (name, start, end, parent, run id) in
memory and writes them out when the run ends. :meth:`Tracer.wrap`
replaces a public entry point of the program with a timing wrapper for
the length of the run, so the package itself carries no tracing code.
:class:`ProgressLog` collects every micro-batch progress report
through a ``StreamingQueryListener``; it is used by the untraced run
too, because the streaming workload's end-to-end latency is Spark's
own ``triggerExecution`` time per batch.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []
        self.totals: dict[str, list] = {}

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            sid = len(self.spans)
            rec = {"id": sid, "name": name, "parent": stack[-1] if stack else None,
                   "run": self.run_id, "thread": threading.current_thread().name,
                   "start": time.perf_counter(), "end": None, **attrs}
            self.spans.append(rec)
        stack.append(sid)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()

    def wrap(self, owner, attr: str, name: str, before=None, after=None) -> None:
        """Time every call of ``owner.attr`` as a span called ``name``.
        ``before(args, kwargs)`` may return extra span attributes;
        ``after(rec, result)`` may annotate the span from the result."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            extra = before(args, kwargs) if before else {}
            with self.span(name, **extra) as rec:
                result = original(*args, **kwargs)
                if after:
                    after(rec, result)
                return result

        self._patch(owner, attr, traced)

    def total(self, owner, attr: str, name: str) -> None:
        """Count the calls of ``owner.attr`` and sum their time in
        ``totals[name]`` without keeping a span each (for entry points
        called once per row)."""
        original = getattr(owner, attr)
        acc = self.totals.setdefault(name, [0, 0.0])

        @functools.wraps(original)
        def timed(*args, **kwargs):
            t = time.perf_counter()
            try:
                return original(*args, **kwargs)
            finally:
                acc[0] += 1
                acc[1] += time.perf_counter() - t

        self._patch(owner, attr, timed)

    def _patch(self, owner, attr: str, replacement) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, replacement)

    def unwrap_all(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()

    def named(self, name: str, t0: float | None = None, t1: float | None = None) -> list[dict]:
        """Finished spans called ``name``, optionally only those that
        started inside ``[t0, t1)``."""
        return [s for s in self.spans if s["name"] == name and s["end"] is not None
                and (t0 is None or s["start"] >= t0) and (t1 is None or s["start"] < t1)]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


class ProgressLog(StreamingQueryListener):
    """Every ``QueryProgressEvent`` of the session, tagged with the
    workload phase that was running (``phase`` is set by the caller).
    Unlike ``StreamingQuery.recentProgress`` it keeps all of them."""

    def __init__(self) -> None:
        self.phase = None
        self.events: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        rec = {"phase": self.phase, "batch": p.batchId, "rows": p.numInputRows,
               "ms": dict(p.durationMs)}
        with self._lock:
            self.events.append(rec)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def batches(self, phase: str) -> list[dict]:
        """Progress reports of ``phase`` that processed data."""
        with self._lock:
            return [e for e in self.events if e["phase"] == phase and e["rows"] > 0]

    def wait_for(self, phase: str, n: int, timeout_s: float = 15.0) -> list[dict]:
        """Progress events arrive on the listener bus after the batch
        ends; wait until ``n`` data batches of ``phase`` are in."""
        deadline = time.monotonic() + timeout_s
        while len(self.batches(phase)) < n and time.monotonic() < deadline:
            time.sleep(0.05)
        return self.batches(phase)


def job_counts(spark, group: str) -> dict[str, int]:
    """Jobs, stages and tasks Spark ran under job group ``group``, read
    from the public status tracker."""
    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = tasks = 0
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        for sid in info.stageIds:
            st = tracker.getStageInfo(sid)
            if st is not None:
                stages += 1
                tasks += st.numTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks}
