"""Unit tests for bench.py's contended-box ingest guard.

The round-10 driver bench failed (rc=1) because the latency-shaped
micro-ingest sampling started while the box was contended; the
settle-wait (VERDICT r10 task 1) is the defense, so its loop logic is
pinned here with a fake loadavg — no Spark, no sleeping (wait_s=0).
"""

from __future__ import annotations

import importlib.util
import os


def _load_bench():
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "bench_under_test", os.path.join(repo, "bench.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_settle_waits_until_below_threshold(monkeypatch):
    bench = _load_bench()
    seq = iter([(9.0, 0, 0), (5.0, 0, 0), (2.0, 0, 0)])
    monkeypatch.setattr(os, "getloadavg", lambda: next(seq))
    waited, hist = bench.settle_for_ingest(
        threshold=4.0, max_waits=3, wait_s=0.0
    )
    assert hist == [9.0, 5.0, 2.0]  # two waits, stops once below 4
    assert waited == 0.0  # wait_s=0 in the test; two sleep steps taken


def test_settle_quiet_box_is_free(monkeypatch):
    bench = _load_bench()
    monkeypatch.setattr(os, "getloadavg", lambda: (0.4, 0, 0))
    waited, hist = bench.settle_for_ingest(threshold=4.0, wait_s=0.0)
    assert hist == [0.4] and waited == 0.0  # no sleep at all


def test_settle_is_bounded_on_a_stuck_box(monkeypatch):
    bench = _load_bench()
    monkeypatch.setattr(os, "getloadavg", lambda: (20.0, 0, 0))
    waited, hist = bench.settle_for_ingest(
        threshold=4.0, max_waits=3, wait_s=0.0
    )
    # never spins forever: max_waits sleeps then gives up (the floor
    # guard downstream still decides pass/fail)
    assert len(hist) == 4  # initial reading + 3 bounded re-checks


def test_failure_is_one_line_on_stderr_at_once(capsys):
    bench = _load_bench()
    exc = ValueError("bad decile\n  at frame 1\n  at frame 2")
    line = bench._report_failure("amortized q", exc)
    assert line == "amortized q: ValueError: bad decile"
    assert capsys.readouterr().err == line + "\n"
