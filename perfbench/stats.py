"""Spark-free measurement helpers: percentiles, open-loop lateness,
span self time, failure tallies and process memory.

Kept free of any Spark import so ``test_perfbench.py`` runs without a
JVM.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass, field


def percentile(values, p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    k = (len(xs) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail_percentile(n: int, cap: float = 99.0) -> float | None:
    """The highest percentile with at least ten samples beyond it, capped
    at ``cap``; None when fewer than 20 samples leave no such percentile
    at or above the median."""
    if n < 20:
        return None
    return min(cap, 100.0 * (1.0 - 10.0 / n))


def latency_summary(values, cap: float = 99.0) -> dict:
    """Median and tail of ``values``. The tail is the percentile from
    :func:`tail_percentile`; with too few samples for one it is the
    maximum, and ``tail_pct`` reads 100 so the record says so."""
    n = len(values)
    pct = tail_percentile(n, cap)
    tail = percentile(values, pct) if pct is not None else max(values)
    return {"p50": percentile(values, 50), "tail": tail,
            "tail_pct": round(pct, 2) if pct is not None else 100.0, "n": n}


@dataclass
class OpenLoop:
    """Fixed-rate send schedule: item ``i`` is due at ``t0 + i / rate``
    whatever the system does, so a stall delays later items instead of
    slowing the generator."""

    t0: float
    rate: float
    n: int
    max_lag: float = 0.0

    def due(self, i: int) -> float:
        return self.t0 + i / self.rate

    def due_count(self, now: float) -> int:
        """How many items are due by ``now``."""
        if now < self.t0:
            return 0
        return min(self.n, int((now - self.t0) * self.rate) + 1)

    def record_send(self, i: int, now: float) -> None:
        """Note that item ``i`` went out at ``now``; keeps the largest
        lateness seen (how far behind schedule the generator ran)."""
        self.max_lag = max(self.max_lag, now - self.due(i))

    def commit_latencies(self, lo: int, hi: int, committed_at: float) -> list[float]:
        """Latency of items ``lo..hi`` (inclusive) that became durable at
        ``committed_at``, each measured from its scheduled send time."""
        return [committed_at - self.due(i) for i in range(lo, hi + 1)]


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time of every span: its duration minus the part of it that
    its direct children cover (overlapping children count once)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.get("parent") is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered = 0.0
        cur_lo = cur_hi = None
        for lo, hi in sorted(children.get(s["id"], [])):
            lo, hi = max(lo, s["start"]), min(hi, s["end"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


@dataclass
class Tally:
    """Operations attempted and failed (a wrong result counts as a
    failure), with the reason for each failure."""

    attempted: int = 0
    failed: int = 0
    reasons: list[str] = field(default_factory=list)

    def ok(self, count: int = 1) -> None:
        self.attempted += count

    def check(self, passed: bool, what: str) -> bool:
        self.attempted += 1
        if not passed:
            self.failed += 1
            self.reasons.append(what)
        return passed

    @property
    def failed_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


def peak_rss_mb(pids) -> float:
    """Sum of the peak resident set sizes (VmHWM) of ``pids``, in MB."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
                    break
    return total_kb / 1024.0


def cpu_ticks() -> tuple[int, int]:
    """Cumulative (steal, total) CPU ticks of the machine from
    ``/proc/stat``. Steal is time a hypervisor ran something else while
    this machine's CPUs had work."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:9]]
    return (ticks[7] if len(ticks) > 7 else 0), sum(ticks)


def steal_frac(start: tuple[int, int], end: tuple[int, int]) -> float:
    """Share of CPU time stolen between two :func:`cpu_ticks` readings."""
    total = end[1] - start[1]
    return (end[0] - start[0]) / total if total > 0 else 0.0


def host_context() -> dict:
    return {"loadavg_1m": os.getloadavg()[0], "cores": os.cpu_count(),
            "cpu_ticks": cpu_ticks()}
