"""Measurement helpers for the benchmark: percentiles, failure counts,
span tracing and the residue that reconciles layer times with a total.

Nothing here imports the engine, so the helpers are testable on their own
(see test_ledger.py).
"""

from __future__ import annotations

import math
import statistics
import threading
import time
from collections import Counter
from contextlib import contextmanager

MIN_BEYOND = 10  # a percentile needs this many samples above it
RESIDUE_FLAG = 0.10  # share of a total left unattributed before it is flagged


class PercentileRefused(ValueError):
    """Too few samples lie beyond the requested percentile."""


def percentile(samples, q: float) -> float:
    """The q-th percentile (0 < q < 100) by nearest rank, refused unless at
    least MIN_BEYOND samples lie strictly beyond its rank."""
    xs = sorted(samples)
    n = len(xs)
    rank = max(1, math.ceil(q / 100.0 * n))  # 1-based nearest rank
    if n - rank < MIN_BEYOND:
        raise PercentileRefused(f"p{q:g} of {n} samples leaves {n - rank} beyond it (< {MIN_BEYOND})")
    return xs[rank - 1]


def median(values) -> float:
    return float(statistics.median(values))


def read_amp(prefix: str, stats: list[dict], call_ms: list[float], pct) -> dict:
    """Cold-fetch and fan-out metrics from the IndexReader.last_stats of
    topk calls and their durations; pct(name, samples, q) picks the
    percentiles."""
    fetch = [x.get("fetch_ms", 0.0) for x in stats]
    n = max(len(stats), 1)
    return {
        f"{prefix}.fetch_ms_p50": pct(f"{prefix}.fetch_ms_p50", fetch, 50),
        f"{prefix}.fetch_ms_p90": pct(f"{prefix}.fetch_ms_p90", fetch, 90),
        f"{prefix}.cold_fetch_share": sum(fetch) / max(sum(call_ms), 1e-9),
        f"{prefix}.segments_touched_per_query": sum(x.get("segments_touched", 0) for x in stats) / n,
        f"{prefix}.global_fallbacks": sum(x.get("global_fallbacks", 0) for x in stats),
        f"{prefix}.dead_union_fallbacks": sum(x.get("dead_union_fallbacks", 0) for x in stats),
    }


def residue(total: float, parts) -> tuple[float, float, bool]:
    """(unattributed seconds, unattributed share of total, flagged) for a
    total and the layer times measured inside it. A negative residue means
    the parts overlap; it is reported as measured, never clipped."""
    left = total - sum(parts)
    share = left / total if total > 0 else 0.0
    return left, share, abs(share) > RESIDUE_FLAG


class Failures:
    """Operations attempted and failed, per operation type. Thread-safe."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.attempted: Counter = Counter()
        self.failed: Counter = Counter()
        self.errors: list[str] = []

    def record(self, op: str, ok: bool, error: str = "") -> None:
        with self._lock:
            self.attempted[op] += 1
            if not ok:
                self.failed[op] += 1
                if len(self.errors) < 20:
                    self.errors.append(f"{op}: {error}")

    def call(self, op: str, fn, *args, **kwargs):
        """Run fn, count it under op; returns (ok, result)."""
        try:
            out = fn(*args, **kwargs)
        except Exception as e:  # any raise is a failed operation, not a crash
            self.record(op, False, f"{type(e).__name__}: {e}"[:300])
            return False, None
        self.record(op, True)
        return True, out

    def totals(self) -> tuple[int, int]:
        with self._lock:
            return sum(self.attempted.values()), sum(self.failed.values())

    def by_op(self) -> dict:
        with self._lock:
            return {op: {"attempted": n, "failed": self.failed[op]}
                    for op, n in sorted(self.attempted.items())}

    def absorb(self, by_op: dict, errors: list[str]) -> None:
        """Add the counts (by_op() form) and errors of another process."""
        with self._lock:
            for op, v in by_op.items():
                self.attempted[op] += v["attempted"]
                self.failed[op] += v["failed"]
            self.errors += errors[:max(0, 20 - len(self.errors))]


class Tracer:
    """Spans kept in memory: (id, name, start, end, parent, request).

    A span's parent defaults to the innermost open span of the same thread;
    client threads pass theirs explicitly. Disabled, span() costs one
    attribute test. Tracers of different processes take disjoint id
    ranges (first_id), so their spans can be pooled; perf_counter is the
    system-wide monotonic clock, so their times line up."""

    def __init__(self, enabled: bool, first_id: int = 1) -> None:
        self.enabled = enabled
        self.spans: list[tuple] = []
        self._ids = iter(range(first_id, 1 << 62))
        self._tls = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, parent: int | None = None, request: int | None = None):
        if not self.enabled:
            yield None
            return
        stack = self._tls.__dict__.setdefault("stack", [])
        with self._lock:
            sid = next(self._ids)
        if parent is None and stack:
            parent = stack[-1]
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield sid
        finally:
            end = time.perf_counter()
            stack.pop()
            self.spans.append((sid, name, start, end, parent, request))


def self_times(spans) -> dict[int, float]:
    """span id -> its duration minus the part of its interval that its
    child spans cover (children may overlap, e.g. concurrent clients)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for _sid, _name, start, end, parent, _req in spans:
        if parent is not None:
            children.setdefault(parent, []).append((start, end))
    out = {}
    for sid, _name, start, end, _parent, _req in spans:
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in sorted(children.get(sid, [])):
            s, e = max(s, start), min(e, end)
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[sid] = (end - start) - covered
    return out
