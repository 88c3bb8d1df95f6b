"""Tests for the benchmark's measurement helpers (ledger.py).

    python3 -m pytest perfbench/test_ledger.py -q
"""

import threading

import pytest

from ledger import MIN_BEYOND, Failures, PercentileRefused, Tracer, percentile, read_amp, residue, self_times


def test_percentile_nearest_rank():
    xs = list(range(1, 101))  # 1..100
    assert percentile(xs, 50) == 50
    assert percentile(xs, 90) == 90
    assert percentile(reversed(xs), 50) == 50  # input order does not matter


def test_percentile_needs_ten_samples_beyond():
    assert percentile(range(20), 50) == 9  # rank 10 of 20: exactly ten beyond
    with pytest.raises(PercentileRefused):
        percentile(range(19), 50)  # rank 10 of 19: nine beyond
    assert percentile(range(100), 90) == 89  # rank 90 of 100: ten beyond
    with pytest.raises(PercentileRefused):
        percentile(range(99), 90)
    assert percentile(range(1000), 99) == 989
    with pytest.raises(PercentileRefused):
        percentile(range(999), 99)
    with pytest.raises(PercentileRefused):
        percentile([], 50)
    assert MIN_BEYOND == 10


def test_residue_and_flag():
    left, share, flagged = residue(10.0, [6.0, 3.5])
    assert left == pytest.approx(0.5)
    assert share == pytest.approx(0.05)
    assert not flagged
    left, share, flagged = residue(10.0, [6.0, 2.0])
    assert share == pytest.approx(0.2) and flagged
    # overlapping parts give a negative residue, reported as measured
    left, share, flagged = residue(10.0, [6.0, 6.0])
    assert left == pytest.approx(-2.0) and flagged
    assert residue(0.0, []) == (0.0, 0.0, False)


def test_failures_count_per_op():
    f = Failures()
    assert f.call("topk", lambda: 3) == (True, 3)

    def boom():
        raise ValueError("budget")

    assert f.call("tiered", boom) == (False, None)
    f.record("topk", False, "urls: gone")
    assert f.totals() == (3, 2)
    assert f.by_op() == {"tiered": {"attempted": 1, "failed": 1},
                         "topk": {"attempted": 2, "failed": 1}}
    assert f.errors == ["tiered: ValueError: budget", "topk: urls: gone"]


def test_failures_absorb_another_process():
    f = Failures()
    f.record("topk", True)
    child = Failures()
    child.record("topk", False, "urls: gone")
    child.record("upsert", True)
    f.absorb(child.by_op(), child.errors)
    assert f.by_op() == {"topk": {"attempted": 2, "failed": 1},
                         "upsert": {"attempted": 1, "failed": 0}}
    assert f.totals() == (3, 1)
    assert f.errors == ["topk: urls: gone"]


def test_failures_thread_safe():
    f = Failures()

    def work():
        for i in range(2000):
            f.record("topk", i % 4 != 0)

    threads = [threading.Thread(target=work) for _ in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=30)
    assert not any(t.is_alive() for t in threads)
    assert f.totals() == (16000, 4000)


def test_self_time_subtracts_covered_children():
    spans = [
        (1, "phase", 0.0, 10.0, None, None),
        (2, "a", 1.0, 4.0, 1, None),
        (3, "b", 3.0, 6.0, 1, None),  # overlaps a: union covers 1..6
        (4, "c", 8.0, 12.0, 1, None),  # runs past the parent: clipped to 8..10
        (5, "a.inner", 2.0, 3.0, 2, None),
    ]
    own = self_times(spans)
    assert own[1] == pytest.approx(10.0 - 5.0 - 2.0)
    assert own[2] == pytest.approx(2.0)
    assert own[3] == pytest.approx(3.0)
    assert own[4] == pytest.approx(4.0)
    assert own[5] == pytest.approx(1.0)


def test_tracer_parents_and_disabled():
    t = Tracer(True)
    with t.span("outer") as outer:
        with t.span("inner", request=7) as inner:
            pass
    with t.span("explicit", parent=outer):
        pass
    by_name = {s[1]: s for s in t.spans}
    assert by_name["inner"][4] == outer and by_name["inner"][5] == 7
    assert by_name["outer"][4] is None
    assert by_name["explicit"][4] == outer
    assert inner != outer

    off = Tracer(False)
    with off.span("x") as sid:
        assert sid is None
    assert off.spans == []


def test_tracer_id_ranges_do_not_collide():
    a, b = Tracer(True), Tracer(True, first_id=1 << 40)
    with a.span("x"), b.span("y"):
        pass
    assert a.spans[0][0] == 1 and b.spans[0][0] == 1 << 40


def test_read_amp_ratios_and_refused_percentiles():
    stats = [{"fetch_ms": 4.0, "segments_touched": 2, "global_fallbacks": 1}, {"segments_touched": 4}]
    refused = []

    def pct(name, xs, q):
        try:
            return percentile(xs, q)
        except PercentileRefused:
            refused.append(name)
            return None

    m = read_amp("serve", stats, [8.0, 2.0], pct)
    assert m["serve.cold_fetch_share"] == pytest.approx(0.4)
    assert m["serve.segments_touched_per_query"] == 3
    assert m["serve.global_fallbacks"] == 1 and m["serve.dead_union_fallbacks"] == 0
    assert m["serve.fetch_ms_p50"] is None and refused == ["serve.fetch_ms_p50", "serve.fetch_ms_p90"]
