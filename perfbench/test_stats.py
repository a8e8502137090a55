"""Tests of the benchmark's own arithmetic; no Spark needed.

    python3 -m pytest perfbench/test_stats.py -q
"""

import math
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from reference import cep_matches, normalize, rows_match  # noqa: E402
from stats import (  # noqa: E402
    Span,
    Tracer,
    failed_frac,
    geomean,
    quartile_spread,
    self_times,
    tail_percentile,
)


def test_tail_percentile_keeps_ten_samples_beyond():
    xs = list(range(1, 101))  # 1..100
    p, v, n = tail_percentile(xs)
    assert (p, v, n) == (90.0, 90, 100)
    assert sum(x > v for x in xs) == 10


@pytest.mark.parametrize("n", [11, 15, 20, 37, 99, 1000, 5000])
def test_tail_percentile_rule_holds_for_any_n(n):
    xs = [float(i) for i in range(n)]
    p, v, got_n = tail_percentile(xs)
    assert got_n == n
    assert sum(x > v for x in xs) >= 10
    # one percentile point higher would leave fewer than ten beyond
    if p < 99:
        rank = math.ceil((p + 1) * n / 100)
        assert n - rank < 10


def test_tail_percentile_too_few_samples_gives_median():
    assert tail_percentile([3.0, 1.0, 2.0]) == (None, 2.0, 3)
    with pytest.raises(ValueError):
        tail_percentile([])


def test_geomean():
    assert geomean([2.0, 8.0]) == pytest.approx(4.0)
    assert geomean([5.0]) == pytest.approx(5.0)
    with pytest.raises(ValueError):
        geomean([1.0, 0.0])
    with pytest.raises(ValueError):
        geomean([])


def test_failed_frac():
    assert failed_frac(10, 0) == 0.0
    assert failed_frac(8, 2) == 0.25
    with pytest.raises(ValueError):
        failed_frac(0, 0)
    with pytest.raises(ValueError):
        failed_frac(3, 4)


def test_quartile_spread_matches_statistics_quantiles():
    vals = [10, 11, 9, 10, 12, 10, 8, 10, 11, 9]
    # quantiles(n=4) -> [9.0, 10.0, 11.0]
    assert quartile_spread(vals) == pytest.approx(0.2)


def _span(i, name, start, end, parent=None):
    return Span(name, start, end, parent, "r", i)


def test_self_time_subtracts_children_once_when_they_overlap():
    spans = [
        _span(0, "a.root", 0.0, 10.0),
        _span(1, "b.child", 1.0, 4.0, parent=0),
        _span(2, "b.child", 3.0, 6.0, parent=0),  # overlaps the first child
        _span(3, "c.leaf", 8.0, 12.0, parent=0),  # runs past the parent
    ]
    got = self_times(spans)
    assert got["a.root"] == pytest.approx(10.0 - 5.0 - 2.0)
    assert got["b.child"] == pytest.approx(3.0 + 3.0)
    assert got["c.leaf"] == pytest.approx(4.0)


def test_self_time_only_direct_children_count():
    spans = [
        _span(0, "root", 0.0, 10.0),
        _span(1, "mid", 2.0, 8.0, parent=0),
        _span(2, "leaf", 3.0, 5.0, parent=1),
    ]
    got = self_times(spans)
    assert got == pytest.approx({"root": 4.0, "mid": 4.0, "leaf": 2.0})


def test_tracer_nests_and_disabled_records_nothing():
    t = Tracer(enabled=True, run_id="x")
    with t.span("outer"):
        with t.span("inner"):
            pass
    assert [s.name for s in t.spans] == ["outer", "inner"]
    assert t.spans[1].parent == 0 and t.spans[0].parent is None
    assert all(s.end >= s.start for s in t.spans)
    off = Tracer(enabled=False, run_id="y")
    with off.span("x") as s:
        assert s is None
    assert off.spans == []


def test_rows_match_tolerates_float_rounding_only():
    want = normalize([("a", 1, 0.30000001), ("b", 2, 5.0)])
    assert rows_match(normalize([("b", 2, 5.0), ("a", 1, 0.3)]), want)
    assert not rows_match(normalize([("a", 1, 0.3)]), want)
    assert not rows_match(normalize([("a", 1, 0.4), ("b", 2, 5.0)]), want)
    assert not rows_match(normalize([("a", 9, 0.3), ("b", 2, 5.0)]), want)


def test_cep_reference_skip_till_next_match_with_gap():
    s = 1_000_000
    rows = [  # (doc, ts_us, tokens)
        ("d", 0 * s, [1]),     # starts partial A
        ("d", 10 * s, [7]),    # matches no step: skipped
        ("d", 20 * s, [1]),    # starts partial B
        ("d", 30 * s, [2]),    # completes A and B
        ("e", 0, [1]),
        ("e", 700 * s, [2]),   # past the 600 s gap: no match
    ]
    got = cep_matches(
        [r[0] for r in rows], [r[1] for r in rows], [r[2] for r in rows],
        [{1}, {2}], gap_s=600, max_partials=64,
    )
    assert got == normalize([("d", 0, 30 * s, 2), ("d", 20 * s, 30 * s, 2)])


def test_cep_reference_caps_live_partials():
    rows = [("d", i, [1]) for i in range(5)] + [("d", 10, [2])]
    got = cep_matches(
        [r[0] for r in rows], [r[1] for r in rows], [r[2] for r in rows],
        [{1}, {2}], gap_s=600, max_partials=2,
    )
    assert got == normalize([("d", 0, 10, 2), ("d", 1, 10, 2)])
