"""Statistics and span arithmetic of the pipeline benchmark.

    python3 -m pytest pipebench/tests -q
"""

from __future__ import annotations

import os
import statistics
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import oracle  # noqa: E402
import stats  # noqa: E402


def test_median_odd_even_and_empty():
    assert stats.median([3.0, 1.0, 2.0]) == 2.0
    assert stats.median([4.0, 1.0, 3.0, 2.0]) == 2.5
    with pytest.raises(ValueError):
        stats.median([])


def test_quartiles_match_statistics_quantiles():
    vals = [2.31, 2.05, 2.44, 2.19, 2.62, 2.28, 2.11, 2.37, 2.25, 2.52]
    assert stats.quartiles(vals) == tuple(statistics.quantiles(vals, n=4))
    q1, q2, q3 = stats.quartiles([1.0, 2.0, 3.0, 4.0, 5.0])
    # 'exclusive' method: positions (n+1)p -> 1.5, 3, 4.5
    assert (q1, q2, q3) == (1.5, 3.0, 4.5)


def test_spread_is_iqr_over_median():
    vals = [1.0, 2.0, 3.0, 4.0, 5.0]
    assert stats.spread(vals) == pytest.approx((4.5 - 1.5) / 3.0)
    assert stats.spread([7.0] * 10) == 0.0


def test_percentile_nearest_rank():
    vals = list(range(1, 101))
    assert stats.percentile(vals, 50) == 50
    assert stats.percentile(vals, 90) == 90
    assert stats.percentile(vals, 100) == 100
    assert stats.percentile([5.0], 99) == 5.0


def test_tail_percentile_needs_ten_samples_beyond():
    assert stats.tail_percentile(10) is None
    assert stats.tail_percentile(39) is None
    assert stats.tail_percentile(40) == 75.0
    assert stats.tail_percentile(100) == 90.0
    assert stats.tail_percentile(200) == 95.0
    assert stats.tail_percentile(1000) == 99.0


def test_failed_frac():
    assert stats.failed_frac(10, 0) == 0.0
    assert stats.failed_frac(8, 2) == 0.25
    with pytest.raises(ValueError):
        stats.failed_frac(0, 0)
    with pytest.raises(ValueError):
        stats.failed_frac(3, 4)


def test_in_ref_units_cancels_a_host_slowing_both():
    turns = [100, 100, 100]
    fast = stats.in_ref_units([2.0, 2.2, 1.8], [1.0, 1.1, 0.9], turns)
    assert fast == pytest.approx((50.0, 2.0))
    # the host at half speed: op and reference times double
    slow = stats.in_ref_units([4.0, 4.4, 3.6], [2.0, 2.2, 1.8], turns)
    assert slow == pytest.approx(fast)
    # an op that gets slower while its reference does not shows
    assert stats.in_ref_units([3.0, 3.3, 2.7], [1.0, 1.1, 0.9], turns)[1] == pytest.approx(3.0)
    with pytest.raises(ValueError):
        stats.in_ref_units([1.0], [], [100])


def test_spans_on_goes_on_off_off_on():
    assert [stats.spans_on(n) for n in range(8)] == [
        True, False, False, True, True, False, False, True]


def test_block_overhead_cancels_linear_drift():
    # op time grows by 1 s per op; spans cost 0.5 s
    op_s = {n: n + (0.5 if stats.spans_on(n) else 0.0) for n in range(8)}
    assert stats.block_overhead(op_s) == pytest.approx(0.5)
    del op_s[6]  # the incomplete second block is left out
    assert stats.block_overhead(op_s) == pytest.approx(0.5)
    with pytest.raises(ValueError):
        stats.block_overhead({0: 1.0, 1: 1.0})


def test_union_length_merges_overlaps():
    assert stats.union_length([]) == 0.0
    assert stats.union_length([(0, 1), (2, 3)]) == 2.0
    assert stats.union_length([(0, 2), (1, 3)]) == 3.0
    assert stats.union_length([(0, 5), (1, 2), (3, 4)]) == 5.0


def _span(i, parent, start, end, name="x"):
    return {"id": i, "parent": parent, "start": start, "end": end, "name": name}


def test_self_time_subtracts_direct_children_once():
    spans = [
        _span(0, None, 0.0, 10.0, "op"),
        _span(1, 0, 1.0, 4.0),
        _span(2, 0, 3.0, 6.0),  # overlaps span 1: counted once
        _span(3, 1, 1.5, 2.0),  # grandchild: only span 1 loses it
        _span(4, 0, 9.0, 12.0),  # runs past its parent: clipped
    ]
    selfs = stats.self_times(spans)
    assert selfs[0] == pytest.approx(10.0 - 5.0 - 1.0)
    assert selfs[1] == pytest.approx(3.0 - 0.5)
    assert selfs[2] == pytest.approx(3.0)
    assert selfs[3] == pytest.approx(0.5)
    assert selfs[4] == pytest.approx(3.0)


def test_coverage_is_share_of_root_time_under_children():
    spans = [
        _span(0, None, 0.0, 10.0, "op"),
        _span(1, 0, 0.0, 8.0),
        _span(2, None, 20.0, 30.0, "op"),
        _span(3, 2, 20.0, 30.0),
    ]
    assert stats.coverage(spans, "op") == pytest.approx(18.0 / 20.0)
    with pytest.raises(ValueError):
        stats.coverage(spans, "missing")


def test_prefix_self_times_difference_of_prefixes():
    prefixes = {"scan": 0.5, "parse": 1.7, "route": 1.6}
    selfs = stats.prefix_self_times(prefixes, ["scan", "parse", "route"])
    assert selfs == pytest.approx({"scan": 0.5, "parse": 1.2, "route": -0.1})
    assert sum(selfs.values()) == pytest.approx(prefixes["route"])


def test_oracle_routes_first_match_wins():
    import pandas as pd

    turns = pd.DataFrame({
        "text": [
            "span id=00000000000000aa parent=- op=plan CALL bash(args=a1) -> status=ok dur=5ms",
            "CALL read(args=a2) -> status=err dur=7ms level=INFO",
            "CALL read(args=a3) -> status=ok dur=1ms",
            "level=WARN nothing else",
            "plain prose",
        ],
        "tool": ["bash", "read", "none", "none", "none"],
    })
    assert oracle.expected_sinks(turns) == {"traces": 1, "metrics": 1, "events": 3}


def test_oracle_mismatches():
    want = {"metrics": 1, "events": 3, "traces": 1}
    assert oracle.mismatches(want, dict(want), 5, 5) == []
    bad = oracle.mismatches(want, {"metrics": 1, "events": 2, "traces": 1}, 4, 5)
    assert len(bad) == 2 and bad[0].startswith("sink events")
    assert oracle.mismatches(want, dict(want), 5, None) == []
    assert oracle.mismatches(want, {**want, "other": 1}, 5, 5) == ["unexpected sinks ['other']"]
