"""Tests for the benchmark's own arithmetic. No Spark needed:

    python3 -m pytest perfbench/unit_tests -q
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402
from spans import Span, self_times  # noqa: E402


def test_self_time_without_children_is_duration():
    assert stats.self_time(1.0, 4.0, []) == 3.0


def test_self_time_nested_children():
    # parent 0..10, children 1..3 and 5..6 -> 3 s covered
    assert stats.self_time(0.0, 10.0, [(1.0, 3.0), (5.0, 6.0)]) == pytest.approx(7.0)


def test_self_time_overlapping_children_count_once():
    # 1..4 and 3..6 overlap on 3..4: union is 1..6
    assert stats.self_time(0.0, 10.0, [(1.0, 4.0), (3.0, 6.0)]) == pytest.approx(5.0)
    # one child contains the other
    assert stats.self_time(0.0, 10.0, [(2.0, 8.0), (3.0, 4.0)]) == pytest.approx(4.0)


def test_self_time_children_clipped_to_parent():
    assert stats.self_time(2.0, 5.0, [(0.0, 3.0), (4.5, 9.0)]) == pytest.approx(1.5)
    assert stats.self_time(2.0, 5.0, [(6.0, 7.0)]) == pytest.approx(3.0)
    assert stats.self_time(0.0, 4.0, [(-1.0, 9.0)]) == 0.0


def test_span_tree_self_times():
    spans = [
        Span(0, "op", 0.0, 10.0, None, 0),
        Span(1, "ingest.ingest_batch", 1.0, 6.0, 0, 0),
        Span(2, "ingest.validate_files", 1.5, 3.0, 1, 0),
        Span(3, "io.write", 5.0, 9.0, 0, 0),  # overlaps its sibling
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 8.0)
    assert st[1] == pytest.approx(5.0 - 1.5)
    assert st[2] == pytest.approx(1.5)
    assert st[3] == pytest.approx(4.0)


def test_medians_by_type_never_pool():
    samples = [("search", 1.0), ("append", 5.0), ("search", 3.0), ("append", 7.0), ("search", 2.0)]
    assert stats.medians_by_type(samples) == {"append": 6.0, "search": 2.0}


def test_median_rejects_empty():
    with pytest.raises(ValueError):
        stats.median([])


def test_tail_needs_ten_samples_beyond():
    assert stats.tail([1.0] * 19) is None  # 9 above the median
    t = stats.tail([float(i) for i in range(1, 21)])  # 20 samples: 10 above p50
    assert t == {"p": 50.0, "value": 10.0, "n": 20}
    t = stats.tail([float(i) for i in range(1, 101)])  # 100 samples: 10 above p90
    assert t == {"p": 90.0, "value": 90.0, "n": 100}
    t = stats.tail([float(i) for i in range(1, 1001)])  # 1000: 10 above p99
    assert t["p"] == 99.0 and t["value"] == 990.0


def test_beyond_counts_samples_above_rank():
    assert stats.beyond(20, 50.0) == 10
    assert stats.beyond(100, 95.0) == 5
    assert stats.beyond(1, 50.0) == 0


def test_failure_share():
    assert stats.failure_share(10, 0) == 0.0
    assert stats.failure_share(8, 2) == 0.25
    with pytest.raises(ValueError):
        stats.failure_share(0, 0)
    with pytest.raises(ValueError):
        stats.failure_share(3, 4)


def test_spread_is_iqr_over_median():
    vals = [10.0, 11.0, 9.0, 10.0, 12.0, 8.0, 10.0, 10.5, 9.5, 10.0]
    import statistics

    q1, q2, q3 = statistics.quantiles(vals, n=4)
    assert stats.spread(vals) == pytest.approx((q3 - q1) / q2)
    assert stats.spread([5.0] * 10) == 0.0
