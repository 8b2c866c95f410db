"""The benchmark's arithmetic: medians, tail percentiles, failure share,
span self time and run-to-run spread. Pure Python, no Spark, so it is
unit-tested on its own (``perfbench/unit_tests``)."""

from __future__ import annotations

import math
import statistics
from collections import defaultdict
from collections.abc import Iterable

#: Percentiles tried, lowest first, when reporting a tail.
TAIL_PERCENTILES = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
#: A percentile is reported only if at least this many samples lie beyond it.
MIN_BEYOND = 10


def median(values: Iterable[float]) -> float:
    vals = list(values)
    if not vals:
        raise ValueError("median of no values")
    return statistics.median(vals)


def medians_by_type(samples: Iterable[tuple[str, float]]) -> dict[str, float]:
    """Median duration per op type from (type, seconds) samples.

    Ops of different cost are never pooled: a pooled median lands in
    the gaps between their costs and flips with the mix."""
    by_type: dict[str, list[float]] = defaultdict(list)
    for op_type, secs in samples:
        by_type[op_type].append(secs)
    return {t: statistics.median(v) for t, v in sorted(by_type.items())}


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    vals = sorted(values)
    if not vals:
        raise ValueError("percentile of no values")
    rank = max(1, math.ceil(p / 100.0 * len(vals)))
    return vals[rank - 1]


def beyond(n: int, p: float) -> int:
    """How many of n samples lie above the nearest-rank p-th percentile."""
    return n - max(1, math.ceil(p / 100.0 * n))


def tail(values: list[float]) -> dict | None:
    """The highest percentile in TAIL_PERCENTILES with at least MIN_BEYOND
    samples beyond it, as {"p", "value", "n"}; None if even the median
    has fewer than MIN_BEYOND samples above it."""
    best = None
    for p in TAIL_PERCENTILES:
        if beyond(len(values), p) >= MIN_BEYOND:
            best = {"p": p, "value": percentile(values, p), "n": len(values)}
    return best


def failure_share(attempted: int, failed: int) -> float:
    if attempted <= 0:
        raise ValueError("no ops attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside 0..attempted={attempted}")
    return failed / attempted


def covered(intervals: Iterable[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``.

    Children may overlap each other (e.g. concurrent calls) and may
    stick out of the parent; each point is counted once and only inside
    the parent."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(start: float, end: float, children: Iterable[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its children cover."""
    return (end - start) - covered(children, start, end)


def spread(values: list[float]) -> float:
    """Distance between the first and third quartile, as a share of the
    median (``statistics.quantiles(values, n=4)``)."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2
