"""Pins for bench.py --ab-ref pair ratios: samples are paired by round,
so an errored run on one side drops only that round's pair instead of
shifting every later sample onto its neighbour's round. No Spark."""

from __future__ import annotations

import importlib.util
import os
import sys

import pytest


def _bench():
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "bench_under_test", os.path.join(repo, "bench.py")
    )
    mod = importlib.util.module_from_spec(spec)
    sys.modules["bench_under_test"] = mod
    spec.loader.exec_module(mod)
    return mod


def test_pairs_follow_rounds_across_a_one_sided_error():
    bench = _bench()
    # round 1 errored on the head side; each round's ref/head ratio is 2
    # except round 3 (3.0); a positional zip would pair (3, 4), (5, 6)...
    head = [1.0, None, 3.0, 4.0]
    ref = [2.0, 4.0, 6.0, 12.0]
    assert bench._round_pair_ratios(head, ref) == pytest.approx([2.0, 2.0, 3.0])


def test_pairs_drop_rounds_with_errors_on_either_side():
    bench = _bench()
    assert bench._round_pair_ratios([1.0, 2.0, None], [None, 4.0, 5.0]) == [2.0]
    assert bench._round_pair_ratios([None], [None]) == []
