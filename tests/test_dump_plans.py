"""tools/dump_plans.normalise: session tokens never reach a plan diff."""

from __future__ import annotations

import importlib.util
from pathlib import Path


def _dump_plans():
    path = Path(__file__).resolve().parents[1] / "tools" / "dump_plans.py"
    spec = importlib.util.spec_from_file_location("dump_plans", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_normalise_hides_the_upsert_sink_tag():
    """stream_upsert_sink_snapshot reads a per-process temp dir; two
    sessions' plans of it must normalise to the same text."""
    normalise = _dump_plans().normalise
    a = "Location: InMemoryFileIndex [file:/tmp/upsert_sink_0123456789ab.snap]"
    b = "Location: InMemoryFileIndex [file:/tmp/upsert_sink_fedcba987654.snap]"
    assert normalise(a) == "Location: InMemoryFileIndex [file:/tmp/upsert_sink_<tag>.snap]"
    assert normalise(b) == normalise(a)


def test_normalise_hides_the_zorder_write_dir():
    """layout_zorder_write writes to a per-process dir whose tag hashes
    the pid."""
    normalise = _dump_plans().normalise
    a = "Location: InMemoryFileIndex [file:/tmp/zorder_write_0123456789ab]"
    b = "Location: InMemoryFileIndex [file:/tmp/zorder_write_fedcba987654]"
    assert normalise(a) == "Location: InMemoryFileIndex [file:/tmp/zorder_write_<tag>]"
    assert normalise(b) == normalise(a)


#: the Expand of stats_chisq_independence's two count_distinct groups and
#: the lines that depend on its group order, as two sessions planned it
_EXPAND_PRI_SEG = """\
(53) Expand
Input [3]: [pri#89, seg#90, k#91L]
Arguments: [[null, null, 0, k#91L], [pri#89, null, 1, null], [null, seg#90, 2, null]], \
[pri#101, seg#102, gid#100, k#103L]

(54) HashAggregate
Input [4]: [pri#101, seg#102, gid#100, k#103L]
Keys [3]: [pri#101, seg#102, gid#100]

(55) Exchange
Arguments: hashpartitioning(pri#101, seg#102, gid#100, 2), ENSURE_REQUIREMENTS, [plan_id=267]

(57) HashAggregate
Input [4]: [pri#101, seg#102, gid#100, sum(k)#104L]
Functions [3]: [partial_first(sum(k)#104L, true) FILTER (WHERE (gid#100 = 0)), \
partial_count(pri#101) FILTER (WHERE (gid#100 = 1)), \
partial_count(seg#102) FILTER (WHERE (gid#100 = 2))]
"""

_EXPAND_SEG_PRI = """\
(53) Expand
Input [3]: [pri#1089, seg#1090, k#1091L]
Arguments: [[null, null, 0, k#1091L], [seg#1090, null, 1, null], [null, pri#1089, 2, null]], \
[seg#1102, pri#1101, gid#1100, k#1103L]

(54) HashAggregate
Input [4]: [seg#1102, pri#1101, gid#1100, k#1103L]
Keys [3]: [seg#1102, pri#1101, gid#1100]

(55) Exchange
Arguments: hashpartitioning(seg#1102, pri#1101, gid#1100, 2), ENSURE_REQUIREMENTS, [plan_id=913]

(57) HashAggregate
Input [4]: [seg#1102, pri#1101, gid#1100, sum(k)#1104L]
Functions [3]: [partial_first(sum(k)#1104L, true) FILTER (WHERE (gid#1100 = 0)), \
partial_count(pri#1101) FILTER (WHERE (gid#1100 = 2)), \
partial_count(seg#1102) FILTER (WHERE (gid#1100 = 1))]
"""


def test_normalise_orders_count_distinct_groups():
    """Two sessions can plan the (pri, seg) count_distinct groups as
    (seg, pri); both normalise to the (pri, seg) text."""
    normalise = _dump_plans().normalise
    assert normalise(_EXPAND_SEG_PRI) == normalise(_EXPAND_PRI_SEG)
    assert "[pri#, null, 1, null], [null, seg#, 2, null]], [pri#, seg#, gid#, k#]" in (
        normalise(_EXPAND_SEG_PRI)
    )


def test_normalise_keeps_a_count_on_the_wrong_group():
    """Reordering is not masking: a count filtered on the other group's
    gid still diffs."""
    normalise = _dump_plans().normalise
    wrong = _EXPAND_SEG_PRI.replace(
        "partial_count(pri#1101) FILTER (WHERE (gid#1100 = 2))",
        "partial_count(pri#1101) FILTER (WHERE (gid#1100 = 1))",
    )
    assert wrong != _EXPAND_SEG_PRI
    assert normalise(wrong) != normalise(_EXPAND_PRI_SEG)
