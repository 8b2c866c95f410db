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
    """layout_zorder_write writes to a fresh mkdtemp dir per call."""
    normalise = _dump_plans().normalise
    a = "Location: InMemoryFileIndex [file:/tmp/zorder_write_uhxbxka6]"
    b = "Location: InMemoryFileIndex [file:/tmp/zorder_write_2ed4my_5]"
    assert normalise(a) == "Location: InMemoryFileIndex [file:/tmp/zorder_write_<tag>]"
    assert normalise(b) == normalise(a)
