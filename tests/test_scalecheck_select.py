"""Mechanical changed-set selection for the targeted sf1 gate
(tools/scalecheck.py --changed-since, VERDICT r12 item 6): git diff
paths map through the package import graph to registry queries, so the
targeted gate can never silently under-select the way a hand-picked
changed-set could."""

from __future__ import annotations

import importlib.util
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "salesdata_engineering_spark"


@pytest.fixture(scope="module")
def sc():
    spec = importlib.util.spec_from_file_location(
        "scalecheck", os.path.join(REPO, "tools", "scalecheck.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _mods_of(names):
    from salesdata_engineering_spark.registry import QUERIES

    return {QUERIES[n].fn.__module__.rsplit(".", 1)[-1] for n in names}


def test_no_diff_selects_nothing(sc):
    sel, files = sc.select_changed_queries("HEAD", diff=[])
    assert sel == [] and files == []


def test_registry_module_selects_itself_and_symbol_importers(sc):
    """registry_tpch imports no other registry module's symbols, so a
    tpch-only diff selects exactly the tpch queries; registry_ext's
    symbols ARE imported by registry_curated, so an ext diff selects
    both — but never the whole registry (the registration-side-effect
    aggregator cycle must not smear the selection)."""
    sel, _ = sc.select_changed_queries(
        "x", diff=[f"{PKG}/registry_tpch.py"]
    )
    assert _mods_of(sel) == {"registry_tpch"}
    sel, _ = sc.select_changed_queries(
        "x", diff=[f"{PKG}/registry_ext.py"]
    )
    assert _mods_of(sel) == {"registry_ext", "registry_curated"}


def test_shared_helper_selects_through_lazy_imports(sc):
    """ext/dedup.py is imported INSIDE query functions — the selection
    must see function-body imports, and must include every registry
    module that can reach the helper."""
    sel, _ = sc.select_changed_queries("x", diff=[f"{PKG}/ext/dedup.py"])
    mods = _mods_of(sel)
    assert "registry_ext" in mods
    # ops/windows.py is imported by registry.py itself, which every
    # registry module imports `register` from -> full selection
    sel_all, _ = sc.select_changed_queries(
        "x", diff=[f"{PKG}/ops/windows.py"]
    )
    from salesdata_engineering_spark.registry import QUERIES

    assert set(sel_all) == set(QUERIES)


def test_non_package_paths_are_ignored(sc):
    sel, files = sc.select_changed_queries(
        "x", diff=["tools/scalecheck.py", "bench.py"]
    )
    assert sel == []
