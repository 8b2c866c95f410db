"""session.local_frame: driver-side rows as an Arrow-built LocalRelation.

Every frame the engine builds from a handful of Python rows (index
artifacts, probe sets, ledger rows, small registry constants) goes
through this one helper, so no such frame needs a Python worker."""

from __future__ import annotations

import ast
import math
import struct
from pathlib import Path

import pytest
from pyspark.sql.types import LongType, StructField, StructType

from salesdata_engineering_spark.session import local_frame

_SCHEMA = "d double, v array<double>, b bigint, s string"
_ROWS = [
    (-0.0, [-0.0, None, 1.5], -(2**63), "naïve — 東京"),
    (math.nan, None, 2**63 - 1, None),
    (math.inf, [], 0, ""),
    (-math.inf, [math.nan, math.inf, -math.inf], None, "ß"),
]


def _bits(v):
    """A value with every float replaced by its IEEE bytes, so -0.0
    and NaN compare exactly."""
    if isinstance(v, float):
        return struct.pack(">d", v)
    if isinstance(v, (list, tuple)):
        return [_bits(x) for x in v]
    return v


def _leaf(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


def test_local_frame_round_trips_exact_values(spark):
    df = local_frame(spark, _ROWS, _SCHEMA)
    assert df.schema == StructType.fromDDL(_SCHEMA)
    assert [_bits(tuple(r)) for r in df.collect()] == [_bits(r) for r in _ROWS]


def test_local_frame_takes_zero_rows(spark):
    df = local_frame(spark, [], _SCHEMA)
    assert df.schema == spark.createDataFrame([], _SCHEMA).schema
    assert df.collect() == []
    assert df.count() == 0


def test_local_frame_leaf_is_a_local_relation(spark):
    """The plan leaf is a LocalRelation, never a LogicalRDD over a
    pickled Python RDD, whatever the session's Arrow setting says."""
    key = "spark.sql.execution.arrow.pyspark.enabled"
    before = spark.conf.get(key)
    try:
        for arrow in ("true", "false"):
            spark.conf.set(key, arrow)
            for rows in (_ROWS, []):
                plan = _leaf(local_frame(spark, rows, _SCHEMA))
                assert plan.startswith("LocalRelation"), plan
                assert "LogicalRDD" not in plan
    finally:
        spark.conf.set(key, before)
    # the row-list path this helper replaces is the pickled-RDD one
    assert "LogicalRDD" in _leaf(spark.createDataFrame(_ROWS, _SCHEMA))


@pytest.mark.parametrize(
    "rows",
    [
        [("x", None, 1, "a")],
        [(1, None, 1, "a")],
        [(1.0, None, 2**63, "a")],
        [(1.0, [1], 1, "a")],
    ],
    ids=["string-as-double", "int-as-double", "bigint-overflow", "int-array-element"],
)
def test_local_frame_rejects_wrong_typed_rows(spark, rows):
    """What createDataFrame rejects, local_frame rejects: Arrow would
    have coerced some of these silently."""
    with pytest.raises((TypeError, ValueError)):
        spark.createDataFrame(rows, _SCHEMA)
    with pytest.raises((TypeError, ValueError)):
        local_frame(spark, rows, _SCHEMA)


def test_local_frame_rejects_null_in_non_nullable_field(spark):
    schema = StructType([StructField("a", LongType(), nullable=False)])
    with pytest.raises(ValueError):
        local_frame(spark, [(None,)], schema)


def _row_frame_calls(path: Path) -> list[str]:
    """``parallelize(`` calls anywhere, and ``createDataFrame(`` calls
    outside ``session.local_frame``, in one module."""
    found = []

    def visit(node, func: str | None) -> None:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            func = node.name
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            attr = node.func.attr
            allowed = path.name == "session.py" and func == "local_frame"
            if attr == "parallelize" or (attr == "createDataFrame" and not allowed):
                found.append(f"{path.name}:{node.lineno} calls {attr}")
        for child in ast.iter_child_nodes(node):
            visit(child, func)

    visit(ast.parse(path.read_text(), str(path)), None)
    return found


def test_only_local_frame_turns_python_rows_into_a_frame():
    """Product code builds every driver-side frame through local_frame:
    a ``createDataFrame(list)`` or ``parallelize`` frame is a pickled
    Python RDD, and the first job reading it forks a Python worker."""
    pkg = Path(__file__).resolve().parents[1] / "salesdata_engineering_spark"
    files = sorted(pkg.rglob("*.py"))
    assert len(files) > 10
    assert [v for f in files for v in _row_frame_calls(f)] == []
