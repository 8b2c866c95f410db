"""Projections, filters, derived columns (SURVEY §2.2, P1-P5).

The reference's only row-level predicates live in raw MySQL SQL
(`main.py:40-41`) — the engine exposes the full DataFrame predicate
surface (equality, IN, range, LIKE, null checks) as first-class ops so
they push down to the parquet scan (Catalyst `PushDownPredicates`).
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def project(df: DataFrame, *cols: str | Column) -> DataFrame:
    """P1 — column projection (parity: main.py:219-221, 240-245)."""
    return df.select(*cols)


def derive(df: DataFrame, **named_exprs: Column | str) -> DataFrame:
    """P3 — derived columns; string values go through ``F.expr`` (F2
    parity: ``expr("SUBSTRING(sales_date,1,7) as sales_month")``,
    main.py:245)."""
    out = df
    for name, expr in named_exprs.items():
        out = out.withColumn(name, F.expr(expr) if isinstance(expr, str) else expr)
    return out


def where(df: DataFrame, predicate: Column | str) -> DataFrame:
    """P5 — row filter. Declarative so it reaches the scan as a
    PushedFilter whenever the source supports it."""
    return df.filter(predicate)


def where_between(df: DataFrame, col: str, lo, hi) -> DataFrame:
    """P5 — range predicate; pushes down as two parquet filters."""
    return df.filter(F.col(col).between(lo, hi))


def rename(df: DataFrame, mapping: Mapping[str, str]) -> DataFrame:
    """Bulk rename (parity: the four disambiguation renames before the
    sales_team join, dimension_tables_join.py:50-53)."""
    return df.withColumnsRenamed(dict(mapping))
