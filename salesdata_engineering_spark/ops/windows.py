"""Window functions (SURVEY §2.5, W1-W3 + frames/analytics).

W3's tie semantics are observable behavior: the reference uses ``rank()``
(not row_number/dense_rank) so two salespeople tied for top both get rank
1 — and both get the incentive (`sales_data_mart_sql_transform.py:17-21`).
Keep ``rank``; don't "fix" it.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def asc_nulls_last(*order: Column | str) -> list[Column]:
    """Engine ordering convention: ascending sorts put NULLs LAST.

    Spark's implicit asc is NULLS FIRST while the broader SQL ecosystem
    (DuckDB, Postgres) defaults NULLS LAST — descending agrees in both,
    so ONLY ascending orderings over nullable keys fork, and only when
    NULL and non-NULL values actually coexist (the nullmix probe axis;
    all-NULL and no-NULL inputs can't see it). Every ascending ordering
    over a possibly-NULL key must spell its null placement explicitly;
    this helper is that spelling. Free on non-NULL keys — same sort,
    same plan."""
    return [
        (F.col(c) if isinstance(c, str) else c).asc_nulls_last() for c in order
    ]


def ranked(
    df: DataFrame,
    keys: Sequence[str],
    order: Column | str,
    alias: str = "rank",
) -> DataFrame:
    """W3 — ``rank()`` within (keys) by order: tied rows share a rank."""
    w = Window.partitionBy(*keys).orderBy(order)
    return df.withColumn(alias, F.rank().over(w))


def lag_lead(
    df: DataFrame, keys: Sequence[str], order: Column | str, value: str, offset: int = 1
) -> DataFrame:
    """Engine extension — lag/lead over an ordered partition (absent in
    the reference, SURVEY §2.5)."""
    w = Window.partitionBy(*keys).orderBy(order)
    return df.withColumn(f"{value}_lag", F.lag(value, offset).over(w)).withColumn(
        f"{value}_lead", F.lead(value, offset).over(w)
    )


def running_total(
    df: DataFrame, keys: Sequence[str], order: Column | str, value: str, alias: str
) -> DataFrame:
    """Engine extension — cumulative sum frame
    (rowsBetween(unboundedPreceding, currentRow))."""
    w = (
        Window.partitionBy(*keys)
        .orderBy(order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn(alias, F.sum(value).over(w))
