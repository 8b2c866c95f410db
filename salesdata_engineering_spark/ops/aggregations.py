"""Group totals (SURVEY §2.4, A1-A2).

The reference computes every group total as a *window sum over the group
keys followed by distinct* (`customer_mart_sql_tranform_write.py:10-19`,
`sales_data_mart_sql_transform.py:9-15`) — which shuffles full-width rows
and then hash-aggregates all columns to dedup. The engine's canonical
form is ``groupBy().agg()`` (partial + final hash aggregate, map-side
combine, ~columns-needed-only shuffle). ``window_sum_distinct`` keeps the
reference shape available and tests prove the two produce identical
results. The rest of the groupBy surface (``agg``, ``distinct``,
``rollup``, ``cube``) is the DataFrame API itself, called directly.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def grouped_sum(
    df: DataFrame,
    keys: Sequence[str],
    value: str | Column,
    alias: str = "total",
) -> DataFrame:
    """A1/A2 as the engine computes them: hash aggregate on the group
    keys."""
    return df.groupBy(*keys).agg(F.sum(value).alias(alias))


def window_sum_distinct(
    df: DataFrame,
    keys: Sequence[str],
    value: str | Column,
    alias: str = "total",
) -> DataFrame:
    """A1/A2 in the *reference's* shape: unbounded window sum partitioned
    by the keys, project, then ``.distinct()`` to collapse to one row per
    group (W1/W2 + A3). Provided for parity/compat; prefer
    ``grouped_sum`` — tests assert they are equal row-for-row."""
    w = Window.partitionBy(*keys)
    return (
        df.withColumn(alias, F.sum(value).over(w))
        .select(*keys, alias)
        .distinct()
    )

