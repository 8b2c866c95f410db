"""Scalar function surface (SURVEY §2.8, F1-F8) plus engine additions.

Everything here is a thin, tested wrapper over built-in
``pyspark.sql.functions`` — JVM-side, codegen-friendly, no Python UDFs.
Parity citations point into /root/reference.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .schemas import MONEY


def month_key(date_str: Column | str) -> Column:
    """F1/F2 — ``substring(sales_date, 1, 7)`` month bucket on a
    yyyy-MM-dd *string* date (parity:
    customer_mart_sql_tranform_write.py:12, main.py:245). Equivalent to
    ``date_format(to_date(c), 'yyyy-MM')`` on true dates — the engine
    prefers real dates; equivalence is proven in tests."""
    return F.substring(F.col(date_str) if isinstance(date_str, str) else date_str, 1, 7)


def full_name(first: Column | str, last: Column | str) -> Column:
    """F3 — ``concat(first, ' ', last)`` (parity:
    customer_mart_sql_tranform_write.py:15-16)."""
    return F.concat_ws(" ", first, last)


def fold_extra_columns(cols: list[str]) -> Column:
    """F4 — fold surplus columns into one comma-joined string
    (parity: main.py:195 ``concat_ws(", ", *extra)``)."""
    return F.concat_ws(", ", *cols)


def money(c: Column | str) -> Column:
    """Cast to the engine's DECIMAL(18,2) money type. Exact for the
    2-decimal doubles in the testdata; avoids order-dependent float sums."""
    return (F.col(c) if isinstance(c, str) else c).cast(MONEY)


def incentive(total: Column, rank_col: Column, rate: str = "0.01") -> Column:
    """P4/F6 — 1% incentive for the rank-1 row, else 0, rounded to cents
    (parity: sales_data_mart_sql_transform.py:22-24).

    ``rate`` is a SQL *decimal* literal string — ``F.lit(0.01)`` would be
    a double and drag the whole expression into order/rounding-sensitive
    float math. On exact decimals Spark's HALF_UP round matches DuckDB's
    half-away-from-zero for the money domain."""
    return F.when(rank_col == 1, F.round(total * F.expr(rate), 2)).otherwise(
        F.lit(0)
    ).cast(MONEY)
