"""Joins (SURVEY §2.3, J1-J3 + the full Spark join-type surface).

The reference hard-codes three inner equi-joins of a fact against tiny
dimensions (`dimension_tables_join.py:17-54`). At 100 TB the fact side is
huge and the dims stay small, so the engine's default star join broadcasts
every dimension — zero shuffle of the fact. Joins between two large
tables fall through to Catalyst (sort-merge / shuffle-hash, AQE-skew-split)
by *not* hinting.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame


def semi_join(df: DataFrame, other: DataFrame, on: str | Sequence[str] | Column) -> DataFrame:
    """left-semi — EXISTS. Semantically the reference's ledger check
    "which local files are already active" (main.py:39-49)."""
    return df.join(other, on, "left_semi")


def anti_join(df: DataFrame, other: DataFrame, on: str | Sequence[str] | Column) -> DataFrame:
    """left-anti — NOT EXISTS; the 'not yet processed' complement."""
    return df.join(other, on, "left_anti")
