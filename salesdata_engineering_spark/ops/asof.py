"""As-of (most-recent-match) join — a time-series operator Spark has no
built-in for (engine extension; the reference has no temporal joins at
all — SURVEY §2.3 'absent' row).

Implemented as a COMPOSITION of built-ins, not a theta-join: tag both
sides, union, and take ``last(right payload, ignorenulls)`` over a
(keys)-partitioned window ordered by (ts, side). One shuffle on the
join keys, a per-key sort, zero pairwise comparison — the classic
union-scan formulation. A naive range join (l.ts >= r.ts) explodes to
O(|L|·|R|) pairs per key before picking the max; this stays O(|L|+|R|)
rows end-to-end, and at 100 TB the shuffle is the same hash-partition
as any equi-join on the key (AQE handles key skew).

Right-side duplicate timestamps are collapsed first (max tiebreak
column wins) so the match is deterministic — which also makes the
DuckDB ``ASOF JOIN`` oracle reproducible.
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _nn_keys(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Drop rows with any NULL join key — the right-side half of SQL
    equality semantics for the union-scan joins (a NULL key matches
    nothing, so such right rows are dead weight that would otherwise
    pair with NULL-key LEFT rows inside the NULL window partition)."""
    if not keys:
        return df
    return df.filter(reduce(lambda a, b: a & b, [F.col(k).isNotNull() for k in keys]))


def _dedup_right(
    right: DataFrame,
    keys: Sequence[str],
    ts: str,
    payload: Sequence[str],
    tiebreak: str,
) -> DataFrame:
    """The deterministic right side both as-of joins scan: NULL-key rows
    dropped (:func:`_nn_keys`), then one row per (keys, ts), the max
    ``tiebreak`` winning, projected to (keys, ts, payload)."""
    w_dedup = Window.partitionBy(*keys, ts).orderBy(F.col(tiebreak).desc())
    return (
        _nn_keys(right, keys)
        .withColumn("_rn", F.row_number().over(w_dedup))
        .filter(F.col("_rn") == 1)
        .select(*keys, ts, *payload)
    )


def _match_struct_type(right: DataFrame, ts: str, payload: Sequence[str]):
    """StructType of the carried match: (_m_ts, _m_<payload>...) —
    the left side's typed NULL literal for the union."""
    from pyspark.sql import types as T

    return T.StructType(
        [T.StructField("_m_ts", right.schema[ts].dataType)]
        + [T.StructField(f"_m_{p}", right.schema[p].dataType) for p in payload]
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    ts: str,
    payload: Sequence[str],
    tiebreak: str,
    suffix: str = "_matched",
) -> DataFrame:
    """Backward as-of join: for each left row, the right row with the
    greatest ``ts`` ≤ the left row's ``ts`` within the same ``keys``.

    Returns all left columns plus ``<ts><suffix>`` and
    ``<payload_col><suffix>`` for each payload column (NULL when the key
    has no earlier right row — left-join semantics).

    NULL join keys follow SQL equality semantics (nullkeys axis, r13):
    a NULL key never matches, so NULL-key RIGHT rows are filtered out
    (they could match nothing) and NULL-key LEFT rows survive
    unmatched — withOUT the filter, the union-scan's partitionBy would
    group NULL keys together and silently match NULL-key lefts to
    NULL-key rights, a pairing no SQL join produces.
    """
    r = _dedup_right(right, keys, ts, payload, tiebreak)

    left_cols = left.columns
    # The matched row travels as ONE struct per right row — never as
    # parallel per-column last(ignorenulls) carries: the struct is
    # non-NULL for every right row (its ts is), so ignorenulls skips
    # exactly the tagged-left rows, while a NULL payload VALUE rides
    # inside the struct and is faithfully delivered. Per-column
    # carries conflate "no right row yet" with "matched right row
    # whose payload is NULL" and leak an OLDER row's payload into the
    # match (found by the independent-mask nullmix sweep, r12 — the
    # phase-shifted mask could never produce a non-NULL-ts purchase
    # with a NULL value, so r11's sweep was blind to it).
    m_struct = _match_struct_type(right, ts, payload)
    tagged_r = r.select(
        *keys,
        F.col(ts).alias("_ts"),
        F.lit(0).alias("_side"),
        F.struct(
            F.col(ts).alias("_m_ts"),
            *[F.col(p).alias(f"_m_{p}") for p in payload],
        ).alias("_m"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in left_cols if c not in keys],
    )
    tagged_l = left.select(
        *keys,
        F.col(ts).alias("_ts"),
        F.lit(1).alias("_side"),
        F.lit(None).cast(m_struct).alias("_m"),
        *[F.col(c) for c in left_cols if c not in keys],
    )
    # rights sort before lefts at equal ts (backward join includes ties)
    w = (
        Window.partitionBy(*keys)
        .orderBy("_ts", "_side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = tagged_r.unionByName(tagged_l).select(
        *keys,
        "_side",
        *[c for c in left_cols if c not in keys],
        F.last("_m", ignorenulls=True).over(w).alias("_m"),
    )
    return (
        filled.filter(F.col("_side") == 1)
        .select(
            *keys,
            *[c for c in left_cols if c not in keys],
            F.col("_m._m_ts").alias(f"{ts}{suffix}"),
            *[F.col(f"_m._m_{p}").alias(f"{p}{suffix}") for p in payload],
        )
    )


def asof_nearest_join(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    ts: str,
    payload: Sequence[str],
    tiebreak: str,
    suffix: str = "_matched",
) -> DataFrame:
    """Nearest as-of join (pandas merge_asof direction='nearest'): for
    each left row, the right row minimizing |right.ts - left.ts| within
    ``keys``; exact-timestamp and equidistant ties resolve BACKWARD
    (the at-or-before row), matching the backward join's tie rule.

    Same union-scan shape as :func:`asof_join`, run in both directions
    over ONE key shuffle: the backward candidate is last(right) over
    the preceding frame ordered (ts, rights-first), the forward
    candidate is first(right) over the following frame ordered
    (ts, rights-last) — the two window sorts share the exchange, and
    the row stream stays O(|L|+|R|). Distances compare as exact
    integer microseconds. NULL join keys never match (same right-side
    filter as :func:`asof_join` — SQL equality semantics)."""
    r = _dedup_right(right, keys, ts, payload, tiebreak)
    left_cols = left.columns
    matched = [f"{ts}{suffix}"] + [f"{p}{suffix}" for p in payload]
    # same single-struct carry as asof_join (see comment there): the
    # per-direction candidate is one non-NULL-per-right-row struct, so
    # NULL payload values are delivered, not skipped over
    m_struct = _match_struct_type(right, ts, payload)
    tagged_r = r.select(
        *keys,
        F.col(ts).alias("_ts"),
        F.lit(True).alias("_is_right"),
        F.struct(
            F.col(ts).alias("_m_ts"),
            *[F.col(p).alias(f"_m_{p}") for p in payload],
        ).alias("_m"),
        *[
            F.lit(None).cast(left.schema[c].dataType).alias(c)
            for c in left_cols
            if c not in keys
        ],
    )
    tagged_l = left.select(
        *keys,
        F.col(ts).alias("_ts"),
        F.lit(False).alias("_is_right"),
        F.lit(None).cast(m_struct).alias("_m"),
        *[F.col(c) for c in left_cols if c not in keys],
    )
    u = tagged_r.unionByName(tagged_l)
    # backward: rights sort BEFORE lefts at equal ts (ties match); forward:
    # rights sort AFTER lefts so an equal-ts right is inside the following
    # frame too (it then loses the equidistant tie to the backward pick)
    w_b = (
        Window.partitionBy(*keys)
        .orderBy("_ts", F.col("_is_right").cast("int").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # the forward candidate uses a DESCENDING prefix frame, not
    # [currentRow, unboundedFollowing]: Spark recomputes unbounded-
    # FOLLOWING frames from scratch per row — O(n^2) on a hot key
    # (extreme probe axis, r12). Reversing the order exactly
    # ((ts, flag) asc <-> (ts, flag) desc, and Spark's asc NULLS FIRST
    # <-> desc NULLS LAST) makes last() over the reversed prefix the
    # same value in O(n), sharing the exchange with one extra sort.
    w_f = (
        Window.partitionBy(*keys)
        .orderBy(F.col("_ts").desc(), F.col("_is_right").cast("int").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    both = u.select(
        *keys,
        "_ts",
        "_is_right",
        *[c for c in left_cols if c not in keys],
        F.last("_m", ignorenulls=True).over(w_b).alias("_b"),
        F.last("_m", ignorenulls=True).over(w_f).alias("_f"),
    ).filter(~F.col("_is_right"))
    b_ts, f_ts = F.col("_b._m_ts"), F.col("_f._m_ts")
    # ntz-safe: casting BOTH operands in the same session tz shifts them
    # equally, so the integer-microsecond differences are tz-invariant
    def _us(c):
        return F.unix_micros(c.cast("timestamp"))

    d_b = _us(F.col("_ts")) - _us(b_ts)
    d_f = _us(f_ts) - _us(F.col("_ts"))
    pick_b = f_ts.isNull() | (b_ts.isNotNull() & (d_b <= d_f))
    out_cols = [F.col(k) for k in keys] + [
        F.col(c) for c in left_cols if c not in keys
    ]
    fields = ["_m_ts"] + [f"_m_{p}" for p in payload]
    out_cols += [
        F.when(pick_b, F.col(f"_b.{fld}")).otherwise(F.col(f"_f.{fld}")).alias(m)
        for m, fld in zip(matched, fields)
    ]
    out_cols.append(
        F.when(b_ts.isNull() & f_ts.isNull(), F.lit(None).cast("string"))
        .when(pick_b, F.lit("backward"))
        .otherwise(F.lit("forward"))
        .alias("direction")
    )
    return both.select(*out_cols)
