"""Global total-order numbering, running sums, ntiles and dense
re-keying (SURVEY §2.6).

Scale note: ``orderBy`` is a global range-partitioned sort — fine for
final small outputs, wrong for intermediate 100 TB frames. ``limit``
after ``orderBy`` is optimized by Spark into TakeOrderedAndProject (a
per-partition top-k + driver merge, no full sort) — that's the idiom for
global top-k, called directly on the DataFrame.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _order_cols(
    order: list[Column | str], directions: list[str] | None
) -> list[Column]:
    """Engine ordering convention for the total-order helpers: every
    key is NULLS LAST in BOTH directions. ``asc`` maps to
    ``asc_nulls_last`` (Spark's implicit asc is NULLS FIRST and forks
    from the SQL-default oracle ordering on mixed-NULL keys — see
    ops/windows.py asc_nulls_last); ``desc`` maps to
    ``desc_nulls_last``, which IS Spark's ``.desc()`` default and
    DuckDB's default, so a descending key needs no convention shim.
    ``directions`` is positional (``"asc"``/``"desc"`` per key),
    default all-ascending — the pre-r14 behavior, unchanged for every
    existing caller."""
    cols = [F.col(c) if isinstance(c, str) else c for c in order]
    if directions is None:
        directions = ["asc"] * len(cols)
    if len(directions) != len(cols):
        raise ValueError(
            f"directions has {len(directions)} entries for {len(cols)} keys"
        )
    return [
        c.desc_nulls_last() if d == "desc" else c.asc_nulls_last()
        for c, d in zip(cols, directions)
    ]


def _ranged(
    df: DataFrame, cols: list[Column], n_parts: int | None, persist_key: str
):
    """The first pass shared by the two-pass helpers: ``df``
    range-partitioned into ``n_parts`` (default: the session's
    ``defaultParallelism``) by ``cols``, sorted within each partition
    and tagged with its ``_pid``, swap-persisted under ``persist_key``;
    plus ``w_off``, the window over every EARLIER partition that turns
    per-partition totals into offsets."""
    from ..ext.caching import swap_persist

    parts = n_parts or df.sparkSession.sparkContext.defaultParallelism
    ranged = swap_persist(
        persist_key,
        df.repartitionByRange(parts, *cols)
        .sortWithinPartitions(*cols)
        .withColumn("_pid", F.spark_partition_id()),
    )
    w_off = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    return ranged, w_off


def global_row_number(
    df: DataFrame,
    order: list[Column | str],
    alias: str = "rn",
    n_parts: int | None = None,
    persist_key: str = "global_row_number",
    directions: list[str] | None = None,
) -> DataFrame:
    """Global contiguous 1-based row numbering by a TOTAL order — the
    sharding primitive of a training-data pipeline (deterministic
    example/shard ids over a corpus) — WITHOUT the single-partition
    window that ``row_number() OVER (ORDER BY ...)`` plans naively.

    The naive form funnels the whole dataset through ONE task (Spark
    warns `No Partition Defined for Window operation`); at 100 TB that
    is the job. This uses the classic two-pass offset scheme instead:

    1. range-partition + sort by the order (the same machinery a global
       sort uses — each partition holds a contiguous key range),
    2. count rows per partition (tiny: n_parts rows) and prefix-sum
       those counts into per-partition offsets on the driver-side-tiny
       frame (its window IS single-partition — over n_parts rows),
    3. number rows within each partition and add the broadcast offset.

    ``order`` entries must be PLAIN columns or names — no ``.desc()``/
    ``.asc()`` direction: the helper imposes the engine ordering
    convention (NULLS LAST in both directions — see :func:`_order_cols`)
    on every key, and a direction already attached to a passed Column
    would be silently overridden; pass ``directions`` (positional
    ``"asc"``/``"desc"`` per key, default all-asc) for descending
    keys. Note the asc convention therefore diverges from the naive
    ``row_number() OVER (ORDER BY ...)`` on NULL keys, whose Spark
    default is ascending NULLS FIRST; on NULL-free keys the two are
    equal for any TOTAL order (ties would make both forms
    nondeterministic — pass a tie-breaking key).
    The partitioned frame is swap-persisted (ext/caching.py): both the
    counts pass and the numbering pass read it, and without the cut
    the range sort runs twice — while a BARE persist here would leak
    one data-sized cache entry per invocation for the session's
    lifetime. Cost: one range exchange + one tiny aggregate — the same
    price as ``orderBy``, and every stage is 100 TB-parallel."""
    cols = _order_cols(order, directions)
    ranged, w_off = _ranged(df, cols, n_parts, persist_key)
    counts = ranged.groupBy("_pid").count()
    offsets = counts.withColumn(
        "_off", F.coalesce(F.sum("count").over(w_off), F.lit(0))
    ).select("_pid", "_off")
    w_in = Window.partitionBy("_pid").orderBy(*cols)
    return (
        ranged.join(F.broadcast(offsets), "_pid")
        .withColumn(alias, F.row_number().over(w_in) + F.col("_off"))
        .drop("_pid", "_off")
    )


def global_cumsum(
    df: DataFrame,
    order: list[Column | str],
    value: str,
    alias: str = "cum",
    n_parts: int | None = None,
    persist_key: str = "global_cumsum",
    directions: list[str] | None = None,
) -> DataFrame:
    """Running sum of ``value`` over a TOTAL order — the same two-pass
    offset scheme as :func:`global_row_number`, for cumulative SUMS:
    a bare ``sum().over(Window.orderBy(...))`` funnels the whole frame
    through one task, which is fine for a 50-row histogram and a scale
    bug for a near-unique one. Range-partition by the order, prefix-sum
    the tiny per-partition totals, add the broadcast offset to the
    partition-local running sum. Pass a distinct ``persist_key`` per
    concurrent use inside one query (swap_persist keeps ONE live frame
    per key)."""
    return global_cumsum_multi(
        df, order, {alias: value}, n_parts=n_parts, persist_key=persist_key,
        directions=directions,
    )


def global_cumsum_multi(
    df: DataFrame,
    order: list[Column | str],
    values: dict[str, str],
    n_parts: int | None = None,
    persist_key: str = "global_cumsum_multi",
    directions: list[str] | None = None,
) -> DataFrame:
    """Several running sums (``{alias: value_col}``) over ONE shared
    total order, in one two-pass pipeline: one range exchange, one tiny
    per-partition totals frame carrying every column, one broadcast of
    the offsets. Two-sample statistics (KS distance, rank sums) need
    two parallel ECDF cumulations over the same value histogram —
    calling :func:`global_cumsum` per column would range-shuffle the
    histogram once per statistic."""
    cols = _order_cols(order, directions)
    ranged, w_off = _ranged(df, cols, n_parts, persist_key)
    totals = ranged.groupBy("_pid").agg(
        *[F.sum(v).alias(f"_t_{a}") for a, v in values.items()]
    )
    offsets = totals.select(
        "_pid",
        *[
            F.coalesce(F.sum(f"_t_{a}").over(w_off), F.lit(0)).alias(f"_off_{a}")
            for a in values
        ],
    )
    w_in = (
        Window.partitionBy("_pid")
        .orderBy(*cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = ranged.join(F.broadcast(offsets), "_pid")
    for a, v in values.items():
        out = out.withColumn(a, F.sum(v).over(w_in) + F.col(f"_off_{a}"))
    return out.drop("_pid", *[f"_off_{a}" for a in values])


def global_ntile(
    df: DataFrame,
    order: list[Column | str],
    n_tiles: int,
    alias: str = "tile",
    persist_key: str = "global_ntile",
    directions: list[str] | None = None,
) -> DataFrame:
    """``ntile(n)`` over a TOTAL order without the single-task global
    window: reproduce ntile's exact tiling arithmetic (the first
    ``n mod n_tiles`` tiles get one extra row — the SQL standard) on
    the two-pass range-partitioned rank of :func:`global_row_number`.
    Equal to the naive ``ntile(n) OVER (ORDER BY ...)`` for any total
    order; pass a tie-breaking key, as with every total-order helper
    here.

    r14: inlines the two-pass scheme instead of composing
    global_row_number + a separate count + a crossJoin — the total row
    count is just the SUM of the same tiny per-partition counts frame
    the offsets come from, so one n_parts-row aggregate and ONE
    broadcast now carry both (measured: 3 fewer jobs per call; the
    three-quintile RFM query runs one driver-blocking job per ntile
    instead of three)."""
    cols = _order_cols(order, directions)
    ranged, w_off = _ranged(df, cols, None, persist_key)
    counts = ranged.groupBy("_pid").count()
    w_tot = Window.orderBy("_pid").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    offsets = counts.select(
        "_pid",
        F.coalesce(F.sum("count").over(w_off), F.lit(0)).alias("_off"),
        F.sum("count").over(w_tot).alias("_gn_n"),
    )
    w_in = Window.partitionBy("_pid").orderBy(*cols)
    rn = ranged.join(F.broadcast(offsets), "_pid").withColumn(
        "_gn_rn", F.row_number().over(w_in) + F.col("_off")
    )
    base = F.floor(F.col("_gn_n") / n_tiles)
    r = F.col("_gn_n") % n_tiles
    cut = r * (base + 1)
    tile = (
        F.when(base == 0, F.col("_gn_rn"))
        .when(
            F.col("_gn_rn") <= cut,
            F.floor((F.col("_gn_rn") - 1) / (base + 1)) + 1,
        )
        .otherwise(r + F.floor((F.col("_gn_rn") - cut - 1) / base) + 1)
    )
    return rn.withColumn(alias, tile.cast("int")).drop(
        "_pid", "_off", "_gn_rn", "_gn_n"
    )


def rekey_dense(
    df: DataFrame,
    id_col: str,
    order: list[Column | str] | None = None,
    orig_alias: str | None = None,
    n_parts: int | None = None,
    persist_key: str = "rekey_dense",
) -> DataFrame:
    """Re-key ``id_col`` to a DENSE 0-based contiguous integer id space
    (ids 0..N-1) over a deterministic total order — the missing half of
    the PQ/ANN dense-id precondition (ext/similarity.py _pq_codebooks,
    ext/sampling.py negative_pair_sample raise "Re-key the corpus
    first"; this is the operator that does it, VERDICT r11 item 1).

    Gapped id spaces are what real intake produces: the NULL-vector
    hygiene filter (registry_ext._embs_nn) gaps a previously dense
    corpus, upstream deletes gap it further, and federated/offset
    sources never were dense. Built on :func:`global_row_number`'s
    two-pass range-partitioned numbering, so every stage is
    100 TB-parallel (no single-task global window).

    * ``order`` defaults to ``[id_col]`` — deterministic whenever ids
      are unique (the gapped/offset case). With DUPLICATED ids pass a
      tie-breaking key; identical full-row duplicates need none (any
      assignment among equal rows yields the same frame).
    * The original id survives in ``orig_alias`` (default
      ``_orig_<id_col>``) so results computed in the dense space can be
      mapped back — the frame IS its own old→new mapping.
    * The new ids keep the original column's integral dtype when it is
      one, else BIGINT, so downstream schemas stay stable. When the
      row count exceeds that narrow dtype's range (possible: the
      function explicitly supports DUPLICATED ids, so N can exceed the
      id domain), the cast would wrap silently under non-ANSI Spark —
      minting duplicate "dense" ids, the exact corruption the dense-id
      precondition exists to prevent (ADVICE r12). Overflowing rows
      therefore raise loudly via a guarded ``raise_error`` instead.
    """
    from pyspark.sql import types as T

    order = list(order) if order is not None else [id_col]
    orig = orig_alias or f"_orig_{id_col}"
    dtype = df.schema[id_col].dataType
    _DTYPE_MAX = {T.ByteType: 127, T.ShortType: 32767, T.IntegerType: 2147483647}
    if not isinstance(
        dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    ):
        dtype = T.LongType()
    numbered = global_row_number(
        df, order, alias="_rk_rn", n_parts=n_parts, persist_key=persist_key
    )
    dense = F.col("_rk_rn") - 1
    if type(dtype) in _DTYPE_MAX:
        dense = F.when(
            dense <= F.lit(_DTYPE_MAX[type(dtype)]),
            dense.cast(dtype),
        ).otherwise(
            F.raise_error(
                F.lit(
                    f"rekey_dense: row count exceeds the range of the "
                    f"original id dtype {dtype.simpleString()} — a cast "
                    f"would wrap into duplicate 'dense' ids. Widen "
                    f"'{id_col}' (e.g. .cast('long')) before rekeying."
                )
            )
        )
    else:
        dense = dense.cast(dtype)
    return (
        numbered.withColumnRenamed(id_col, orig)
        .withColumn(id_col, dense)
        .drop("_rk_rn")
    )
