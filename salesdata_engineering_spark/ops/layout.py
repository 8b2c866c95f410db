"""Data-layout clustering: Z-order (Morton) keys for multi-column skips.

Partitioning prunes on ONE leading column; bucketing co-locates ONE join
key. When scans filter on TWO independent columns (store AND month,
customer AND date), neither layout helps the second column. Z-ordering
sorts by the interleaved bits of both columns, so each parquet file
covers a small rectangle of the (a, b) space — min/max footer stats then
skip most files for predicates on EITHER column. This is the layout tool
Delta/Iceberg expose as ``OPTIMIZE ... ZORDER BY``; here it is a plain
column expression + a range-partitioned sorted write, so it works on
vanilla parquet.

The key is deterministic bit math (shifts/masks), expressed identically
in Spark and DuckDB — oracle-checkable like any scalar.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def zorder_key(a: Column, b: Column, bits: int = 16) -> Column:
    """Morton interleave of the low ``bits`` bits of two non-negative ints.

    Result bit 2i is bit i of ``a``; bit 2i+1 is bit i of ``b``. Inputs
    are masked to ``bits`` first. Disjoint result bits mean the combine
    can use ``+`` (carry-free), which both Spark and DuckDB evaluate
    identically on BIGINT.
    """
    mask = (1 << bits) - 1
    am = (a.cast("long")).bitwiseAND(F.lit(mask))
    bm = (b.cast("long")).bitwiseAND(F.lit(mask))
    key = F.lit(0).cast("long")
    for i in range(bits):
        key = key + F.shiftleft(F.shiftright(am, i).bitwiseAND(F.lit(1)), 2 * i)
        key = key + F.shiftleft(F.shiftright(bm, i).bitwiseAND(F.lit(1)), 2 * i + 1)
    return key


def zorder_sql(a: str, b: str, bits: int = 16) -> str:
    """The identical Morton key as engine-portable SQL text."""
    mask = (1 << bits) - 1
    terms = []
    # every term fully parenthesized: DuckDB gives + higher precedence
    # than << (C-style), so a bare `x << 0 + y << 1` chain mis-parses
    for i in range(bits):
        terms.append(f"(((({a} & {mask}) >> {i}) & 1) << {2 * i})")
        terms.append(f"(((({b} & {mask}) >> {i}) & 1) << {2 * i + 1})")
    return "(" + " + ".join(terms) + ")"


def write_zordered(
    df: DataFrame,
    path: str,
    by: Sequence[str],
    n_files: int,
    bits: int = 8,
    mode: str = "overwrite",
) -> None:
    """Write parquet clustered on the Z-order of two columns.

    Raw column bits interleave badly when cardinalities differ (a column
    spanning 2^8 values contributes nothing to the key's top bits next
    to one spanning 2^13, so range-splitting degenerates to sorting by
    the wide column alone). So each column is first normalized to
    ``bits`` equal-width buckets over its actual [min, max] — one cheap
    min/max aggregate — and the BUCKET indices interleave. (Delta's
    OPTIMIZE ZORDER does the same with range-rank; width buckets avoid
    the per-column sort and are fine for roughly uniform keys.)

    repartitionByRange on the key gives each output file a contiguous
    Morton range (a small rectangle in (a, b) space); the within-file
    sort tightens row-group stats too. Readers need no special support —
    plain min/max footer pruning on either column skips files.
    """
    if len(by) != 2:
        raise ValueError("zorder layout takes exactly two clustering columns")
    stats = df.agg(
        *[F.min(c).alias(f"_min_{c}") for c in by],
        *[F.max(c).alias(f"_max_{c}") for c in by],
    ).first()
    n_buckets = 1 << bits

    def bucket(c: str) -> Column:
        lo, hi = stats[f"_min_{c}"], stats[f"_max_{c}"]
        if lo is None:
            # min/max are NULL both for EMPTY input (no rows written;
            # the constant satisfies the range partitioner) and for a
            # non-empty input whose column is ALL NULL (ADVICE r10) —
            # rows ARE written then, with this column degraded to a
            # constant-0 contribution so clustering by the OTHER
            # column still works instead of every z-key going NULL
            lo = hi = 0
        span = max(int(hi) - int(lo) + 1, 1)
        # NULL values (all-NULL column, or NULL rows of a partly-NULL
        # one) bucket to 0: a NULL bucket would NULL the whole
        # interleaved key and collapse range-splitting for those rows
        return F.coalesce(
            F.least(
                ((F.col(c) - F.lit(int(lo))) * n_buckets / F.lit(span)).cast("long"),
                F.lit(n_buckets - 1),
            ),
            F.lit(0),
        )

    key = zorder_key(bucket(by[0]), bucket(by[1]), bits)
    (
        df.withColumn("_zkey", key)
        .repartitionByRange(n_files, "_zkey")
        .sortWithinPartitions("_zkey")
        .drop("_zkey")
        .write.mode(mode)
        .parquet(path)
    )


def compact_parquet_dir(
    spark,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """OPTIMIZE-style small-files compaction: rewrite a parquet
    directory into ~size/target files and swap it in place; returns the
    new file count.

    Small files are the silent killer of 100 TB scans (per-file open
    cost, starved vectorized readers, NameNode/listing pressure); every
    streaming sink and per-batch writer produces them. The rewrite is
    one read -> repartition(ceil(bytes/target)) -> write to
    ``fsops.staged(path)``, published by :func:`..fsops.swap_in`; a crash inside
    a previous call's swap is finished or rolled back at entry by
    :func:`..fsops.recover_swap`. Byte size comes from the FileSystem
    listing, so the helper works on any Hadoop FS URI.

    FLAT directories only: a hive-partitioned dir (key= subdirs) is
    rejected with ValueError rather than silently flattened — a naive
    rewrite would fold the partition keys into data columns and
    destroy partition pruning for every downstream reader; compact a
    partitioned table per-partition (each leaf dir through this same
    helper)."""
    import math

    from ..fsops import fs_list, recover_swap, staged, swap_in

    recover_swap(spark, path)
    entries = fs_list(spark, path)
    subdirs = [e.name for e in entries if e.is_dir]
    if subdirs:
        raise ValueError(
            f"compact_parquet_dir: {path} contains subdirectories "
            f"({subdirs[:3]}...) — refusing to flatten a partitioned "
            "layout; compact each leaf partition directory instead"
        )
    total = sum(e.size for e in entries)
    n_files = max(1, math.ceil(total / target_file_bytes))
    df = spark.read.parquet(path)
    df.repartition(n_files).write.mode("overwrite").parquet(staged(path))
    swap_in(spark, path)
    return n_files
