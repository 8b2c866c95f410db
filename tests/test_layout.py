"""Z-order layout: the clustered write must measurably narrow per-file
min/max ranges on BOTH clustering columns (that's what lets footer-stats
pruning skip files for predicates on either one), and the Morton key
must round-trip exactly between engines (oracle parity covers that)."""

from __future__ import annotations

import glob

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from salesdata_engineering_spark.ops.layout import write_zordered, zorder_key


def _avg_file_span(path: str, col: str) -> float:
    """Mean (max-min) of ``col`` across the parquet files under path."""
    spans = []
    for f in glob.glob(f"{path}/*.parquet"):
        meta = pq.ParquetFile(f).metadata
        lo, hi = None, None
        for rg in range(meta.num_row_groups):
            for ci in range(meta.num_columns):
                c = meta.row_group(rg).column(ci)
                if c.path_in_schema == col and c.statistics is not None:
                    lo = c.statistics.min if lo is None else min(lo, c.statistics.min)
                    hi = c.statistics.max if hi is None else max(hi, c.statistics.max)
        if lo is not None:
            spans.append(hi - lo)
    assert spans, f"no stats for {col} under {path}"
    return sum(spans) / len(spans)


def test_zorder_write_narrows_file_ranges(spark, tables, tmp_path):
    o = tables["orders"].select("o_orderkey", "o_custkey", "o_totalprice")
    n_files = 16

    base = str(tmp_path / "plain")
    o.repartition(n_files).write.parquet(base)  # hash layout: every file spans everything
    zord = str(tmp_path / "zordered")
    write_zordered(o, zord, by=["o_custkey", "o_orderkey"], n_files=n_files)

    # identical data either way
    assert spark.read.parquet(zord).count() == o.count()

    for col in ("o_custkey", "o_orderkey"):
        plain_span = _avg_file_span(base, col)
        z_span = _avg_file_span(zord, col)
        # each z-file covers a rectangle of the key space: expect a
        # clear reduction on BOTH dimensions vs hash layout
        assert z_span < plain_span * 0.7, (
            f"{col}: z-order span {z_span:.0f} not < 70% of plain {plain_span:.0f}"
        )


def test_zorder_key_locality(spark):
    """Nearby (a, b) points must map to nearby Morton keys: the key of
    (a, b) and (a, b+1) differ less on average than random pairs."""
    df = spark.range(0, 256).select(
        (F.col("id") % 16).alias("a"), (F.col("id") / 16).cast("long").alias("b")
    )
    keyed = df.select("a", "b", zorder_key(F.col("a"), F.col("b"), 4).alias("z")).collect()
    zmap = {(r.a, r.b): r.z for r in keyed}
    # all 256 keys distinct (bijective on the 4-bit x 4-bit grid)
    assert len(set(zmap.values())) == 256
    assert min(zmap.values()) == 0 and max(zmap.values()) == 255
    # spot-check interleave: a=0b11, b=0b01 -> z = 0b0111
    assert zmap[(3, 1)] == 0b0111


def test_dynamic_partition_overwrite_replaces_only_touched(spark, tmp_path):
    """write_partition_overwrite_dynamic must replace exactly the
    partitions present in the incoming frame: an updated 'b' partition
    changes, the untouched 'a' partition survives byte-for-byte, and
    static mode's whole-table truncation does NOT happen."""
    from salesdata_engineering_spark.io import (
        write_parquet_partitioned,
        write_partition_overwrite_dynamic,
    )

    path = str(tmp_path / "mart")
    base = spark.createDataFrame(
        [("a", 1, 10.0), ("a", 2, 20.0), ("b", 3, 30.0)], "p string, k int, v double"
    )
    write_parquet_partitioned(base, path, ["p"])
    delta = spark.createDataFrame([("b", 3, 99.0), ("b", 4, 40.0)], "p string, k int, v double")
    write_partition_overwrite_dynamic(delta, path, ["p"])
    got = {
        (r.p, r.k): r.v for r in spark.read.parquet(path).collect()
    }
    assert got == {("a", 1): 10.0, ("a", 2): 20.0, ("b", 3): 99.0, ("b", 4): 40.0}
    # conf restored to the caller's default
    assert (
        spark.conf.get("spark.sql.sources.partitionOverwriteMode").upper()
        == "STATIC"
    )


def test_compact_parquet_dir_shrinks_files_keeps_data(spark, tmp_path):
    """Compaction must collapse a many-small-files dir to the computed
    target count while preserving every row, and clean up its scratch
    dirs (the .new/.old swap discipline)."""
    import os

    from salesdata_engineering_spark.ops.layout import compact_parquet_dir

    path = str(tmp_path / "smallfiles")
    spark.range(10_000).repartition(32).write.parquet(path)
    before = [f for f in os.listdir(path) if f.endswith(".parquet")]
    assert len(before) == 32
    n = compact_parquet_dir(spark, path, target_file_bytes=1 << 30)
    assert n == 1
    after = [f for f in os.listdir(path) if f.endswith(".parquet")]
    assert len(after) == 1
    assert spark.read.parquet(path).count() == 10_000
    assert not os.path.exists(path + ".new") and not os.path.exists(path + ".old")


def test_compact_rejects_partitioned_dirs_and_trailing_slash_ok(spark, tmp_path):
    """Partitioned layouts must be refused (flattening would destroy
    pruning); a trailing-slash path must normalize instead of nesting
    scratch dirs inside the table."""
    import os

    import pytest as _pytest

    from salesdata_engineering_spark.ops.layout import compact_parquet_dir

    part = str(tmp_path / "parts")
    spark.createDataFrame([("a", 1), ("b", 2)], "p string, v int").write.partitionBy(
        "p"
    ).parquet(part)
    with _pytest.raises(ValueError, match="partitioned"):
        compact_parquet_dir(spark, part)

    flat = str(tmp_path / "flat")
    spark.range(100).repartition(4).write.parquet(flat)
    n = compact_parquet_dir(spark, flat + "/", target_file_bytes=1 << 30)
    assert n == 1
    assert spark.read.parquet(flat).count() == 100
    assert not os.path.exists(flat + "/.new") and not os.path.exists(flat + ".old")


def test_gen_sf1_scaling_contract(spark, tmp_path, sf_dir):
    """tools/gen_sf1.py at reps=2 over sf0.001: every scaling table
    doubles, fixed dims copy verbatim, replica keys never collide, and
    referential integrity holds — the invariants the bench's sf1
    ratio section rests on."""
    import importlib.util
    import os

    repo = os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))
    )
    spec = importlib.util.spec_from_file_location(
        "gen_sf1", os.path.join(repo, "tools", "gen_sf1.py")
    )
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)
    out = str(tmp_path / "sf2x")
    gen.generate(spark, sf_dir, out, reps=2)

    from salesdata_engineering_spark.datasets import load_tables

    src = load_tables(spark, sf_dir)
    got = load_tables(spark, out)
    for t in ("lineitem", "orders", "customer", "events", "documents", "embeddings"):
        assert got[t].count() == 2 * src[t].count(), t
    for t in ("region", "nation"):
        assert got[t].count() == src[t].count(), t
    # key spaces must not collide across replicas
    assert (
        got["orders"].select("o_orderkey").distinct().count()
        == got["orders"].count()
    )
    # referential integrity survives the shift
    orphans = (
        got["lineitem"]
        .join(
            got["orders"],
            got["lineitem"]["l_orderkey"] == got["orders"]["o_orderkey"],
            "left_anti",
        )
        .count()
    )
    assert orphans == 0


def test_compact_self_heals_interrupted_swap(spark, tmp_path):
    """A crash INSIDE the swap window (live dir renamed to .old, .new
    not yet installed) must be healed at the next call's entry by
    finishing the swap forward — no data loss, no manual recovery
    (ADVICE r6). With only .old left behind, the pre-compaction data
    rolls back instead."""
    import os
    import shutil

    from salesdata_engineering_spark.ops.layout import compact_parquet_dir

    path = str(tmp_path / "t")
    spark.range(5_000).repartition(8).write.parquet(path)

    # simulate the mid-swap crash: .new fully written, live dir at .old
    spark.read.parquet(path).repartition(1).write.parquet(path + ".new")
    os.rename(path, path + ".old")
    assert not os.path.exists(path)
    n = compact_parquet_dir(spark, path, target_file_bytes=1 << 30)
    assert n == 1
    assert spark.read.parquet(path).count() == 5_000
    assert not os.path.exists(path + ".new") and not os.path.exists(path + ".old")

    # rollback variant: only .old survives the crash
    os.rename(path, path + ".old")
    n = compact_parquet_dir(spark, path, target_file_bytes=1 << 30)
    assert n == 1
    assert spark.read.parquet(path).count() == 5_000
    shutil.rmtree(path)


def test_zorder_write_query_reuses_one_scratch_dir(spark, sf_dir):
    """layout_zorder_write keeps one scratch slot per (sf_dir, process):
    two calls leave one zorder_write_* dir, not two."""
    import tempfile

    from salesdata_engineering_spark.registry import QUERIES

    def slots() -> set[str]:
        return set(glob.glob(f"{tempfile.gettempdir()}/zorder_write_*"))

    before = slots()
    QUERIES["layout_zorder_write"].fn(spark, sf_dir)
    after_one = slots()
    out = QUERIES["layout_zorder_write"].fn(spark, sf_dir)
    assert len(after_one - before) <= 1
    assert slots() == after_one
    assert out.count() == 8  # the second call's files, read back
