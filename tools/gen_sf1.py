#!/usr/bin/env python
"""Generate an sf1 dataset (~10x sf0.1, ~6M lineitem rows) for the
scale-ratio benchmark.

The driver ships sf{0.001,0.01,0.1} only; the 100-TB design claims rest
on plan shape plus sf0.1 timings where stage-scheduling latency
dominates (~12 sequential AQE jobs ~= 2 s regardless of data). An sf1
datapoint separates the two regimes empirically: queries whose cost is
scheduling should grow sublinearly from sf0.1 -> sf1, and any query
growing >10x is a real scale bug no sf0.1 number can reveal
(VERDICT round-5 ask #1).

Construction — deterministic key-shifted replication of the READ-ONLY
driver data (never synthesizes new value distributions, so the workload
character is the driver's own):

* ``region``/``nation`` are fixed-size dimensions in TPC-H scaling and
  are copied verbatim.
* Every scaling table is replicated ``REPS`` times; all primary and
  foreign keys shift by ``rep * (max_key + 1)`` so referential
  integrity holds replica-internally and replicas never cross-link —
  sf1 behaves as 10 interleaved independent sf0.1 universes, which is
  exactly the property a scale *ratio* needs (per-key group sizes,
  join fan-outs and bucket depths stay constant while row counts grow
  10x; naive replication without decorrelation would instead grow
  every self-join quadratically in the duplicate count and mislabel
  data-semantics blowup as plan blowup).
* ``documents.text`` gets a per-replica alphabetic suffix on every
  token (replica 0 unchanged): suffixed tokens survive both engine
  tokenizers (the \\s+ split and the BPE-ish alnum split) as single
  tokens, so replica corpora are token-disjoint and shingle/vocab/
  bucket structure replicates instead of deepening 10x.
* ``embeddings.embedding`` is rotated by ``rep`` positions (64-dim):
  norm-preserving, and rotations of high-dimensional vectors are
  near-orthogonal to the originals, so ANN bucket occupancy replicates
  instead of stacking 10 exact duplicates into every bucket.
* Key-derived name columns (``c_name``/``s_name``) are re-derived from
  the shifted key so name-keyed grouping stays 1:1 with the key.

Output layout: multi-file parquet per table (a directory named
``<table>.parquet``, so ``load_tables`` reads it unchanged), sized so
an executor-parallel scan does not depend on spread()'s file-split
compensation. Timestamps are written as standard parquet TIMESTAMP
(micros) — load_tables' nanos restoration is conditional on the
physical type, so both the driver data and this derived data load
through the same path.

Usage: python tools/gen_sf1.py [--src /root/testdata/sf0.1]
                               [--out .data/sf1] [--reps 10]
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from salesdata_engineering_spark.datasets import load_tables
from salesdata_engineering_spark.session import get_spark

#: output files per table — the big facts get one file per core-ish so
#: the sf1 scan parallelizes without relying on row-group splitting
OUT_FILES = {
    "lineitem": 32,
    "orders": 16,
    "events": 16,
    "customer": 4,
    "part": 4,
    "documents": 4,
    "embeddings": 4,
    "supplier": 1,
}


def _rep(df: DataFrame, reps: int) -> DataFrame:
    return df.select(
        "*", F.explode(F.sequence(F.lit(0), F.lit(reps - 1))).alias("rep")
    )


def _shift(col: str, off: int):
    return (F.col(col) + F.col("rep") * F.lit(off)).alias(col)


def _offsets(t: dict[str, DataFrame]) -> dict[str, int]:
    """max_key + 1 per key domain, read from the source (not hardcoded
    so the generator works on any sf)."""
    one = lambda df, c: df.agg(F.max(c)).collect()[0][0] + 1  # noqa: E731
    return {
        "cust": one(t["customer"], "c_custkey"),
        "supp": one(t["supplier"], "s_suppkey"),
        "part": one(t["part"], "p_partkey"),
        "order": one(t["orders"], "o_orderkey"),
        "event": one(t["events"], "event_id"),
        "user": one(t["events"], "user_id"),
        "doc": one(t["documents"], "doc_id"),
        "vec": one(t["embeddings"], "vec_id"),
    }


def build_tables(
    t: dict[str, DataFrame], reps: int
) -> dict[str, DataFrame]:
    off = _offsets(t)
    out: dict[str, DataFrame] = {
        "region": t["region"],
        "nation": t["nation"],
    }
    c = _rep(t["customer"], reps)
    out["customer"] = c.select(
        _shift("c_custkey", off["cust"]),
        F.format_string(
            "Customer#%09d", F.col("c_custkey") + F.col("rep") * off["cust"]
        ).alias("c_name"),
        "c_nationkey",
        "c_acctbal",
        "c_mktsegment",
    )
    s = _rep(t["supplier"], reps)
    out["supplier"] = s.select(
        _shift("s_suppkey", off["supp"]),
        F.format_string(
            "Supplier#%09d", F.col("s_suppkey") + F.col("rep") * off["supp"]
        ).alias("s_name"),
        "s_nationkey",
        "s_acctbal",
    )
    p = _rep(t["part"], reps)
    out["part"] = p.select(
        _shift("p_partkey", off["part"]),
        "p_name",
        "p_brand",
        "p_type",
        "p_size",
        "p_retailprice",
    )
    o = _rep(t["orders"], reps)
    out["orders"] = o.select(
        _shift("o_orderkey", off["order"]),
        _shift("o_custkey", off["cust"]),
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
    )
    li = _rep(t["lineitem"], reps)
    out["lineitem"] = li.select(
        _shift("l_orderkey", off["order"]),
        _shift("l_partkey", off["part"]),
        _shift("l_suppkey", off["supp"]),
        "l_linenumber",
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_tax",
        "l_returnflag",
        "l_linestatus",
        "l_shipdate",
    )
    e = _rep(t["events"], reps)
    out["events"] = e.select(
        _shift("event_id", off["event"]),
        "ts",
        _shift("user_id", off["user"]),
        "event_type",
        "value",
        "props",
    )
    d = _rep(t["documents"], reps)
    # per-replica token suffix: 'b'..'j' for reps 1..9 ([a-z] only, so
    # both tokenizers keep it glued to its token); replica 0 verbatim
    suffix = F.char(F.lit(97) + F.col("rep"))
    perturbed = F.array_join(
        F.transform(
            F.split("text", r"\s+"),
            lambda tok: F.when(tok == "", tok).otherwise(
                F.concat(tok, suffix)
            ),
        ),
        " ",
    )
    out["documents"] = d.select(
        _shift("doc_id", off["doc"]),
        F.when(F.col("rep") == 0, F.col("text"))
        .otherwise(perturbed)
        .alias("text"),
        "lang",
        "source",
        F.length(
            F.when(F.col("rep") == 0, F.col("text")).otherwise(perturbed)
        ).alias("n_chars"),
    )
    em = _rep(t["embeddings"], reps)
    dim = F.size("embedding")
    rotated = F.concat(
        F.slice("embedding", F.col("rep") + 1, dim - F.col("rep")),
        F.slice("embedding", F.lit(1), F.col("rep")),
    )
    out["embeddings"] = em.select(
        _shift("vec_id", off["vec"]),
        rotated.alias("embedding"),
        "label",
    )
    return out


def generate(
    spark: SparkSession, src: str, out_dir: str, reps: int = 10
) -> None:
    t = load_tables(spark, src)
    os.makedirs(out_dir, exist_ok=True)
    for name, df in build_tables(t, reps).items():
        nfiles = OUT_FILES.get(name, 1)
        (df.repartition(nfiles) if nfiles > 1 else df.coalesce(1)).write.mode(
            "overwrite"
        ).parquet(f"{out_dir}/{name}.parquet")


def source_fingerprint(spark: SparkSession, src_dir: str) -> str:
    """Content key for the derived-scale caches: listing metadata of
    every parquet under ``src_dir`` (the marker file itself is excluded
    by the suffix filter) plus the generator source — so a regenerated source
    dataset OR a changed gen_sf1.py invalidates the cache (ADVICE r8: a
    bare isdir check let a stale .data/sf3 survive an sf1 regeneration
    and silently cross-compare datasets)."""
    import hashlib

    from salesdata_engineering_spark.fsops import inventory_fingerprint

    with open(os.path.abspath(__file__), "rb") as fh:
        gen_src = fh.read()
    return hashlib.md5(
        inventory_fingerprint(spark, src_dir, suffix=".parquet").encode() + gen_src
    ).hexdigest()


def ensure_derived(spark: SparkSession, src_dir: str, dst_dir: str, reps: int) -> str:
    """Generate-or-reuse a derived-scale dataset, keyed on the source
    fingerprint: a ``_FINGERPRINT`` marker (written as INCOMPLETE before
    generation, finalized after) must match the current source; any
    mismatch — regenerated source, changed generator, changed reps, or
    a crashed half-generation — deletes the stale cache and
    regenerates. A non-empty directory WITHOUT a marker was not created
    by this tool and is never deleted: a user-supplied
    SPARK_GRAFT_SF1_DIR pointing at hand-maintained data raises instead
    of being rmtree'd.

    Lives here (not in bench.py) since round 14 so that EVERY producer
    of a derived-scale cache — bench.py's sf1/sf3 sections, this tool's
    CLI, and scalecheck runs that pre-generate .data/sf1 — writes the
    same marker. Round 13's driver sf1 section errored out precisely
    because this CLI wrote .data/sf1 bare and bench.py (correctly)
    refused to touch an unmarked directory (VERDICT r13 item 3)."""
    import shutil

    marker = os.path.join(dst_dir, "_FINGERPRINT")
    want = f"{source_fingerprint(spark, src_dir)}:reps={reps}"
    if os.path.isdir(dst_dir):
        if os.path.exists(marker):
            with open(marker) as fh:
                if fh.read() == want:
                    return dst_dir
            # tool-created and stale: delete WITHOUT ignore_errors — a
            # partial deletion followed by regeneration could leave a
            # table gen_sf1 no longer produces lingering under a fresh
            # marker (ADVICE r9); a raise here degrades the sf1/sf3
            # section to its error marker instead
            shutil.rmtree(dst_dir)
        elif os.listdir(dst_dir):
            raise RuntimeError(
                f"{dst_dir} exists without a _FINGERPRINT marker — not "
                "created by bench.py; refusing to delete it. Point "
                "SPARK_GRAFT_SF1_DIR/SF3_DIR elsewhere or remove it "
                "yourself."
            )
    os.makedirs(dst_dir, exist_ok=True)
    with open(marker, "w") as fh:
        fh.write("INCOMPLETE")  # a crash mid-gen must read as stale
    generate(spark, src_dir, dst_dir, reps=reps)
    with open(marker, "w") as fh:
        fh.write(want)
    return dst_dir


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--src", default="/root/testdata/sf0.1")
    ap.add_argument(
        "--out",
        default=os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            ".data",
            "sf1",
        ),
    )
    ap.add_argument("--reps", type=int, default=10)
    args = ap.parse_args()
    spark = get_spark(app_name="gen-sf1")
    ensure_derived(spark, args.src, args.out, args.reps)
    spark.stop()
    print(f"wrote {args.out}")


if __name__ == "__main__":
    main()
