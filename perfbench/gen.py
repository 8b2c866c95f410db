"""Seeded inputs for the benchmark.

The tables are the engine's own test data, a copy of the sf0.01 set
kept under ``perfbench/data`` (``DATA_DIR``), read as they are. What a
run varies comes from ``--seed`` and is derived here:

* ``write_landing_drops`` — daily CSV drops in the reference's sales
  shape, cut from ``datasets.CANONICAL_SALES_SQL`` on DuckDB so no Spark
  time is spent generating them. A seeded share of files carries the
  extra ``payment_mode`` column, another seeded share lacks ``store_id``.
* ``ann_vectors`` — query and append vectors for the ANN ops.

All randomness comes from one ``numpy.random.Generator`` per purpose,
seeded from (seed, purpose), so adding a purpose never shifts another's
stream.
"""

from __future__ import annotations

import os
import zlib
from dataclasses import dataclass

import numpy as np
import pandas as pd

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")


def rng(seed: int, purpose: str) -> np.random.Generator:
    return np.random.default_rng([seed, zlib.crc32(purpose.encode())])


# ---------------------------------------------------------------------------
# etl_daily: landing drops
# ---------------------------------------------------------------------------

SALES_COLUMNS = [
    "customer_id", "store_id", "product_name", "sales_date",
    "sales_person_id", "price", "quantity", "total_cost",
]


@dataclass(frozen=True)
class DropFile:
    path: str  # relative to the landing directory
    rows: int
    variant: str  # "plain" | "extra" (payment_mode) | "missing" (no store_id)


def write_landing_drops(
    sf_dir: str,
    out_dir: str,
    seed: int,
    *,
    n_drops: int,
    files_per_drop: int,
    rows_per_file: int,
    extra_share: float,
    missing_share: float,
) -> list[list[DropFile]]:
    """Write ``n_drops`` drop directories of equal-size daily CSVs.

    A drop is a window of consecutive sales dates inside one month: its
    rows are a run of the canonical sales fact over the tables in
    ``sf_dir``, sorted by date, at a seeded month and offset, shuffled
    across the drop's files. Every drop has the same number of files of
    each variant (``missing_share`` of them lack ``store_id``, at least
    one; ``extra_share`` carry ``payment_mode``), in seeded positions, so
    every cycle does the same work: publish one month of both marts and
    reject the same number of files. File paths are relative to
    ``out_dir``, so a copy of it can be ingested instead.
    """
    import duckdb

    from salesdata_engineering_spark.datasets import CANONICAL_SALES_SQL

    g = rng(seed, "landing")
    con = duckdb.connect()
    for t in ("lineitem", "orders", "customer"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    cols = ", ".join(f"CAST({c} AS VARCHAR) AS {c}" if c in ("price", "total_cost") else c
                     for c in SALES_COLUMNS)
    con.execute(f"""CREATE TABLE fact AS
        SELECT row_number() OVER (ORDER BY sales_date, customer_id, sales_person_id,
                                           product_name, total_cost) - 1 AS rn, {cols}
        FROM ({CANONICAL_SALES_SQL})""")
    per_drop = files_per_drop * rows_per_file
    # windows that stay inside one month: (first rn, last possible start)
    months = con.execute(f"""
        SELECT min(rn), max(rn) - {per_drop} + 1 FROM fact
        GROUP BY substr(sales_date, 1, 7) HAVING count(*) >= {per_drop}
        ORDER BY 1""").fetchall()
    if not months:
        raise ValueError(f"no month of the fact holds a {per_drop}-row drop")
    n_missing = max(1, round(missing_share * files_per_drop))
    n_extra = round(extra_share * files_per_drop)
    if n_missing + n_extra >= files_per_drop:
        raise ValueError("a drop needs at least one plain file")

    drops = []
    for d in range(n_drops):
        lo, hi = months[int(g.integers(0, len(months)))]
        start = int(g.integers(lo, hi + 1))
        rows = con.execute(f"SELECT {', '.join(SALES_COLUMNS)} FROM fact WHERE rn >= {start} "
                           f"AND rn < {start + per_drop} ORDER BY rn").df()
        rows = rows.iloc[g.permutation(per_drop)].reset_index(drop=True)
        ddir = os.path.join(out_dir, f"drop_{d:03d}")
        os.makedirs(ddir)
        variants = g.permutation(
            ["missing"] * n_missing + ["extra"] * n_extra
            + ["plain"] * (files_per_drop - n_missing - n_extra))
        files = []
        for f, variant in enumerate(variants):
            chunk = rows.iloc[f * rows_per_file:(f + 1) * rows_per_file].copy()
            if variant == "extra":
                chunk["payment_mode"] = np.array(["card", "cash", "upi"])[
                    g.integers(0, 3, len(chunk))]
            elif variant == "missing":
                chunk = chunk.drop(columns=["store_id"])
            name = f"sales_{d:03d}_{f:02d}.csv"
            chunk.to_csv(os.path.join(ddir, name), index=False)
            files.append(DropFile(f"drop_{d:03d}/{name}", len(chunk), str(variant)))
        drops.append(files)
    return drops


# ---------------------------------------------------------------------------
# ann_serve: query and append vectors
# ---------------------------------------------------------------------------


def ann_vectors(corpus: np.ndarray, seed: int, n: int, first_id: int, purpose: str) -> pd.DataFrame:
    """``n`` new vectors near random corpus members, ids from ``first_id``.

    Perturbed corpus members, so the queries have real near neighbours
    and appended vectors land in populated cells."""
    g = rng(seed, purpose)
    base = corpus[g.integers(0, len(corpus), n)].astype(np.float64)
    v = base + 0.35 * g.normal(size=base.shape) / np.sqrt(base.shape[1])
    v = v / np.linalg.norm(v, axis=1, keepdims=True)
    return pd.DataFrame({"vec_id": np.arange(first_id, first_id + n, dtype=np.int64),
                         "embedding": [list(map(float, r)) for r in v]})
