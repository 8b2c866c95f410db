#!/usr/bin/env python
"""Dump .explain("formatted") for registry queries to plans/<tag>/.

Usage: python tools/dump_plans.py --tag r14 --suffix before q1 q2 ...
       python tools/dump_plans.py --tag r14 --suffix before --headline

Writes plans/<tag>/<query>_<suffix>.txt — the optimization-round
evidence files, readable against the code without running Spark.
Plans are captured lazily (no execution) except where a query's fn
itself materializes an artifact (e.g. the persisted ANN index ensure
path), which runs as it would in the bench.

Session-specific tokens (expression ids, plan ids, lambda variable
suffixes, RDD ids and call sites, LogicalRDD attribute lists) are
normalised away before writing, so two dumps of unchanged code in two
fresh sessions diff clean and a refactor can be checked plan-identical
with a plain ``diff``. So is the persisted index's cache key, which
hashes the build code's source and so differs between any two
versions of it, the per-process temp-dir tag of the upsert-sink
snapshot (``upsert_sink_<tag>.snap``), which hashes the pid, and the
random ``mkdtemp`` suffix of the Z-order write target
(``zorder_write_<tag>``).
"""

from __future__ import annotations

import argparse
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from salesdata_engineering_spark.registry import QUERIES  # noqa: E402
from salesdata_engineering_spark.session import get_spark  # noqa: E402

#: (pattern, replacement) pairs applied in order to every dumped plan.
_NORMALISE = [
    (re.compile(r"#\d+L?"), "#"),
    (re.compile(r"\[plan_id=\d+\]"), ""),
    (re.compile(r"(lambda [a-z]+)_\d+"), r"\1"),
    (re.compile(r"(ExistingRDD|LogicalRDD)\[[^\]]*\]"), r"\1"),
    (re.compile(r"\w*RDD\[\d+\]"), "RDD"),
    (re.compile(r"at \w+ at [\w.]+:\d+"), ""),
    (re.compile(r"(ivf_pq_(?:app_)?)[0-9a-f]{8}_[0-9a-f]{16}"), r"\1<key>"),
    (re.compile(r"(upsert_sink_)[0-9a-f]{12}"), r"\1<tag>"),
    (re.compile(r"(zorder_write_)[a-z0-9_]{8}"), r"\1<tag>"),
]


def normalise(plan: str) -> str:
    for pat, rep in _NORMALISE:
        plan = pat.sub(rep, plan)
    return plan


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--tag", default="r14")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument(
        "--headline", action="store_true", help="add every bench headline query"
    )
    args = ap.parse_args()

    names = list(args.names)
    if args.headline:
        import importlib.util

        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        spec = importlib.util.spec_from_file_location(
            "bench_mod", os.path.join(repo, "bench.py")
        )
        bench = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(bench)
        hl = [n for n in bench.HEADLINE if n in QUERIES]
        hl += [n for n in QUERIES if n not in hl and QUERIES[n].bench]
        names += [n for n in hl if n not in names]
    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out_dir = os.path.join(repo, "plans", args.tag)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name="dump-plans")
    for name in names:
        path = os.path.join(out_dir, f"{name}_{args.suffix}.txt")
        try:
            df = QUERIES[name].fn(spark, args.sf_dir)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
        except Exception as exc:  # keep going; record the failure
            plan = f"PLAN CAPTURE FAILED: {exc!r}\n"
        with open(path, "w") as fh:
            fh.write(normalise(plan))
        print(f"wrote {path}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
