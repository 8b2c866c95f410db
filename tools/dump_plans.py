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
snapshot (``upsert_sink_<tag>.snap``) and of the Z-order write target
(``zorder_write_<tag>``), which hash the pid.

A query with two or more ``count_distinct`` groups plans an ``Expand``
whose groups (and the columns they fill) come in an order that follows
the expression ids the session has already used, and the group ids
(``gid``) its aggregates filter on follow that order. ``normalise``
puts each such ``Expand`` in one canonical order — distinct columns
sorted by name, groups sorted by the column they fill — and renumbers
the gid filters and reorders the gid-carrying attribute lists below it
to match.
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
    (re.compile(r"(zorder_write_)[0-9a-f]{12}"), r"\1<tag>"),
]


_GID_FILTER = re.compile(r"\(gid# = (\d+)\)")


def _split(text: str) -> list[str]:
    """``text`` split at its top-level ``", "`` (not inside brackets)."""
    parts, depth, start = [], 0, 0
    for i, ch in enumerate(text):
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        elif depth == 0 and text.startswith(", ", i):
            parts.append(text[start:i])
            start = i + 2
    return parts + [text[start:]]


def _canonical_args(line: str):
    """An ``Expand``'s ``Arguments: [[group], ...], [outputs]`` line in
    canonical order, the old-to-new gid map and the (old, new) text of
    its distinct-column list; None unless it is a projection list and an
    output list, and the output column ``gid#`` holds integer literals."""
    parts = _split(line[len("Arguments: ") :])
    cols = _split(parts[-1][1:-1])
    if len(parts) != 2 or "gid#" not in cols:
        return None
    g = cols.index("gid#")  # the distinct columns come before it
    rows = [_split(r[1:-1]) for r in _split(parts[0][1:-1])]
    if not all(len(r) == len(cols) and r[g].isdigit() for r in rows):
        return None
    perm = sorted(range(g), key=cols.__getitem__)
    rows = [[r[i] for i in perm] + r[g:] for r in rows]
    rows.sort(key=lambda r: (r[g] != "0", [x == "null" for x in r[:g]], r))
    new = sorted((r[g] for r in rows), key=int)
    gids = {r[g]: n for r, n in zip(rows, new)}
    for r, n in zip(rows, new):
        r[g] = n
    canon = [cols[i] for i in perm] + cols[g:]
    body = ", ".join(f"[{', '.join(r)}]" for r in rows)
    swap = (", ".join(cols[:g]), ", ".join(canon[:g]))
    return f"Arguments: [{body}], [{', '.join(canon)}]", gids, swap


def _canonical_expand(plan: str) -> str:
    """Put every distinct-aggregate ``Expand`` (one whose output carries
    ``gid#``) in canonical order: distinct columns sorted by name,
    groups sorted by the columns they fill (the gid-0 group first), gids
    renumbered in that order. Below it, until the next such ``Expand``,
    the ``gid# = N`` filters take the new numbers and the lines that
    carry ``gid#`` list the distinct columns in the new order."""
    out, gids, swap = [], {}, ("", "")
    for line in plan.split("\n"):
        canon = line.startswith("Arguments: [[") and _canonical_args(line)
        if canon:
            line, gids, swap = canon
        elif gids:
            line = _GID_FILTER.sub(lambda m: f"(gid# = {gids.get(m[1], m[1])})", line)
            if swap[0] != swap[1] and "gid#" in line:
                line = line.replace(*swap)
        out.append(line)
    return "\n".join(out)


def normalise(plan: str) -> str:
    for pat, rep in _NORMALISE:
        plan = pat.sub(rep, plan)
    return _canonical_expand(plan)


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
