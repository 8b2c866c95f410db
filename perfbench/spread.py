#!/usr/bin/env python3
"""Measure the benchmark's spread: two sets of untraced runs of the same
code, with each set's median and spread (quartile distance over median)
per workload x end-to-end metric, and the ratio of the two medians.

    python3 perfbench/spread.py --runs 10 --out spread.json [--workload etl_daily ...]

Run from the root of a checkout. Set A uses seeds 1..runs and set B
seeds runs+1..2*runs; their runs alternate (A1, B1, A2, B2, ...), so a
slow spell of the machine falls on both sets. One invocation of the
benchmark's command per run, one after the other, with the
``run_seconds`` of ``BENCHMARK.json``.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
import time

sys.path.insert(0, __file__.rsplit("/", 1)[0])

import stats  # noqa: E402


def run_once(bench: dict, workload: str, seed: int) -> dict:
    cmd = bench["command"] + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(bench["run_seconds"]), "--trace", "0"]
    t0 = time.time()
    p = subprocess.run(cmd, capture_output=True, text=True)
    wall = time.time() - t0
    if p.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed}: exit {p.returncode}\n{p.stderr[-3000:]}")
    res = json.loads(p.stdout.strip().splitlines()[-1])
    summ = next(ln for ln in p.stdout.splitlines() if ln.startswith("perfbench summary: "))
    return {"seed": seed, "wall_s": wall, "correct": res["correct"],
            "attempted": res["attempted"], "failed": res["failed"],
            **{k: v["value"] for k, v in res["metrics"].items()},
            "summary": json.loads(summ.split(": ", 1)[1])}


def describe(values: list[float]) -> dict:
    return {"median": stats.median(values), "spread": stats.spread(values), "runs": values}


def main() -> int:
    bench = json.load(open("BENCHMARK.json"))
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workload", action="append")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    workloads = args.workload or [w["name"] for w in bench["workloads"]]
    out = {"run_seconds": bench["run_seconds"], "runs": {}, "workloads": {}}
    for w in workloads:
        sets = {"set_a": [], "set_b": []}
        for j in range(args.runs):
            for name, seed in (("set_a", 1 + j), ("set_b", 1 + args.runs + j)):
                row = run_once(bench, w, seed)
                sets[name].append(row)
                print(json.dumps({"workload": w, "set": name,
                                  **{k: v for k, v in row.items() if k != "summary"}}),
                      flush=True)
        out["runs"][w] = sets
        per_metric = {}
        for m in bench["end_to_end"]:
            a = describe([r[m["name"]] for r in sets["set_a"]])
            b = describe([r[m["name"]] for r in sets["set_b"]])
            per_metric[m["name"]] = {"unit": m["unit"], "bound": m["bound"], "set_a": a,
                                     "set_b": b, "median_ratio": b["median"] / a["median"]}
        out["workloads"][w] = per_metric
        print(json.dumps({w: {k: {"spread_a": v["set_a"]["spread"],
                                  "spread_b": v["set_b"]["spread"],
                                  "median_ratio": v["median_ratio"]}
                              for k, v in per_metric.items()}}), flush=True)
        with open(args.out, "w") as fh:
            json.dump(out, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
