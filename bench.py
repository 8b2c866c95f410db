#!/usr/bin/env python
"""Headline-query benchmark.

Runs the engine's headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
COMPACT JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "extras": {name: sec}, "sf1": summary,
"sf3": summary, "env": co-load markers, "sf": ...}.
"extras" (end-to-end pipeline, layout controls) are timed identically but
kept out of the headline total so "value" compares round-over-round.
The full record — including the per-query sf1/sf3 timings/ratios/spreads —
goes to BENCH_DETAIL.json (scratch; BENCH_LOCAL.json when publishing) and stderr, NOT stdout: the driver retains only
a bounded tail of stdout, and round 6's inlined sf1 block pushed the
line's head past it (BENCH_r06 `parsed: null`). See the output-protocol
comment in main().

Round-8 additions (VERDICT r7 items 1/5/6):
* ``env`` — loadavg + fixed-work calibration probes at every section
  boundary, so co-load is machine-readable IN the artifact.
* ``sf3`` — a 3x depth rung above sf1 for the 10 queries with the
  largest sf1 medians (ratio 3.0 = linear).
* ``--ab q1,q2`` — interleaved A/B mode for regression classification.

Round-9 additions (VERDICT r8 items 4/6 + ADVICE):
* sf3 is median-of-2 by default with recorded spread and a min-vs-min
  ratio, so official sf3 ratios self-classify instead of needing
  post-hoc A/B repair.
* ``streaming_sf1`` — a streaming rung: two registered streaming
  queries drained over the sf1 directory-layout events table plus a
  maxFilesPerTrigger-paced multi-micro-batch probe, with throughput.
* the .data/sf1 and .data/sf3 caches are keyed on a ``_FINGERPRINT``
  of the source data + generator, so a regenerated source can never
  silently serve a stale derived dataset.

Each query is forced end-to-end with a noop write (full computation, no
driver collect cost). A warmup query first amortizes JVM/codegen startup
out of the numbers. Each query is timed ``$SPARK_GRAFT_BENCH_RUNS``
times (default 3) and the MEDIAN is reported: single-run timings on a
shared machine showed ~35% co-load noise in round 2 (sales_team_mart
recorded 4.45 s vs 2.7-3.3 s on re-measurement), so round-over-round
deltas on ~1 s queries were unreliable.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from salesdata_engineering_spark.registry import QUERIES  # noqa: E402
from salesdata_engineering_spark.session import get_spark  # noqa: E402

HEADLINE = [
    "sales_team_mart",
    "customer_mart",
    "pricing_summary",
    "filter_range_revenue",
    "join_star_enrich",
    "topk_suppliers_per_nation",
    "window_running_total",
    # temporal joins + LLM-pipeline ops (VERDICT r1 next-round #7)
    "asof_click_purchase",
    "interval_join_click_error",
    "text_pii_scrub",
    "corpus_curation_pipeline",
    # round-4 additions: repetition gate, contamination scan, packing
    "text_repetition_score",
    "contamination_ngram_overlap",
    "pack_training_sequences",
]


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def probe_env(spark) -> dict:
    """Machine-readable co-load marker (VERDICT r7 item 1).

    Two independent signals, sampled at section boundaries so the
    artifact itself carries the load context instead of it being
    re-litigated each round:

    * ``load1`` — 1-minute os.getloadavg(). On this box idle ≈ the
      engine's own Spark threads; values far above ncpus during a
      section mean an external co-tenant was competing for cores.
    * ``calib_sec`` — wall time of a FIXED data-independent probe
      (sum over a generated 200M range, pure JVM whole-stage codegen,
      32 fixed input slices, no shuffle, no I/O). Identical work every
      sample, so any drift between samples is scheduling noise or
      co-load by construction — the per-round comparison baseline the
      r6/r7 post-hoc repairs lacked. The probe's own JIT warm-up
      (observed 0.47 s -> 0.12 s over cold samples) would read as
      phantom load DECAY across markers, so the first call runs three
      UNTIMED passes and every marker reports the median of three
      timed passes — a genuine co-load episode lasting seconds hits
      all three, while residual single-pass JIT/GC outliers are
      trimmed.

    The probe drains ENGINE-internal JVM pressure first (System.gc():
    full collection + the weak-ref ContextCleaner sweep of dropped
    broadcasts/shuffles): r10's tick-25 calib spike reproduced 3/3
    runs right after the ANN index block — accumulated old-gen debt
    from the heaviest query family, not co-tenancy — and permanently
    flagged the following 10-query window suspect (VERDICT r10 item
    2). The probe's contract is "identical work, so drift == external
    load"; engine GC debt broke that contract, so it is collected
    OUTSIDE the timed passes. External co-tenants are untouched by
    our GC and still show.
    """
    try:
        spark.sparkContext._jvm.System.gc()
    except Exception:
        pass  # stubbed/py4j-less session: probe still measures fine
    run = lambda: (  # noqa: E731
        spark.range(0, 200_000_000, 1, 32).selectExpr("sum(id % 7) AS s").collect()
    )
    if not getattr(probe_env, "_warmed", False):
        run(), run(), run()
        probe_env._warmed = True
    ts = []
    for _ in range(3):
        t0 = time.perf_counter()
        run()
        ts.append(time.perf_counter() - t0)
    calib = round(statistics.median(ts), 3)
    try:
        load1 = round(os.getloadavg()[0], 2)
    except OSError:  # platform without getloadavg — keep the calib probe
        load1 = None
    return {"calib_sec": calib, "load1": load1}


def run_headline(
    spark,
    sf_dir: str,
    names: list[str],
    runs: int,
    probe_every: int = 5,
    probe=None,
    measure=None,
    timer=time.perf_counter,
) -> tuple[dict[str, float], dict]:
    """The headline loop, instrumented to self-classify co-load
    (VERDICT r9 item 1: the r9 driver record read +25% on a transient
    co-tenant and could not prove it, because calib probes fired only
    at section boundaries — invisible to a spike INSIDE the section).

    Every query records its start offset from section start, and the
    fixed-work calib probe runs before query 0, after every
    ``probe_every`` queries, and after the last one (~+0.12 s per tick;
    7 ticks over a 30-query section ≈ +0.8 s, amortized outside any
    per-query timing). The returned detail block carries both, so any
    inflated per-query median can be pinned to — or cleared of — a
    calib spike bracketing its window, in-artifact.

    ``probe``/``measure``/``timer`` are injectable for the synthetic
    co-load test (tests/test_bench_headline.py drives a stubbed spike
    through the real loop + classifier).
    """
    probe = probe or (lambda: probe_env(spark))
    measure = measure or (
        lambda name: _measure(
            spark, runs, lambda: force(QUERIES[name].fn(spark, sf_dir))
        )
    )
    t0 = timer()
    ticks: list[dict] = []
    timings: dict[str, float] = {}
    t_start: dict[str, float] = {}
    for i, name in enumerate(names):
        if i % probe_every == 0:
            ticks.append({"at": i, "t": round(timer() - t0, 3), **probe()})
        t_start[name] = round(timer() - t0, 3)
        timings[name] = measure(name)
    ticks.append({"at": len(names), "t": round(timer() - t0, 3), **probe()})
    coload = classify_coload(names, ticks)
    return timings, {"t_start": t_start, "calib_ticks": ticks, "coload": coload}


def classify_coload(
    names: list[str], ticks: list[dict], spike_factor: float = 1.5
) -> dict:
    """Mark queries whose timed window overlaps a calib spike.

    The calib probe does IDENTICAL work at every tick, so its baseline
    is the MEDIAN over this run's ticks — robust both ways: one
    unusually clean tick cannot drag the baseline down and mark half
    the section suspect on ordinary jitter (a min-baseline did exactly
    that in testing: a 0.10 s outlier among 0.13-0.17 s ticks flagged
    25/30 queries), and one spike cannot hide itself. A tick above
    ``spike_factor``× baseline means an external co-tenant was
    competing for cores at that instant; the spike could have started
    any time after the clean tick before it and ended any time before
    the clean tick after it, so every query indexed in
    [p_{j-1}, p_{j+1}) is ``suspect`` — its median may be
    co-load-inflated and must not be read as a regression; queries
    outside every such window ran bracketed by clean probes. Scope:
    this classifies TRANSIENTS inside the section (the r9 failure
    mode); a co-tenant spanning the whole run raises every tick —
    median included — and is instead visible in the section-boundary
    markers vs the previous round's. The raw per-tick samples ship in
    the artifact, so any reader can re-derive with a different
    threshold. This is the in-artifact classification the r6/r7/r9
    rounds had to reconstruct by hand with post-hoc A/Bs."""
    if not ticks:
        return {"baseline_calib": None, "spike_ticks": [], "suspect": []}
    baseline = max(statistics.median(t["calib_sec"] for t in ticks), 1e-9)
    spikes = [t for t in ticks if t["calib_sec"] > spike_factor * baseline]
    suspect_idx: set[int] = set()
    positions = [t["at"] for t in ticks]
    for t in spikes:
        j = positions.index(t["at"])
        lo = positions[j - 1] if j > 0 else positions[j]
        hi = positions[j + 1] if j + 1 < len(positions) else positions[j]
        suspect_idx.update(range(lo, hi))
    return {
        "baseline_calib": round(baseline, 3),
        "spike_ticks": [t["at"] for t in spikes],
        "suspect": [n for i, n in enumerate(names) if i in suspect_idx],
    }


#: Queries whose >6x sf1 ratio is a DOCUMENTED linear design, not a
#: scale bug: the superlinear gate reports them as annotated
#: adjudications instead of bare suspects (VERDICT r14 item 5 — a gate
#: that cries wolf on the known case is half a gate). sim_pq_adc_topk
#: is the r6 flat-ADC baseline the IVF composition exists to beat: it
#: scans EVERY code row per query by design, so its base->sf1 ratio is
#: honestly ~linear (~6-7 after the sublinear fixed costs wash out).
SUPERLINEAR_DOCUMENTED = {
    "sim_pq_adc_topk": "deliberately-linear flat ADC baseline (r6): scans "
    "all corpus codes per query by design; the IVF-gated variants are the "
    "scale path",
}

#: The driver retains only ~2 KB of stdout and parses the record out of
#: the tail; round 6 lost its entire official headline when the line
#: outgrew it. Keep a safety margin under the observed 2000 bytes.
STDOUT_BUDGET = 1950


def render_stdout_line(headline: dict, budget: int = STDOUT_BUDGET) -> str:
    """One compact JSON line, self-trimmed to the driver's tail budget.

    The r10 line measures ~1.88 KB with every section green — ~120
    bytes of headroom before the r6 parsed-null failure mode recurs
    (the driver keeps only the last ~2 KB of stdout; a longer line
    loses its HEAD, which carries "value"). Rather than trust every
    future field to stay small, trim the least-load-bearing optional
    blocks in order until the line fits, recording what was dropped in
    a ``trimmed`` marker; the FULL record always survives in
    BENCH_LOCAL.json + stderr. Trim order: the coload tick list (the
    suspect count stays), extras (layout controls, not the headline
    total), then the mid-run env markers (start/after_headline stay —
    they are the round-over-round comparables).

    Operates on a deep copy: the caller builds the BENCH_LOCAL full
    record from the same nested dicts, and trimming must never reach
    into it."""
    import copy

    headline = copy.deepcopy(headline)

    def _line() -> str:
        return json.dumps(headline, separators=(",", ":"))

    trims = (
        ("coload_ticks", lambda: headline.get("coload", {}).pop("ticks", None)),
        ("extras", lambda: headline.pop("extras", None)),
        (
            "env_mid",
            lambda: [
                headline.get("env", {}).pop(k, None)
                for k in list(headline.get("env", {}))
                if k not in ("start", "after_headline")
            ],
        ),
    )
    line = _line()
    applied: list[str] = []
    for name, fn in trims:
        if len(line) <= budget:
            break
        fn()
        applied.append(name)
        headline["trimmed"] = applied
        line = _line()
    if len(line) > budget:
        # last resort (ADVICE r10): if the required fields themselves
        # ever outgrow the budget (a long sf1 error string, a grown
        # queries dict), emit a minimal record whose HEAD — metric and
        # value — is guaranteed to survive the driver's retained tail,
        # instead of silently recreating the r6 parsed-null mode. The
        # full record is in BENCH_LOCAL.json either way.
        line = json.dumps(
            {
                "metric": headline.get("metric"),
                "value": headline.get("value"),
                "unit": headline.get("unit"),
                "sf": headline.get("sf"),
                "trimmed": applied + ["minimal"],
            },
            separators=(",", ":"),
        )
    return line


def run_ab(spark, sf_dir: str, names: list[str], rounds: int) -> None:
    """Interleaved A/B regression probe (VERDICT r7 item 6).

    ``bench.py --ab q1,q2[,...]`` times the named queries INTERLEAVED
    (one warmup each, then alternating passes in ABBA order across
    rounds) so slow co-load drift hits every variant equally — the
    discipline used by hand to classify the r6 `sales_team_mart` and
    r7 shared-surface "regressions" as noise, now one command. Prints
    ONE JSON line: per-query samples + median plus env probes, and
    skips the headline/sf1/sf3 sections entirely.
    """
    missing = [n for n in names if n not in QUERIES]
    if missing:
        raise SystemExit(f"--ab: unknown queries {missing}")
    env_start = probe_env(spark)
    samples: dict[str, list[float]] = {n: [] for n in names}
    for n in names:  # one untimed warmup each (codegen/FS caches)
        force(QUERIES[n].fn(spark, sf_dir))
        spark.catalog.clearCache()
    for i in range(rounds):
        # ABBA: reverse order on odd passes so a monotone load ramp
        # cannot systematically favor whichever variant runs first
        for n in names if i % 2 == 0 else names[::-1]:
            t0 = time.perf_counter()
            force(QUERIES[n].fn(spark, sf_dir))
            samples[n].append(round(time.perf_counter() - t0, 3))
            spark.catalog.clearCache()
    print(
        json.dumps(
            {
                "metric": "ab_interleaved",
                "unit": "sec",
                "queries": {
                    n: {
                        "median": round(statistics.median(s), 3),
                        "min": min(s),
                        "max": max(s),
                        "samples": s,
                    }
                    for n, s in samples.items()
                },
                "rounds": rounds,
                "order": "ABBA",
                "env": {"start": env_start, "end": probe_env(spark)},
                "sf_dir": sf_dir,
            },
            separators=(",", ":"),
        )
    )


class _AbRefWorker:
    """One side of the interleaved pinned-ref A/B: a subprocess running
    tools/abref_worker.py against ``engine_root``, commands strictly
    serialized by the parent (only one Spark job in flight, ever)."""

    def __init__(self, engine_root: str, worker_script: str, log_path: str):
        import subprocess

        self.root = engine_root
        self._log = open(log_path, "w")
        self.proc = subprocess.Popen(
            [sys.executable, worker_script, engine_root],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            stderr=self._log,
            text=True,
        )
        self.hello = self._read()

    def _read(self) -> dict:
        while True:
            line = self.proc.stdout.readline()
            if not line:
                raise RuntimeError(
                    f"abref worker for {self.root} died (see its stderr log)"
                )
            if line.startswith("ABREF "):
                return json.loads(line[len("ABREF "):])

    def send(self, obj: dict) -> dict:
        self.proc.stdin.write(json.dumps(obj, separators=(",", ":")) + "\n")
        self.proc.stdin.flush()
        return self._read()

    def close(self) -> None:
        try:
            self.send({"op": "quit"})
        except Exception:
            pass
        try:
            self.proc.wait(timeout=60)
        except Exception:
            self.proc.kill()
        self._log.close()


def _abref_worktree(repo: str, ref: str) -> str:
    """Materialize (or reuse) a detached git worktree of ``ref`` under
    .data/ — the pinned previous-round engine the A/B compares against."""
    import subprocess

    sha = subprocess.check_output(
        ["git", "rev-parse", ref], cwd=repo, text=True
    ).strip()
    wt = os.path.join(repo, ".data", f"abref_{sha[:12]}")
    if not os.path.isdir(os.path.join(wt, "salesdata_engineering_spark")):
        subprocess.check_call(
            ["git", "worktree", "add", "--detach", "--force", wt, sha], cwd=repo
        )
    return wt


def _round_pair_ratios(
    head: list[float | None], ref: list[float | None]
) -> list[float]:
    """ref/head ratio per --ab-ref round, both lists indexed by round
    (None = that run errored); a round with an error on either side
    yields no pair."""
    return [
        r / max(h, 1e-9)
        for h, r in zip(head, ref)
        if h is not None and r is not None
    ]


def run_ab_ref(
    ref: str, names: list[str], rounds: int, sf_dirs: list[str]
) -> None:
    """Contamination-immune round-over-round instrument (VERDICT r14
    item 1): interleave THIS tree against a worktree pinned at ``ref``
    in one schedule — two long-lived worker subprocesses (one
    SparkSession each; the parent serializes commands so only one runs
    at a time), alternating HEAD/ref per query with the leading side
    flipped every round (ABBA). Each HEAD sample is seconds — not
    minutes — from its paired ref sample, so slow-varying co-load hits
    both sides equally and DIFFERENCES OUT of the per-query ratios by
    construction; the five contaminated publish attempts of r14 are the
    failure mode this replaces. One untimed warmup per (side, query,
    sf_dir) amortizes codegen/FS caches exactly like the main bench.

    Prints ONE JSON line (per-query medians/mins + speedup_vs_ref =
    ref_median / head_median) and writes the full per-sample record to
    ABREF_DETAIL.json. Missing-in-ref queries are recorded, not fatal.
    """
    repo = os.path.dirname(os.path.abspath(__file__))
    worker_script = os.path.join(repo, "tools", "abref_worker.py")
    wt = _abref_worktree(repo, ref)
    os.makedirs(os.path.join(repo, ".data"), exist_ok=True)
    workers = {
        "head": _AbRefWorker(
            repo, worker_script, os.path.join(repo, ".data", "abref_head.err")
        ),
        "ref": _AbRefWorker(
            wt, worker_script, os.path.join(repo, ".data", "abref_ref.err")
        ),
    }
    record: dict = {
        "metric": "ab_ref_interleaved",
        "unit": "sec",
        "ref": ref,
        "ref_root": wt,
        "rounds": rounds,
        "order": "per-query HEAD/ref alternation, leading side flips per round",
        "sections": {},
    }
    try:
        for sf_dir in sf_dirs:
            # probe BOTH workers: the samples double as the co-load
            # record and as symmetric JVM warmup (a calib-warmed head
            # JVM vs a cold ref JVM read as a phantom head win in
            # smoke testing)
            calib0 = {
                s: workers[s].send({"op": "calib"}) for s in ("head", "ref")
            }
            # indexed by round, None where that round's run errored, so
            # a failure on one side never shifts the later pairs
            samples: dict[str, dict[str, list[float | None]]] = {
                n: {"head": [], "ref": []} for n in names
            }
            issues: list[dict] = []
            for n in names:  # one untimed warmup per side
                for side in ("head", "ref"):
                    r = workers[side].send(
                        {"op": "run", "query": n, "sf_dir": sf_dir}
                    )
                    if "sec" not in r:
                        issues.append({"query": n, "side": side, **r})
            for i in range(rounds):
                for j, n in enumerate(names):
                    # the TRAILING side of each pair rides caches its twin
                    # just warmed (the null run measured a ~4% median bias
                    # toward whichever side consistently trailed), so the
                    # leading side flips per (round, query) parity rather
                    # than per round alone
                    sides = (
                        ("head", "ref") if (i + j) % 2 == 0 else ("ref", "head")
                    )
                    for side in sides:
                        r = workers[side].send(
                            {"op": "run", "query": n, "sf_dir": sf_dir}
                        )
                        samples[n][side].append(r.get("sec"))
                        if "sec" not in r:
                            issues.append(
                                {"query": n, "side": side, "round": i, **r}
                            )
            calib1 = {
                s: workers[s].send({"op": "calib"}) for s in ("head", "ref")
            }
            per_q = {}
            for n in names:
                pairs = _round_pair_ratios(samples[n]["head"], samples[n]["ref"])
                h = [x for x in samples[n]["head"] if x is not None]
                rf = [x for x in samples[n]["ref"] if x is not None]
                per_q[n] = {
                    "head": {
                        "median": round(statistics.median(h), 3) if h else None,
                        "min": min(h) if h else None,
                        "samples": samples[n]["head"],
                    },
                    "ref": {
                        "median": round(statistics.median(rf), 3) if rf else None,
                        "min": min(rf) if rf else None,
                        "samples": samples[n]["ref"],
                    },
                }
                if h and rf:
                    per_q[n]["speedup_vs_ref"] = round(
                        statistics.median(rf) / max(statistics.median(h), 1e-9), 3
                    )
                    per_q[n]["speedup_vs_ref_min"] = round(
                        min(rf) / max(min(h), 1e-9), 3
                    )
                if pairs:
                    # the most co-load-robust readout: each round's
                    # head/ref samples ran SECONDS apart, so their ratio
                    # is immune to anything slower-varying than a pair;
                    # the median across rounds then drops pairs a spike
                    # landed inside of (observed: a mid-run spike can
                    # inflate one side of 2-3 pairs; the remaining clean
                    # pairs agree to a few %)
                    per_q[n]["speedup_vs_ref_pairs"] = round(
                        statistics.median(pairs), 3
                    )
            record["sections"][sf_dir] = {
                "queries": per_q,
                "issues": issues,
                "env": {"calib_start": calib0, "calib_end": calib1},
            }
    finally:
        for w in workers.values():
            w.close()
    try:
        with open(os.path.join(repo, "ABREF_DETAIL.json"), "w") as fh:
            json.dump(record, fh, indent=2)
            fh.write("\n")
    except OSError as exc:
        print(f"ABREF_DETAIL.json write failed: {exc}", file=sys.stderr)
    # stdout: the one-line summary (per-query speedups only — the full
    # samples live in ABREF_DETAIL.json); this mode is operator-invoked,
    # never the driver's parsed record, so length is not budgeted
    summary = {
        "metric": "ab_ref_interleaved",
        "ref": ref,
        "rounds": rounds,
        "sections": {
            sf: {
                n: q.get("speedup_vs_ref")
                for n, q in sec["queries"].items()
            }
            for sf, sec in record["sections"].items()
        },
    }
    print(json.dumps(summary, separators=(",", ":")))


def _load_gen_module():
    """tools/gen_sf1.py as a module (shared by the sf1 and sf3 sections)."""
    import importlib.util

    repo = os.path.dirname(os.path.abspath(__file__))
    spec = importlib.util.spec_from_file_location(
        "gen_sf1", os.path.join(repo, "tools", "gen_sf1.py")
    )
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)
    return gen


def _ensure_derived(spark, src_dir: str, dst_dir: str, reps: int) -> str:
    """Generate-or-reuse a derived-scale dataset, keyed on the source
    fingerprint. The implementation lives in tools/gen_sf1.py since
    round 14 so that the gen_sf1 CLI (and scalecheck runs that
    pre-generate .data/sf1) writes the exact same ``_FINGERPRINT``
    marker this cache checks — round 13's driver sf1 section errored
    out because the two tools shared one directory with incompatible
    ownership conventions (VERDICT r13 item 3)."""
    return _load_gen_module().ensure_derived(spark, src_dir, dst_dir, reps)


def _measure_samples(spark, runs: int, run_once) -> list[float]:
    """All ``runs`` timed executions after one untimed warmup.

    The warmup exists because the FIRST execution of a query pays
    one-time driver-side costs — Catalyst analysis warmup and Janino
    whole-stage-codegen compilation (~10 s single-threaded for the
    expression-heavy dedup plans, visible as a low-CPU stall).
    Steady-state per-run compute is what scales to 100 TB; compile
    time amortizes to zero there, so it must not pollute the median.
    clearCache between runs isolates them: a persist inside one run
    must not make the next run (or the next query) artificially fast."""
    run_once()
    spark.catalog.clearCache()
    samples: list[float] = []
    for _ in range(runs):
        t0 = time.perf_counter()
        run_once()
        samples.append(time.perf_counter() - t0)
        spark.catalog.clearCache()
    return samples


def _measure(spark, runs: int, run_once) -> float:
    return round(statistics.median(_measure_samples(spark, runs, run_once)), 3)


def _ann_serve_scaling(spark, sf_dir: str, runs: int) -> dict[str, float]:
    """Serve-side |Q| scaling for the persisted IVF-PQ index (VERDICT
    r10 item 4): time search_ivf_pq_index at a 10-query and a
    100-query batch against the SAME ensured index (cache shared with
    the sim_ivf_pq_index_serve headline query, so only serving is
    timed). The probe set collected to the driver is |Q|*nprobe rows —
    bounded, but previously unmeasured at 10x |Q|; the expectation is
    ~linear-in-|Q| re-rank cost on a flat corpus-side cost (posting
    reads stay partition-pruned to the probed cells)."""
    from pyspark.sql import functions as SF

    from salesdata_engineering_spark.ext.ann_index import (
        ensure_ivf_pq_index,
        search_ivf_pq_index,
    )
    from salesdata_engineering_spark.registry_ext import (
        _ANN_CACHE_ROOT,
        _IVF_NPROBE,
        _ivf_stride,
    )

    # mirror the _embs_nn intake EXACTLY (NULL vec_id/embedding dropped
    # before the cast): this probe shares the serve query's deferred-
    # sizing cache key, so the two callers MUST pass identical corpora —
    # on data containing NULL rows a raw-parquet corpus here would build
    # a different index (different N/stride, NULL vectors) under the
    # same key and whichever published first would silently serve the
    # other (ADVICE r14, medium)
    corpus = (
        spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
        .filter(SF.col("vec_id").isNotNull() & SF.col("embedding").isNotNull())
        .select(
            "vec_id", SF.col("embedding").cast("array<double>").alias("embedding")
        )
    )

    # same deferred-sizing key as the sim_ivf_pq_index_serve headline
    # query, so both resolve to ONE shared cached index (an explicit
    # stride/corpus_count here would key a second, duplicate build)
    def _sizing() -> dict:
        n = corpus.count()
        return {"stride": _ivf_stride(corpus, n), "corpus_count": n}

    idx = ensure_ivf_pq_index(
        spark, corpus, sf_dir, _ANN_CACHE_ROOT,
        deferred_sizing=_sizing, n_codes=64,
    )
    out: dict[str, float] = {}
    for label, nq in (("q10", 10), ("q100", 100)):
        qs = corpus.filter(SF.col("vec_id") < nq).select(
            SF.col("vec_id").alias("query_id"), "embedding"
        )
        out[label] = _measure(
            spark,
            runs,
            lambda q=qs: force(
                search_ivf_pq_index(
                    spark, idx, corpus, q, k=5, m_cand=40, nprobe=_IVF_NPROBE
                )
            ),
        )
    return out


def _split_layout_dir(spark, sf_dir: str, table: str = "lineitem") -> str:
    """A copy of ``sf_dir`` where ``table`` is pre-split into one file
    per core (other tables symlinked). Every headline number otherwise
    measures a 1-file-per-table scan that spread() compensates for; this
    layout exercises the no-op path end-to-end — a realistic multi-file
    fact layout — so the split datapoint should land within noise of the
    spread-guarded one (VERDICT r4 item 7)."""
    import shutil
    import tempfile

    sf_dir = os.path.abspath(sf_dir)  # relative targets would dangle from /tmp
    root = tempfile.mkdtemp(prefix="bench_split_")
    try:
        for f in os.listdir(sf_dir):
            if f.endswith(".parquet") and f != f"{table}.parquet":
                os.symlink(os.path.join(sf_dir, f), os.path.join(root, f))
        par = spark.sparkContext.defaultParallelism
        spark.read.parquet(f"{sf_dir}/{table}.parquet").repartition(par).write.mode(
            "overwrite"
        ).parquet(f"{root}/{table}.parquet")
    except BaseException:
        shutil.rmtree(root, ignore_errors=True)
        raise
    return root


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument(
        "--ab",
        default=None,
        metavar="Q1,Q2",
        help="interleaved A/B mode: time ONLY these queries, alternating "
        "(ABBA), and print one JSON line of samples — the regression-"
        "classification tool; skips headline/sf1/sf3",
    )
    ap.add_argument(
        "--ab-rounds",
        type=int,
        default=5,
        help="timed passes per query in --ab mode (default 5)",
    )
    ap.add_argument(
        "--ab-ref",
        default=None,
        metavar="GIT_REF",
        help="pinned-ref interleaved A/B (VERDICT r14 item 1): time the "
        "given queries alternating between THIS tree and a worktree at "
        "GIT_REF in one schedule, so co-load differences out; prints a "
        "summary line and writes ABREF_DETAIL.json; skips every other "
        "section",
    )
    ap.add_argument(
        "--ab-ref-queries",
        default=None,
        metavar="Q1,Q2",
        help="--ab-ref query list (default: the headline set)",
    )
    ap.add_argument(
        "--ab-ref-sf-dirs",
        default=None,
        metavar="DIR1,DIR2",
        help="--ab-ref data dirs (default: $SPARK_GRAFT_SF_DIR)",
    )
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    if args.ab_ref:
        # no SparkSession in the parent: the two worker subprocesses own
        # the (strictly serialized) sessions
        if args.ab_ref_queries:
            names = [n for n in args.ab_ref_queries.split(",") if n]
        else:
            names = [n for n in HEADLINE if n in QUERIES]
            names += [n for n in QUERIES if n not in names and QUERIES[n].bench]
        dirs = [
            d for d in (args.ab_ref_sf_dirs or sf_dir).split(",") if d
        ]
        run_ab_ref(args.ab_ref, names, args.ab_rounds, dirs)
        return

    spark = get_spark(app_name="salesdata-engine-bench")

    if args.ab:
        run_ab(spark, sf_dir, [n for n in args.ab.split(",") if n], args.ab_rounds)
        spark.stop()
        return

    t_run0 = time.perf_counter()  # for the sf3 section's budget guard

    names = [n for n in HEADLINE if n in QUERIES]
    names += [n for n in QUERIES if n not in names and QUERIES[n].bench]

    force(QUERIES[names[0]].fn(spark, sf_dir))  # warmup: JVM + codegen + FS caches

    runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
    # headline loop with per-query start offsets + a calib tick every 5
    # queries (VERDICT r9 item 1) — the first/last ticks double as the
    # round-over-round start/after_headline section markers (co-load
    # markers at every section boundary, VERDICT r7 item 1; sampled
    # AFTER warmup so the calib probe is itself steady-state)
    timings, hl_detail = run_headline(spark, sf_dir, names, runs)
    _mk = lambda t: {"calib_sec": t["calib_sec"], "load1": t["load1"]}  # noqa: E731
    env_probes: dict[str, dict] = {"start": _mk(hl_detail["calib_ticks"][0])}
    env_probes["after_headline"] = _mk(hl_detail["calib_ticks"][-1])

    # ADVICE r10: classify_coload's median baseline goes blind when a
    # co-tenant spans half or more of the ticks — every tick inflates,
    # nothing exceeds 1.5x, and suspect:0 reads as a CLEAN run. Compare
    # this run's baseline to the previous run's start calib (read from
    # the previous detail record) and carry an
    # explicit three-valued marker: True (elevated — suspect:0 is
    # unreliable), False (comparable), None (no prior record).
    repo = os.path.dirname(os.path.abspath(__file__))
    prev_calib = None
    # prefer the per-run scratch (most recent run on this box), fall
    # back to the committed idle record
    for prev_name in ("BENCH_DETAIL.json", "BENCH_LOCAL.json"):
        try:
            with open(os.path.join(repo, prev_name)) as fh:
                prev_calib = (
                    json.load(fh).get("env", {}).get("start", {}).get("calib_sec")
                )
        except Exception:
            continue
        # ADVICE r12: a record that parses but lacks env.start.calib_sec
        # (e.g. a truncated scratch BENCH_DETAIL.json) must fall through
        # to the committed BENCH_LOCAL.json, not break with None
        if prev_calib is not None:
            break
    base_calib = hl_detail["coload"].get("baseline_calib")
    hl_detail["coload"]["prev_round_calib"] = prev_calib
    hl_detail["coload"]["baseline_elevated"] = (
        bool(base_calib > 1.5 * prev_calib)
        if (prev_calib and base_calib)
        else None
    )

    # Extras are timed the same way but reported OUTSIDE the headline
    # total so "value" stays comparable round-over-round (they are not
    # queries: one is an end-to-end write pipeline, one a layout control).
    extras: dict[str, float] = {}

    # pipeline_full: the end-to-end batch pipeline (scan -> enrich ->
    # persist once -> both marts -> partitioned parquet writes + readback)
    # — the README's persist-once-vs->=6-recomputes flagship claim, timed.
    # NOTE the number is write-dominated at test SF: the reference-parity
    # (sales_month, store_id) layout yields ~2,000 partition directories
    # whose per-directory commit cost is a local-FS artifact — at 100 TB
    # the same layout gives GB-sized partitions and the churn amortizes.
    import shutil
    import tempfile

    from salesdata_engineering_spark.pipeline import run_full_pipeline

    pipeline_outs: list[str] = []

    def run_pipeline():
        # cleanup happens AFTER timing: rmtree of a ~2,000-directory mart
        # tree is filesystem noise, not pipeline cost, and must not
        # pollute the timed region
        out = tempfile.mkdtemp(prefix="bench_pipeline_")
        pipeline_outs.append(out)
        run_full_pipeline(spark, sf_dir, out)

    try:
        extras["pipeline_full"] = _measure(spark, runs, run_pipeline)
    finally:
        for out in pipeline_outs:
            shutil.rmtree(out, ignore_errors=True)

    # Round-7 flagship additions, timed as EXTRAS so the headline total
    # stays comparable round-over-round (same policy as pipeline_full):
    # sparse retrieval, hybrid fusion, and the rollup cascade.
    for extra_q in ("text_bm25_search", "sim_rrf_fusion_eval", "events_rollup_cascade"):
        if extra_q in QUERIES:
            extras[extra_q] = _measure(
                spark, runs, lambda q=extra_q: force(QUERIES[q].fn(spark, sf_dir))
            )

    # serve-side |Q| scaling datapoint (VERDICT r10 item 4) — extras,
    # like the other non-headline measurements; failure degrades to a
    # stderr note, never kills the record
    try:
        for lbl, sec in _ann_serve_scaling(spark, sf_dir, runs).items():
            extras[f"ann_serve_{lbl}"] = sec
    except Exception as exc:
        print(f"ann_serve scaling failed: {exc}", file=sys.stderr)

    # sales_team_mart over a pre-split fact layout (spread() no-op path)
    split_dir = _split_layout_dir(spark, sf_dir)
    try:
        extras["sales_team_mart_split"] = _measure(
            spark, runs, lambda: force(QUERIES["sales_team_mart"].fn(spark, split_dir))
        )
    finally:
        shutil.rmtree(split_dir, ignore_errors=True)
    env_probes["after_extras"] = probe_env(spark)

    # sf1 scale-ratio section (VERDICT r5 ask #1): rerun the headline set
    # at ~10x the data (6M lineitem rows, derived from the read-only
    # driver data by key-shifted decorrelated replication — tools/
    # gen_sf1.py) and report per-query sf1/base ratios. This separates
    # the two cost regimes sf0.1 cannot: stage-scheduling-bound queries
    # should grow sublinearly (ratio << 10), data-bound ones ~linearly;
    # any ratio > 10 is a superlinear scale bug. One timed run per query
    # (after warmup): at sf1 per-run compute dominates scheduling noise,
    # and the section must stay inside the driver's per-round budget.
    # The section runs only when the BASE run is the sf1 source scale
    # (default sf0.1): with a different base, ratio_vs_base would mix
    # scales (sf0.01 base vs 10x-of-sf0.1 data reads as a false 20-60x
    # "superlinear bug"). Any sf1-side failure degrades to sf1=null —
    # the base JSON line must never be lost to the extra section.
    sf1_block = None
    sf1_timings: dict[str, float] = {}
    sf1_spread: dict[str, list[float]] = {}
    sf1_dir = None
    sf1_src = "/root/testdata/sf0.1"
    base_is_src = os.path.realpath(sf_dir) == os.path.realpath(sf1_src)
    if os.environ.get("SPARK_GRAFT_SF1", "1") != "0" and base_is_src:
        try:
            repo = os.path.dirname(os.path.abspath(__file__))
            sf1_dir = os.environ.get(
                "SPARK_GRAFT_SF1_DIR", os.path.join(repo, ".data", "sf1")
            )
            _ensure_derived(spark, sf1_src, sf1_dir, reps=10)
            # default 2 timed runs since round 7: the r6 single-run sf1
            # numbers were taken on a co-loaded box and disagreed with
            # in-round observations by up to 1.7x with no way to tell
            # noise from regression (VERDICT r6 item 7) — medians of >=2
            # runs plus the recorded per-query spread settle that.
            sf1_runs = max(1, int(os.environ.get("SPARK_GRAFT_SF1_RUNS", "2")))
            for name in names:
                samples = _measure_samples(
                    spark, sf1_runs, lambda: force(QUERIES[name].fn(spark, sf1_dir))
                )
                sf1_timings[name] = round(statistics.median(samples), 3)
                sf1_spread[name] = [round(min(samples), 3), round(max(samples), 3)]
            ratios = {
                n: round(sf1_timings[n] / timings[n], 2)
                for n in names
                if timings.get(n)
            }
            sf1_block = {
                "value": round(sum(sf1_timings.values()), 3),
                "queries": sf1_timings,
                "ratio_vs_base": ratios,
                # in-artifact superlinear gate (VERDICT r13 item 8):
                # sf1 is 10x the data, so linear cost is ratio <= 10
                # and scheduling-bound queries sit far below; a ratio
                # above 6 on this box has only ever meant a composed-
                # operator scale bug (r6: 13.46x) — flag it in the
                # record itself instead of relying on a reader.
                # Queries DOCUMENTED deliberately-linear are carried as
                # annotated adjudications instead of bare suspects
                # (VERDICT r14 item 5): sim_pq_adc_topk's ADC baseline
                # scans every code row by design (r6), so its honest
                # ratio sits ~6-7 and a bare alarm there would train
                # readers to ignore the gate on the real cases.
                "superlinear_suspects": sorted(
                    n
                    for n, r in ratios.items()
                    if r > 6 and n not in SUPERLINEAR_DOCUMENTED
                ),
                "superlinear_adjudicated": [
                    {
                        "query": n,
                        "ratio": ratios[n],
                        "adjudicated": SUPERLINEAR_DOCUMENTED[n],
                    }
                    for n in sorted(SUPERLINEAR_DOCUMENTED)
                    if ratios.get(n, 0) > 6
                ],
                "spread": sf1_spread,
                "timed_runs": sf1_runs,
                "scale_vs_base": 10,
            }
        except Exception as exc:  # degrade, never kill the base output
            sf1_block = {"error": str(exc)[:300]}
    env_probes["after_sf1"] = probe_env(spark)

    # sf3 depth rung (VERDICT r7 item 5): one more 3x step up the scale
    # ladder for the 10 most expensive queries BY THEIR OWN sf1 MEDIAN
    # (the selection the verdict asked for — the cheap scheduling-bound
    # queries reveal nothing new at 3x). Data is derived from the sf1
    # dataset by the same key-shifted decorrelated replication (reps=3:
    # per-token suffixes compose to 2-char [a-z] strings, embedding
    # rotations compose, key shifts compose — so the construction
    # invariants of gen_sf1 hold transitively) and cached in .data/sf3.
    # ONE timed run after warmup: at ~18M lineitem rows per-run compute
    # dwarfs scheduling noise and the section must fit the round budget.
    # Linear cost here is ratio 3.0 vs sf1; anything well above 3 is
    # superlinear and gets classified in PERF_NOTES. Failures degrade to
    # an error marker exactly like sf1 — never kill the base record.
    # Defensive budget guard: the sections before sf3 are the proven
    # r7 envelope; if THEY already overran (heavy co-load, cold sf1
    # gen), adding the sf3 rung risks the driver's command budget and
    # with it the entire stdout record (the r6 parsed-null lesson, in
    # time instead of bytes). Skip with an explicit marker instead.
    elapsed = time.perf_counter() - t_run0
    sf3_budget = int(os.environ.get("SPARK_GRAFT_SF3_BUDGET_S", "1500"))
    sf3_block = None
    # like the streaming rung below, require the sf1 section to have
    # truly SUCCEEDED (block carries a value): a mid-loop sf1 failure
    # leaves partial timings, and a "top-10 by sf1 median" selected
    # from a partial set would silently compare different query sets
    # across rounds
    sf3_enabled = bool(
        os.environ.get("SPARK_GRAFT_SF3", "1") != "0"
        and sf1_dir
        and isinstance(sf1_block, dict)
        and "value" in sf1_block
    )
    if sf3_enabled and elapsed > sf3_budget:
        sf3_block = {
            "error": f"skipped: {elapsed:.0f}s elapsed before sf3 "
            f"exceeds budget {sf3_budget}s"
        }
    elif sf3_enabled:
        try:
            repo = os.path.dirname(os.path.abspath(__file__))
            sf3_dir = os.environ.get(
                "SPARK_GRAFT_SF3_DIR", os.path.join(repo, ".data", "sf3")
            )
            _ensure_derived(spark, sf1_dir, sf3_dir, reps=3)
            top10 = sorted(sf1_timings, key=sf1_timings.get, reverse=True)[:10]
            # median-of-2 minimum since round 9 (VERDICT r8 item 4): the
            # r8 single-run sf3 records produced spurious >3.0 ratios
            # that needed post-hoc A/B repair (sales_team_mart 6.13 vs
            # an interleaved truth of 2.12); two samples plus the
            # recorded spread make the artifact self-classifying.
            sf3_runs = max(1, int(os.environ.get("SPARK_GRAFT_SF3_RUNS", "2")))
            sf3_timings: dict[str, float] = {}
            sf3_spread: dict[str, list[float]] = {}
            for name in top10:
                samples = _measure_samples(
                    spark,
                    sf3_runs,
                    lambda: force(QUERIES[name].fn(spark, sf3_dir)),
                )
                sf3_timings[name] = round(statistics.median(samples), 3)
                sf3_spread[name] = [round(min(samples), 3), round(max(samples), 3)]
            sf3_block = {
                "value": round(sum(sf3_timings.values()), 3),
                "queries": sf3_timings,
                "ratio_vs_sf1": {
                    n: round(sf3_timings[n] / sf1_timings[n], 2)
                    for n in top10
                    if sf1_timings.get(n)
                },
                # ratio of the per-query MINIMA: the cleanest co-load-
                # robust classifier the artifact can carry (min-vs-min
                # discards one-sided co-load spikes the way the manual
                # A/Bs did)
                "min_ratio_vs_sf1": {
                    n: round(sf3_spread[n][0] / sf1_spread[n][0], 2)
                    for n in top10
                    if sf1_spread.get(n) and sf1_spread[n][0]
                },
                "spread": sf3_spread,
                "timed_runs": sf3_runs,
                "scale_vs_sf1": 3,
                "selection": "top-10 by sf1 median",
            }
        except Exception as exc:
            sf3_block = {"error": str(exc)[:300]}
        env_probes["after_sf3"] = probe_env(spark)

    # Output protocol (rewritten for round 7 — VERDICT r6 item 1): the
    # driver retains only a BOUNDED TAIL of stdout (~2 KB observed) and
    # parses the benchmark record out of it. Round 6 inlined the whole
    # sf1 block into the single JSON line, the line outgrew the retained
    # tail, its head (including "value") was cut off, and BENCH_r06.json
    # recorded `parsed: null` — the official headline total of the round
    # was lost. The fix keeps stdout down to EXACTLY ONE compact JSON
    # line (safe under every plausible parser: whole-tail json.loads,
    # last-line, or scan-any-line) by moving the bulky sf1 per-query
    # detail out of stdout:
    #   * stdout — one compact line: headline metric/value/queries/extras
    #     plus an sf1 SUMMARY (total, timed runs, worst ratio + which
    #     query, and a pointer to the detail file); compact separators,
    #     ~1.2 KB, comfortably inside the tail budget.
    #   * BENCH_LOCAL.json (repo root) — the full record including the
    #     per-query sf1 timings/ratios/spreads, for the judge and for
    #     round-over-round diffs.
    #   * stderr — the same full record, labeled, so driver logs keep a
    #     human-readable copy even if the file is cleaned up.
    # Streaming rung at sf1 (VERDICT r8 item 6): the r8 layout bugs all
    # lived in streaming paths, yet the scale ladder was batch-only.
    # Two registered streaming queries drained end-to-end over the sf1
    # DIRECTORY-layout events table (.data/sf1/events.parquet is a
    # multi-part-file dir — the exact layout that silently broke in r8),
    # plus a maxFilesPerTrigger=2-paced tumbling count that forces
    # multi-micro-batch file-source scheduling + incremental state
    # updates (complete mode, no watermark, so pacing changes batch
    # boundaries but never the result). Throughput = source events rows
    # / wall sec. Failures degrade to an error marker like sf1/sf3.
    streaming_block = None
    sf1_events = os.path.join(sf1_dir or "", "events.parquet")
    if (
        sf1_dir
        # the sf1 section truly SUCCEEDED (its block carries a value,
        # which requires _ensure_derived + every query to have
        # completed) — never drain a partial or stale events dir left
        # by a failed _ensure_derived or a mid-loop failure and publish
        # plausible-looking throughput over inconsistent data
        and isinstance(sf1_block, dict)
        and "value" in sf1_block
        and os.environ.get("SPARK_GRAFT_STREAMING_SF1", "1") != "0"
        and os.path.isdir(sf1_events)
    ):
        try:
            from pyspark.sql import functions as SF

            from salesdata_engineering_spark.streaming.runner import (
                read_events_stream,
                run_to_completion,
            )

            ev_rows = spark.read.parquet(sf1_events).count()
            stream_q: dict[str, dict] = {}

            def paced_drain():
                s = read_events_stream(spark, sf1_dir, max_files_per_trigger=2)
                agg = s.groupBy(SF.window("ts", "10 minutes")).count()
                force(run_to_completion(agg, output_mode="complete"))

            probes = {
                "stream_tumbling_counts": lambda: force(
                    QUERIES["stream_tumbling_counts"].fn(spark, sf1_dir)
                ),
                "stream_cdc_latest": lambda: force(
                    QUERIES["stream_cdc_latest"].fn(spark, sf1_dir)
                ),
                "paced_tumbling_mfpt2": paced_drain,
                # the stream-stream LEFT OUTER join at sf1 directory
                # layout (VERDICT r9 item 5): the r8 data-loss bug lived
                # in exactly this path (per-file watermark advancement
                # dropped 87% of outer rows); it has a layout pin but
                # had no scale datapoint — two stateful sides + outer
                # emission at watermark close, the heaviest streaming
                # shape in the registry
                "stream_stream_left_outer": lambda: force(
                    QUERIES["stream_stream_left_outer_join"].fn(spark, sf1_dir)
                ),
            }
            for pname, run_once in probes.items():
                sec = _measure(spark, 1, run_once)
                stream_q[pname] = {
                    "sec": sec,
                    "rows_per_sec": round(ev_rows / sec) if sec else None,
                }
            streaming_block = {"events_rows": ev_rows, "queries": stream_q}
        except Exception as exc:
            streaming_block = {"error": str(exc)[:300]}
        env_probes["after_streaming_sf1"] = probe_env(spark)

    sf1_summary = None
    if isinstance(sf1_block, dict) and "value" in sf1_block:
        ratios = sf1_block.get("ratio_vs_base") or {}
        worst = max(ratios, key=ratios.get) if ratios else None
        sf1_summary = {
            "value": sf1_block["value"],
            "timed_runs": sf1_block["timed_runs"],
            "max_ratio": ratios.get(worst),
            "max_ratio_query": worst,
            # normally [] — any entry is a superlinear scale bug the
            # record itself is flagging (VERDICT r13 item 8)
            "superlinear_suspects": sf1_block.get("superlinear_suspects", []),
            "detail": "BENCH_LOCAL.json (committed idle run; this run: BENCH_DETAIL.json)",
        }
        # documented-linear queries above the gate ride along annotated
        # (VERDICT r14 item 5); omitted entirely when none fired so the
        # stdout line's byte budget is untouched on clean runs
        if sf1_block.get("superlinear_adjudicated"):
            sf1_summary["superlinear_adjudicated"] = sf1_block[
                "superlinear_adjudicated"
            ]
    elif isinstance(sf1_block, dict):  # degraded: carry the error marker
        sf1_summary = {"error": sf1_block.get("error", "")[:120]}

    # stdout carries only rows/sec per streaming probe (ints): the full
    # block pushed the single JSON line to 1.9 KB against the driver's
    # observed 2.0 KB retained tail — the exact r6 parsed-null failure
    # mode, 100 bytes from recurring. Detail lands in BENCH_LOCAL.json.
    streaming_summary = None
    if isinstance(streaming_block, dict) and "queries" in streaming_block:
        streaming_summary = {
            n: rec["rows_per_sec"]
            for n, rec in streaming_block["queries"].items()
        }
    elif isinstance(streaming_block, dict):
        streaming_summary = {"error": streaming_block.get("error", "")[:120]}

    sf3_summary = None
    if isinstance(sf3_block, dict) and "value" in sf3_block:
        r3 = sf3_block.get("ratio_vs_sf1") or {}
        worst3 = max(r3, key=r3.get) if r3 else None
        sf3_summary = {
            "value": sf3_block["value"],
            "n_queries": len(sf3_block["queries"]),
            "max_ratio_vs_sf1": r3.get(worst3),
            "max_ratio_query": worst3,
            "detail": "BENCH_LOCAL.json (committed idle run; this run: BENCH_DETAIL.json)",
        }
    elif isinstance(sf3_block, dict):
        sf3_summary = {"error": sf3_block.get("error", "")[:120]}

    headline = {
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "extras": extras,
        "sf1": sf1_summary,
        "sf3": sf3_summary,
        "streaming_sf1": streaming_summary,
        # co-load context (VERDICT r7 item 1): 1-min loadavg + a fixed
        # calibration probe at each section boundary. Identical probe
        # work every time — calib_sec drift between markers (or between
        # rounds) IS measured co-load; a headline delta without matching
        # calib drift is a real regression.
        "env": env_probes,
        # in-headline classification (VERDICT r9 item 1), stdout-compact:
        # the interleaved calib samples (one per 5 queries) + how many
        # queries overlap a spike window. Per-query t_start and the
        # suspect NAMES are in BENCH_LOCAL.json's headline_detail —
        # stdout must stay inside the driver's ~2 KB retained tail.
        "coload": {
            "ticks": [t["calib_sec"] for t in hl_detail["calib_ticks"]],
            "suspect": len(hl_detail["coload"]["suspect"]),
            # True = this run's calib baseline is itself >1.5x the
            # previous run's — suspect:0 must NOT be read as clean
            "baseline_elevated": hl_detail["coload"]["baseline_elevated"],
        },
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        # methodology markers: medians exclude one untimed per-query
        # warmup run (Catalyst/Janino first-compile cost), a change
        # introduced in round 4 — without this marker, cross-round
        # deltas vs warmup-free rounds 1-3 would be misread (ADVICE r4)
        "warmup_runs": 1,
        "timed_runs": runs,
        "stat": "median",
    }
    full = dict(
        headline,
        sf1=sf1_block,
        sf3=sf3_block,
        streaming_sf1=streaming_block,
        # the full in-headline record: per-query start offsets,
        # interleaved calib ticks, and the classifier verdict (which
        # queries' medians overlap a spike window and must not be read
        # as regressions)
        headline_detail=hl_detail,
    )
    repo = os.path.dirname(os.path.abspath(__file__))
    # Per-run detail lands in BENCH_DETAIL.json (gitignored scratch) so
    # an automated re-run can never clobber the COMMITTED idle closing
    # record (ADVICE/VERDICT r11 item 6: the r11 driver re-run
    # overwrote the authoritative suspect:0 record in the working
    # tree). Publishing to BENCH_LOCAL.json — the committed record —
    # is an explicit opt-in used by the round-close idle run only.
    targets = ["BENCH_DETAIL.json"]
    if os.environ.get("SPARK_GRAFT_BENCH_PUBLISH"):
        targets.append("BENCH_LOCAL.json")
    for target in targets:
        try:
            with open(os.path.join(repo, target), "w") as fh:
                json.dump(full, fh, indent=2)
                fh.write("\n")
        except OSError as exc:  # never let the side-channel kill the record
            print(f"{target} write failed: {exc}", file=sys.stderr)
    print("bench full record:", json.dumps(full), file=sys.stderr)
    sys.stderr.flush()
    print(render_stdout_line(headline))
    sys.stdout.flush()
    spark.stop()


if __name__ == "__main__":
    main()
