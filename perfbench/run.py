#!/usr/bin/env python3
"""The repository's benchmark: one seeded workload per invocation.

    python3 perfbench/run.py --workload etl_daily --seed 1 --seconds 12 --trace 0

Run it from the root of a checkout. It builds nothing: it reads the
engine's sf0.01 test tables from its own copy in ``perfbench/data``,
generates the rest of its inputs from ``--seed`` under
``$CARGO_TARGET_DIR`` (default ``.bench_build``) in the checkout,
starts a local Spark session through ``session.get_spark`` and drives
the workload (see ``workloads.py``) as a closed loop with one client for
``--seconds`` and at least the workload's ``min_cycles`` whole cycles.
Every output is checked after the timed phase; the last line of
standard output is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` wraps each
public call into the program's modules from outside, records spans
(written to ``<build dir>/perfbench-spans-<workload>-<seed>.json``) and
reports the per-layer metrics instead.

The workload's seeded inputs are generated first, untimed. Set-up then
runs SETUP_REPEATS times in one process, each time on a fresh copy of
the inputs: start a Spark session through ``session.get_spark``, open
the tables and build the ANN index into a fresh directory (serve);
``setup_s`` is the median. The first set-up also launches the JVM; the
later ones each stop the session and start a new one in the same JVM.
The last one is followed by one op of each type (``warm_s``), so the
timed phase starts warm. ``cold_start_s`` is the time from the
benchmark's start to the end of the first set-up, generation left out,
plus ``warm_s``: what a user waits for from launch to the first result
of every op type.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import time
import traceback

SETUP_REPEATS = 3
DRIVER_MEMORY = "2g"
MAX_CPUS = 2

HERE = os.path.dirname(os.path.abspath(__file__))


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def set_env(work: str) -> dict:
    """Pin the engine's resources for this process and keep every
    scratch file inside the run's own directory."""
    cpus = min(MAX_CPUS, len(os.sched_getaffinity(0)))
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
    }
    for d in (env["SPARK_LOCAL_DIRS"], env["TMPDIR"]):
        os.makedirs(d)
    os.environ.update(env)
    tempfile.tempdir = env["TMPDIR"]
    return env


def spark_conf(work: str) -> dict:
    return {
        # The heap limit is SPARK_DRIVER_MEMORY. No perf-data file and no
        # temp file outside the run's directory.
        "spark.driver.extraJavaOptions": "-XX:-UsePerfData "
                                         f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }


def main(argv=None) -> int:
    t_process = time.perf_counter()
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "salesdata_engineering_spark", "__init__.py")):
        print("perfbench: no salesdata_engineering_spark package here; "
              "run from the root of a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    sys.path.insert(0, HERE)

    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    build = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(build, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"perfbench-{args.workload}-", dir=build)
    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        env = set_env(work)
        print("perfbench env: " + json.dumps(env), flush=True)
        result = run(args, WORKLOADS[args.workload], work, build, t_process)
    finally:
        stop_spark()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


def stop_spark() -> None:
    """Stop the session and the JVM behind it, and wait for the JVM to exit."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def run(args, workload_cls, work: str, build: str, t_process: float):
    import probes
    import report
    import stats
    from spans import Tracer

    from salesdata_engineering_spark import session

    tracer = Tracer(bool(args.trace))
    wrap_public_calls(tracer)
    wl = workload_cls(args.seed, tracer)
    t0 = time.perf_counter()
    wl.generate(os.path.join(work, "generated"))
    generate_s = time.perf_counter() - t0
    setup_s = []
    spark = None
    for i in range(SETUP_REPEATS):
        tracer.op = -1 - i
        run_dir = os.path.join(work, f"run{i}")
        if spark is not None:
            tracer.attach(None)
            spark.stop()
            shutil.rmtree(os.path.join(work, f"run{i - 1}"))
        wl.stage(run_dir)
        t0 = time.perf_counter()
        with tracer.span("session.get_spark"):
            spark = session.get_spark(app_name=f"perfbench-{args.workload}",
                                      extra_conf=spark_conf(work))
        tracer.attach(spark)
        wl.setup(spark, run_dir)
        setup_s.append(time.perf_counter() - t0)
        if i == 0:
            first_setup_end = time.perf_counter() - t_process - generate_s
        tracer.count_jobs(tracer.op)
    # the first op of each type, untimed by the loop, so it starts warm
    tracer.op = -100
    t0 = time.perf_counter()
    wl.warm()
    warm_s = time.perf_counter() - t0
    cold_start_s = first_setup_end + warm_s
    tracer.count_jobs(tracer.op)

    pid = probes.jvm_pid(spark)
    timed = []
    overhead = 0.0
    ops = wl.ops()
    t_start = time.perf_counter()
    cost0 = tracer.cost
    cycle_len = sum(wl.cycle.values())
    while True:
        # stop only between whole cycles, so every op type is sampled
        # in its cycle's proportion
        if (len(timed) % cycle_len == 0 and len(timed) >= wl.min_cycles * cycle_len
                and time.perf_counter() - t_start >= args.seconds):
            break
        op_type, fn = next(ops, (None, None))
        if fn is None:
            print("perfbench: the workload ran out of inputs before --seconds", file=sys.stderr)
            break
        tracer.op = len(timed)
        n_log = len(wl.op_log)
        rec = {"type": op_type, "ok": True, "log": None}
        if tracer.enabled:
            b0 = time.perf_counter()
            cpu0, gc0, wall0 = probes.cpu_s(pid), probes.gc_s(spark), time.time()
            overhead += time.perf_counter() - b0
        t0 = time.perf_counter()
        try:
            with tracer.span(f"op.{op_type}"):
                fn()
        except Exception:
            traceback.print_exc()
            rec["ok"] = False
        rec["s"] = time.perf_counter() - t0
        if len(wl.op_log) > n_log:
            rec["log"] = n_log
        if tracer.enabled:
            b0 = time.perf_counter()
            rec["cpu_s"] = probes.cpu_s(pid) - cpu0
            rec["gc_s"] = probes.gc_s(spark) - gc0
            rec["files"], rec["bytes"] = report.written_since(wl.io_dirs, wall0)
            tracer.count_jobs(tracer.op)
            overhead += time.perf_counter() - b0
        timed.append(rec)
    wall = time.perf_counter() - t_start
    peak_rss = probes.vm_hwm_mb(pid) + probes.python_hwm_mb()
    peak_heap = probes.peak_heap_mb(spark)

    t0 = time.perf_counter()
    bad, msgs = wl.check()
    check_s = time.perf_counter() - t0
    for rec in timed:
        if rec["log"] in bad:
            rec["ok"] = False
    for m in msgs[:20]:
        print(f"perfbench check: {m}", file=sys.stderr)
    warm_bad = bad - {r["log"] for r in timed}

    attempted = len(timed)
    failed = sum(not r["ok"] for r in timed)
    summary = report.summary(wl, timed, wall, setup_s)
    summary.update(cold_start_s=cold_start_s, generate_s=generate_s, warm_s=warm_s,
                   check_s=check_s, heap_mb=probes.max_heap_mb(spark), peak_rss_mb=peak_rss,
                   peak_heap_mb=peak_heap, live_heap_mb=probes.live_heap_mb(spark),
                   failure_share=stats.failure_share(attempted, failed))
    if hasattr(wl, "recalls"):
        summary["recall_at_k"] = wl.recalls
    print("perfbench summary: " + json.dumps(summary), flush=True)

    if tracer.enabled:
        tracer.unwrap_all()
        spans_path = os.path.join(build, f"perfbench-spans-{args.workload}-{args.seed}.json")
        with open(spans_path, "w") as fh:
            json.dump(tracer.dump(), fh)
        metrics = report.per_layer(tracer, wl, timed, summary, overhead + tracer.cost - cost0)
    else:
        metrics = report.end_to_end(summary)
    result = {
        "correct": failed == 0 and not msgs and not warm_bad,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
    return result


def wrap_public_calls(tracer) -> None:
    """Wrap the public calls the workloads make into each module."""
    from salesdata_engineering_spark import ingest, io, marts
    from salesdata_engineering_spark.ext import ann_index

    for attr in ("ingest_batch", "validate_files", "route_rejected", "union_files"):
        tracer.wrap(ingest, attr)
    tracer.wrap(ingest.FileLedger, "record", "ingest.ledger_record")
    tracer.wrap(ingest.FileLedger, "pending", "ingest.ledger_pending")
    for attr in ("customer_monthly_spend", "sales_team_mart"):
        tracer.wrap(marts, attr)
    for attr in ("write_parquet", "write_partition_overwrite_dynamic"):
        tracer.wrap(io, attr, "io.write")
    tracer.wrap(ann_index, "build_ivf_pq_index", "ann_index.build")
    tracer.wrap(ann_index, "search_ivf_pq_index", "ann_index.search.compose")
    tracer.wrap(ann_index, "append_ivf_pq_index", "ann_index.append")


if __name__ == "__main__":
    sys.exit(main())
