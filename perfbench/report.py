"""Turn one run's op records and spans into the reported metrics."""

from __future__ import annotations

import os
from collections import defaultdict

import stats

#: end-to-end metrics, as declared in BENCHMARK.json
END_TO_END_UNITS = {"setup_s": "s", "cold_start_s": "s", "cycle_s": "s", "peak_rss_mb": "MB"}


def written_since(dirs, since: float) -> tuple[int, int]:
    """Files and bytes under ``dirs`` modified at or after ``since``."""
    files = size = 0
    for d in dirs:
        for base, _, names in os.walk(d):
            for n in names:
                if n.startswith((".", "_")):
                    continue
                st = os.stat(os.path.join(base, n))
                if st.st_mtime >= since:
                    files += 1
                    size += st.st_size
    return files, size


def summary(wl, timed: list[dict], wall: float, setup_s: list[float]) -> dict:
    ok = [r for r in timed if r["ok"]]
    per_type = stats.medians_by_type((r["type"], r["s"]) for r in ok)
    # a type whose every op failed is timed over its failed ops
    per_type = {**stats.medians_by_type((r["type"], r["s"]) for r in timed), **per_type}
    by_type = defaultdict(list)
    for r in ok:
        by_type[r["type"]].append(r["s"])
    return {
        "workload": wl.name,
        "sizes": wl.sizes(),
        "setup_runs_s": setup_s,
        "setup_s": stats.median(setup_s),
        "timed_wall_s": wall,
        "ops": len(timed),
        "cycle": wl.cycle,
        # one cycle of the workload's mix, each op type at its median
        "cycle_s": sum(n * per_type[t] for t, n in wl.cycle.items()),
        "ops_per_s": len(ok) / wall,
        "p50_by_type": per_type,
        "tail_by_type": {t: stats.tail(v) for t, v in sorted(by_type.items())},
        "count_by_type": {t: len(v) for t, v in sorted(by_type.items())},
        "op_s": [(r["type"], round(r["s"], 4)) for r in timed],
    }


def end_to_end(s: dict) -> dict:
    return {k: {"value": s[k], "unit": u} for k, u in END_TO_END_UNITS.items()}


def _per_op(tracer, prefix: str, ops: set[int]) -> list[float]:
    """Per timed op, the summed duration of the outermost spans whose name
    starts with ``prefix``, for the ops that made such a call."""
    by_id = {s.id: s for s in tracer.spans}
    acc: dict[int, float] = defaultdict(float)
    for s in tracer.spans:
        if s.op in ops and s.name.startswith(prefix):
            p = by_id.get(s.parent)
            if p is not None and p.name.startswith(prefix):
                continue  # nested inside a span already counted
            acc[s.op] += s.dur
    return list(acc.values())


def _med(values) -> float:
    values = list(values)
    return stats.median(values) if values else 0.0


def _mean(values) -> float:
    values = list(values)
    return sum(values) / len(values) if values else 0.0


def per_layer(tracer, wl, timed: list[dict], summary_: dict, overhead: float) -> dict:
    ops = {i for i, r in enumerate(timed) if r["ok"]}
    spans = tracer.spans
    incl_jobs = tracer.inclusive("jobs")
    incl_stages = tracer.inclusive("stages")
    incl_tasks = tracer.inclusive("tasks")

    def calls(name, timed_only=True):
        return [s for s in spans if s.name == name and (s.op in ops or not timed_only)]

    def jobs_per_op(names, counts=incl_jobs):
        acc: dict[int, int] = defaultdict(int)
        for s in spans:
            if s.op in ops and s.name in names:
                acc[s.op] += counts[s.id]
        return list(acc.values())

    m: dict[str, tuple[float, str]] = {}
    get_spark = calls("session.get_spark", timed_only=False)
    m["session.get_spark_s"] = (get_spark[0].dur, "s")

    ing = calls("ingest.ingest_batch")
    m["ingest.ingest_batch_s"] = (_med(s.dur for s in ing), "s")
    m["ingest.validate_files_s"] = (_med(s.dur for s in calls("ingest.validate_files")), "s")
    m["ingest.union_files_s"] = (_med(s.dur for s in calls("ingest.union_files")), "s")
    m["ingest.ledger_s"] = (_med(_per_op(tracer, "ingest.ledger_", ops)), "s")
    m["ingest.jobs"] = (_med(incl_jobs[s.id] for s in ing), "count")
    log = [wl.op_log[r["log"]] for i, r in enumerate(timed) if i in ops and r["log"] is not None]
    ing_log = [e for e in log if "accepted" in e]
    m["ingest.files_accepted"] = (_mean(len(e["accepted"]) for e in ing_log), "count")
    m["ingest.files_rejected"] = (_mean(len(e["rejected"]) for e in ing_log), "count")

    m["marts.compose_s"] = (_med(_per_op(tracer, "marts.", ops)), "s")

    io_ops = [i for i in ops if any(s.op == i and s.name == "io.write" for s in spans)]
    m["io.write_s"] = (_med(_per_op(tracer, "io.write", ops)), "s")
    m["io.jobs"] = (_med(jobs_per_op({"io.write"})), "count")
    m["io.files_written"] = (_mean(timed[i]["files"] for i in io_ops), "count")
    m["io.bytes_written"] = (_mean(timed[i]["bytes"] for i in io_ops), "bytes")

    from workloads import Serve

    for q in Serve.QUERY_LIST:
        names = {f"registry.{q}.compose", f"registry.{q}.execute"}
        m[f"registry.{q}.compose_s"] = (_med(s.dur for s in calls(f"registry.{q}.compose")), "s")
        m[f"registry.{q}.execute_s"] = (_med(s.dur for s in calls(f"registry.{q}.execute")), "s")
        m[f"registry.{q}.jobs"] = (_med(jobs_per_op(names)), "count")
        m[f"registry.{q}.stages"] = (_med(jobs_per_op(names, incl_stages)), "count")
        m[f"registry.{q}.tasks"] = (_med(jobs_per_op(names, incl_tasks)), "count")

    search = {"ann_index.search.compose", "ann_index.search.execute"}
    m["ann_index.search.compose_s"] = (
        _med(s.dur for s in calls("ann_index.search.compose")), "s")
    m["ann_index.search.execute_s"] = (
        _med(s.dur for s in calls("ann_index.search.execute")), "s")
    m["ann_index.search.jobs"] = (_med(jobs_per_op(search)), "count")
    app = calls("ann_index.append")
    m["ann_index.append_s"] = (_med(s.dur for s in app), "s")
    m["ann_index.append.jobs"] = (_med(incl_jobs[s.id] for s in app), "count")
    build = calls("ann_index.build", timed_only=False)
    m["ann_index.build_s"] = (_med(s.dur for s in build), "s")
    m["ann_index.build.jobs"] = (_med(incl_jobs[s.id] for s in build), "count")
    m["ann_index.posting_files"] = (
        _med(e["posting_files"] for e in log if "posting_files" in e), "count")

    timed_ok = [timed[i] for i in sorted(ops)]
    m["jvm.cpu_s"] = (_mean(r["cpu_s"] for r in timed_ok), "s")
    m["jvm.gc_s"] = (_mean(r["gc_s"] for r in timed_ok), "s")
    m["jvm.live_heap_mb"] = (summary_["live_heap_mb"], "MB")
    m["jvm.peak_rss_mb"] = (summary_["peak_rss_mb"], "MB")
    m["jvm.peak_heap_mb"] = (summary_["peak_heap_mb"], "MB")

    m["trace.cycle_s"] = (summary_["cycle_s"], "s")
    # the tracer's own time per timed op: span bookkeeping and job-group
    # calls inside the op, probe reads around it
    m["trace.overhead_s"] = (overhead / max(1, len(timed)), "s")
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}
