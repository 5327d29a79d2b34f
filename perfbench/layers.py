"""Per-layer metrics of a traced run: the benchmark's spans joined with the
job, stage and task records of Spark's event log.

Figures named per pass are the median over the run's timed passes (a pass is
one round of every query of the workload, or one add-search-delete cycle) of
that pass's total.
"""

from __future__ import annotations

import statistics

from spans import attribute_jobs, covered, find_event_log, read_event_log

# An op whose layer spans leave more than this share of its wall time
# unaccounted is flagged.
UNACCOUNTED_FLAG = 0.05

# Metrics printed on the last line of a traced run, in BENCHMARK.json's order.
API_METHODS = (
    "create_database", "build_ivf_index", "build_sign_sketch",
    "add_documents", "delete_documents", "search", "search_ann", "search_bm25",
    "search_hamming",
)
PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "queries.construct_s": "s",
    "queries.driver_s": "s",
    "queries.construct_jobs": "count",
    "queries.checkpoint_build_s": "s",
    "queries.checkpoint_jobs": "count",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimize_ms": "ms",
    "catalyst.plan_ms": "ms",
    "exec.wall_s": "s",
    "exec.job_s": "s",
    "exec.driver_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_run_s": "s",
    "exec.task_cpu_s": "s",
    "exec.core_util": "ratio",
    "exec.gc_s": "s",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.input_bytes": "bytes",
    "exec.python_bytes": "bytes",
    **{f"api.{m}_s": "s" for m in API_METHODS},
    **{f"api.{m}_jobs": "count" for m in API_METHODS},
    "api.files_written": "count",
    "api.bytes_written": "bytes",
    "api.search_input_bytes": "bytes",
    "ingest.wall_s": "s",
    "ingest.files_per_s": "1/s",
    "streaming.drain_s": "s",
    "streaming.microbatch_p50_s": "s",
    "streaming.jobs_per_batch": "count",
    "streaming.bytes_written_per_batch": "bytes",
    "streaming.files_per_batch": "count",
    "trace.pass_s": "s",
    "trace.overhead_s": "s",
    "trace.unaccounted_share": "ratio",
    "trace.flagged_ops": "count",
}

_EXEC_SUMS = (
    "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "input_bytes", "python_bytes",
)


def _med(values, default=0.0):
    values = list(values)
    return statistics.median(values) if values else default


def _dur(s: dict) -> float:
    return s["end"] - s["start"]


def _descendants(spans: list[dict], root_id: str) -> list[dict]:
    kids: dict[str, list[dict]] = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out, todo = [], [root_id]
    while todo:
        for s in kids.get(todo.pop(), []):
            out.append(s)
            todo.append(s["id"])
    return out


def _job_union(jobs: list[dict]) -> float:
    if not jobs:
        return 0.0
    return covered([(j["start"], j["end"]) for j in jobs],
                   min(j["start"] for j in jobs), max(j["end"] for j in jobs))


def per_layer(ctx, log_dir: str, start_s: float, warmup_s: float, cores: int,
              report: dict) -> dict:
    spans = ctx.tracer.spans
    path = find_event_log(log_dir)
    jobs = read_event_log(path) if path else []
    by_span = attribute_jobs(jobs, spans)

    m = {k: 0.0 for k in PER_LAYER}
    m["session.start_s"] = start_s
    m["session.warmup_s"] = warmup_s

    passes = [s for s in spans if s["layer"] == "pass"]
    per_pass = []
    flagged, shares = [], []
    for p in passes:
        inner = _descendants(spans, p["id"])
        ops = [s for s in inner if s["parent"] == p["id"]]
        construct = [s for s in inner if s["layer"] == "queries"]
        construct_ids = {s["id"] for s in construct}
        cjobs = [j for s in construct for j in by_span[s["id"]]]
        ckpt = [j for j in cjobs if j["checkpoint"]]
        xjobs = [j for s in [p] + inner if s["id"] not in construct_ids
                 for j in by_span[s["id"]]]
        # the call that executes the work: a query's final write, or a
        # whole API call (its planning and its jobs alike)
        exec_spans = [s for s in inner if s["layer"] in ("exec", "api")]
        phases = [s["phases"] for s in inner if "phases" in s]
        row = {
            "pass_s": sum(_dur(o) for o in ops),
            "construct_s": sum(_dur(s) for s in construct),
            "construct_driver_s": sum(_dur(s) for s in construct) - _job_union(cjobs),
            "construct_jobs": len(cjobs),
            "checkpoint_s": _job_union(ckpt),
            "checkpoint_jobs": len(ckpt),
            "analysis_ms": sum(ph["analysis"] for ph in phases),
            "optimize_ms": sum(ph["optimization"] for ph in phases),
            "plan_ms": sum(ph["planning"] for ph in phases),
            "trace_s": sum(_dur(s) for s in inner if s["layer"] == "trace"),
            "exec_wall_s": sum(_dur(s) for s in exec_spans),
            "exec_job_s": _job_union(xjobs),
            "exec_driver_s": sum(_dur(s) for s in exec_spans) - _job_union(xjobs),
            "exec_jobs": len(xjobs),
            **{k: sum(j[k] for j in xjobs) for k in _EXEC_SUMS},
        }
        per_pass.append(row)
        for op in ops:
            kids = [s for s in inner if s["parent"] == op["id"]]
            if not kids:
                continue  # an API call is its own layer span
            gap = _dur(op) - covered([(k["start"], k["end"]) for k in kids],
                                     op["start"], op["end"])
            share = gap / _dur(op) if _dur(op) else 0.0
            shares.append(share)
            if share > UNACCOUNTED_FLAG:
                flagged.append(op["name"])

    def pm(key):
        return _med(r[key] for r in per_pass)

    m.update({
        "queries.construct_s": pm("construct_s"),
        "queries.driver_s": pm("construct_driver_s"),
        "queries.construct_jobs": pm("construct_jobs"),
        "queries.checkpoint_build_s": pm("checkpoint_s"),
        "queries.checkpoint_jobs": pm("checkpoint_jobs"),
        "catalyst.analysis_ms": pm("analysis_ms"),
        "catalyst.optimize_ms": pm("optimize_ms"),
        "catalyst.plan_ms": pm("plan_ms"),
        "exec.wall_s": pm("exec_wall_s"),
        "exec.job_s": pm("exec_job_s"),
        "exec.driver_s": pm("exec_driver_s"),
        "exec.jobs": pm("exec_jobs"),
        **{f"exec.{k}": pm(k) for k in _EXEC_SUMS},
        "trace.pass_s": pm("pass_s"),
        "trace.overhead_s": pm("trace_s"),
        "trace.unaccounted_share": _med(shares),
        "trace.flagged_ops": len(flagged),
    })
    wall = m["exec.wall_s"]
    m["exec.core_util"] = m["exec.task_run_s"] / (wall * cores) if wall else 0.0

    for meth in API_METHODS:
        calls = [s for s in spans if s["name"] == f"api:{meth}"]
        m[f"api.{meth}_s"] = _med(_dur(s) for s in calls)
        m[f"api.{meth}_jobs"] = _med(len(by_span[s["id"]]) for s in calls)
    io = ctx.layer.get("api_io")
    if io and passes:
        m["api.files_written"] = io["files"] / len(passes)
        m["api.bytes_written"] = io["bytes"] / len(passes)
    searches = [s for s in spans if s["name"].startswith("api:search")]
    m["api.search_input_bytes"] = _med(
        sum(j["input_bytes"] for j in by_span[s["id"]]) for s in searches)

    ingest = ctx.layer.get("ingest", [])
    if ingest:
        m["ingest.wall_s"] = _med(w for w, _ in ingest)
        m["ingest.files_per_s"] = _med(n / w for w, n in ingest)

    stream = ctx.layer.get("stream")
    if stream:
        drains = stream["drains"]
        m["streaming.drain_s"] = sum(d["s"] for d in drains if d["s"] is not None)
        m["streaming.microbatch_p50_s"] = _med(d["s"] for d in drains if d["s"] is not None)
        m["streaming.jobs_per_batch"] = _med(len(by_span[i]) for i in stream["span_ids"])
        m["streaming.bytes_written_per_batch"] = _med(d["bytes"] for d in drains)
        m["streaming.files_per_batch"] = _med(d["files"] for d in drains)

    report["flagged_ops"] = sorted(set(flagged))
    report["event_log_jobs"] = len(jobs)
    return m
