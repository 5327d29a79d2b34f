"""Spans, the peak-RSS sampler and the Spark event-log reader.

Spans are written by the benchmark around its calls into the library (it
changes no library code). Each span is tagged onto Spark as the job group of
every job it launches, so the event log's job, stage and task records can be
attributed back to the span, and from the span to its layer.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time


class Tracer:
    """Records spans (name, layer, parent, start, end) in memory. With
    ``tag_jobs`` each span's id becomes the Spark job group while it is the
    innermost open span."""

    def __init__(self, sc=None, tag_jobs: bool = False):
        self.sc = sc
        self.tag_jobs = tag_jobs
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        rec = {
            "id": f"span-{len(self.spans)}",
            "name": name,
            "layer": layer,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._tag(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._tag(self._stack[-1] if self._stack else None)

    def _tag(self, rec: dict | None) -> None:
        if not self.tag_jobs or self.sc is None:
            return
        if rec is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(rec["id"], rec["name"])


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# -- peak resident memory ----------------------------------------------------

class RssSampler:
    """Samples the summed RSS of every descendant of this process (the
    Spark driver JVM and its Python workers) every ``period`` seconds and
    keeps the peak."""

    def __init__(self, period: float = 0.1):
        self.period = period
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        page = os.sysconf("SC_PAGE_SIZE")
        while not self._stop.is_set():
            rss = sum(pages for pages in descendants(os.getpid()).values())
            self.peak_bytes = max(self.peak_bytes, rss * page)
            self._stop.wait(self.period)


def descendants(root: int) -> dict[int, int]:
    """pid -> resident pages of every live descendant of ``root``."""
    parent, rss = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
            with open(f"/proc/{d}/statm") as f:
                pages = int(f.read().split()[1])
        except (OSError, ValueError, IndexError):
            continue  # the process ended between listdir and open
        pid = int(d)
        # the command name may hold spaces; fields resume after ')'
        parent[pid] = int(stat.rsplit(")", 1)[1].split()[1])
        rss[pid] = pages
    out = {}
    for pid, pages in rss.items():
        p = parent.get(pid)
        while p is not None and p != root and p in parent:
            p = parent[p]
        if p == root:
            out[pid] = pages
    return out


# -- Spark event log -----------------------------------------------------------

_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"


def _job_record(ev: dict) -> dict:
    props = ev.get("Properties") or {}
    return {
        "job_id": ev["Job ID"],
        "group": props.get("spark.jobGroup.id"),
        "start": ev.get("Submission Time", 0) / 1000.0,
        "end": None,
        "stage_ids": list(ev.get("Stage IDs", [])),
        "stage_names": [s.get("Stage Name", "") for s in ev.get("Stage Infos", [])],
        "stages": 0,
        "tasks": 0,
        "task_run_s": 0.0,
        "task_cpu_s": 0.0,
        "gc_s": 0.0,
        "shuffle_read_bytes": 0,
        "shuffle_write_bytes": 0,
        "spill_bytes": 0,
        "input_bytes": 0,
        "output_bytes": 0,
        "python_bytes": 0,
    }


def read_event_log(path: str) -> list[dict]:
    """Parse one Spark JSON event log into per-job records: group, start and
    end (epoch seconds), completed stages, and task-metric sums."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(path, encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                job = _job_record(ev)
                jobs[job["job_id"]] = job
                for sid in job["stage_ids"]:
                    stage_job[sid] = job["job_id"]
            elif kind == "SparkListenerJobEnd":
                job = jobs.get(ev["Job ID"])
                if job is not None:
                    job["end"] = ev.get("Completion Time", 0) / 1000.0
            elif kind == "SparkListenerStageCompleted":
                info = ev.get("Stage Info", {})
                job = jobs.get(stage_job.get(info.get("Stage ID")))
                if job is None:
                    continue
                job["stages"] += 1
                for acc in info.get("Accumulables", []):
                    if acc.get("Name") in (_PY_SENT, _PY_RECV):
                        job["python_bytes"] += int(acc.get("Value", 0))
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(ev.get("Stage ID")))
                m = ev.get("Task Metrics")
                if job is None or not m:
                    continue
                job["tasks"] += 1
                job["task_run_s"] += m.get("Executor Run Time", 0) / 1e3
                job["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                job["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                sr = m.get("Shuffle Read Metrics", {})
                job["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                job["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get(
                    "Shuffle Bytes Written", 0
                )
                job["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
                job["input_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
                job["output_bytes"] += m.get("Output Metrics", {}).get(
                    "Bytes Written", 0
                )
    out = list(jobs.values())
    for job in out:
        if job["end"] is None:
            job["end"] = job["start"]
        job["checkpoint"] = any(
            n.split(" at ", 1)[0] in ("localCheckpoint", "checkpoint")
            for n in job["stage_names"]
        )
    return out


def attribute_jobs(jobs: list[dict], spans: list[dict]) -> dict[str, list[dict]]:
    """Map span id -> the jobs it launched. A job is matched by its job group
    when that names a span; otherwise (jobs started on Spark's own threads,
    e.g. a streaming micro-batch) by the innermost span open at its start."""
    by_id = {s["id"]: s for s in spans}
    out: dict[str, list[dict]] = {s["id"]: [] for s in spans}
    for job in jobs:
        sid = job["group"] if job["group"] in by_id else None
        if sid is None:
            best = None
            for s in spans:
                if s["start"] <= job["start"] <= s["end"] and (
                    best is None or s["start"] >= best["start"]
                ):
                    best = s
            sid = best["id"] if best else None
        if sid is not None:
            out[sid].append(job)
    return out


def find_event_log(log_dir: str) -> str | None:
    """The single event-log file Spark wrote into ``log_dir``."""
    if not os.path.isdir(log_dir):
        return None
    names = sorted(n for n in os.listdir(log_dir) if not n.startswith("."))
    return os.path.join(log_dir, names[0]) if names else None
