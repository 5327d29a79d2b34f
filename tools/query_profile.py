"""Profile registered queries: construction vs execution, and every
checkpoint build by call site.

After one session warm-up, each query runs once untimed, then N times
timed. One JSON line per query on stdout gives the min-of-N construct
seconds (driver-side plan building plus every eager checkpoint build),
the min-of-N exec seconds (noop-sink write) and, from the fastest
construction's ``obs.profile`` record, the build seconds per site.

Usage:
  python tools/query_profile.py [-n N] [--plans DIR] [--stages] query [query ...]

  --plans DIR  also write DIR/<query>.txt, the formatted physical plan
  --stages     turn on Spark's event log and print, per query, the jobs,
               stages, tasks, task/GC seconds, shuffle, spill and Python
               bytes of the last timed construct and exec

Env: SPARK_GRAFT_SF_DIR (required), the fixture directory to read, e.g.
the driver's sf0.1 or sf0.01 directory.

Spark's log goes to stderr at WARN, so a whole-stage-codegen compile
fallback shows there:
  python tools/query_profile.py q 2> err.log
  grep -c 'grows beyond 64 KB' err.log

Other tools import ``warm_up`` from here. (Not named ``profile.py``: with
tools/ on sys.path that file would shadow the stdlib ``profile`` module,
which cProfile reads when pyspark is imported.)
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)


def run_noop(df) -> None:
    """Execute ``df`` through the noop sink (never ``count()``, which
    prunes every computed column)."""
    df.write.mode("overwrite").format("noop").save()


def warm_up(spark, sf_dir: str) -> None:
    """bench.py's session warm-ups: JVM and codegen (one knn_cosine_topk
    run), the memoized IVF centroid artifact (constructing ann_ivf_pruned
    builds it) and the Python worker pool (a no-op mapInPandas). A failing
    step is reported on stderr and skipped."""
    from vector_db_light_spark.registry import QUERIES

    steps = {
        "knn_cosine_topk": lambda: run_noop(QUERIES["knn_cosine_topk"](spark, sf_dir)),
        "ann_ivf_pruned": lambda: QUERIES["ann_ivf_pruned"](spark, sf_dir),
        "python-workers": lambda: run_noop(
            spark.range(64)
            .repartition(32)
            .mapInPandas(lambda it: it, schema="id long")
        ),
    }
    for name, step in steps.items():
        try:
            step()
        except Exception as exc:  # noqa: BLE001 — the query's own runs report it
            print(f"WARMUP-ERR {name}: {exc}", file=sys.stderr)


def _job_totals(jobs: list[dict]) -> dict:
    keys = ("stages", "tasks", "task_run_s", "gc_s", "shuffle_read_bytes",
            "shuffle_write_bytes", "spill_bytes", "python_bytes")
    out = {"jobs": len(jobs), "checkpoint_jobs": sum(j["checkpoint"] for j in jobs)}
    out.update({k: round(sum(j[k] for j in jobs), 3) for k in keys})
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("queries", nargs="+")
    ap.add_argument("-n", type=int, default=3)
    ap.add_argument("--plans", metavar="DIR")
    ap.add_argument("--stages", action="store_true")
    args = ap.parse_args(argv)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
    if not sf_dir:
        ap.error("set SPARK_GRAFT_SF_DIR to a fixture directory")
    log_dir = None
    if args.stages:
        log_dir = tempfile.mkdtemp(prefix="vdl-eventlog-")
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            "--conf spark.eventLog.enabled=true"
            " --conf spark.eventLog.rolling.enabled=false"
            " --conf spark.eventLog.compress=false"
            f" --conf spark.eventLog.dir=file://{log_dir} pyspark-shell"
        )
    if args.plans:
        os.makedirs(args.plans, exist_ok=True)

    from vector_db_light_spark import obs
    from vector_db_light_spark.plans.explain import explain_string
    from vector_db_light_spark.registry import QUERIES
    from vector_db_light_spark.session import get_spark

    spark = get_spark(app_name="vdl-profile")
    sc = spark.sparkContext
    sc.setLogLevel("WARN")
    warm_up(spark, sf_dir)
    for name in args.queries:
        run_noop(QUERIES[name](spark, sf_dir))  # untimed
        runs = []
        for i in range(args.n):
            last = i == args.n - 1
            if args.stages and last:
                sc.setJobGroup(f"{name}:construct", name)
            with obs.profile(name) as rec:
                t0 = time.perf_counter()
                df = QUERIES[name](spark, sf_dir)
                construct = time.perf_counter() - t0
            if args.plans and last:
                with open(os.path.join(args.plans, f"{name}.txt"), "w") as f:
                    f.write(explain_string(df, mode="formatted"))
            if args.stages and last:
                sc.setJobGroup(f"{name}:exec", name)
            t0 = time.perf_counter()
            run_noop(df)
            runs.append((construct, time.perf_counter() - t0, rec.builds))
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        construct, _, builds = min(runs, key=lambda r: r[0])
        print(json.dumps({
            "query": name,
            "construct_min": round(construct, 3),
            "exec_min": round(min(r[1] for r in runs), 3),
            "construct_all": [round(r[0], 3) for r in runs],
            "exec_all": [round(r[1], 3) for r in runs],
            "checkpoint_s": round(sum(s for _, s, _ in builds), 3),
            "checkpoints": [[site, round(s, 3)] for site, s, _ in builds],
        }), flush=True)
    spark.stop()

    if log_dir:
        sys.path.insert(0, os.path.join(HERE, "perfbench"))
        from spans import find_event_log, read_event_log

        jobs = read_event_log(find_event_log(log_dir))
        for name in args.queries:
            for phase in ("construct", "exec"):
                mine = [j for j in jobs if j["group"] == f"{name}:{phase}"]
                print(json.dumps({"query": name, "phase": phase, **_job_totals(mine)}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
