"""Benchmark of the batch engine: one workload per process, closed loop, one
client.

    python3 perfbench/run.py --workload corpus_batch --seed 1 --seconds 1 --trace 0

Builds its inputs from ``--seed`` inside the checkout, starts Spark at
``local[nproc]`` with a driver heap derived from MemTotal, runs the workload
for ``--seconds`` of timed loop after its set-up, checks the outputs, and
prints as its last stdout line one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. With ``--trace 0`` the metrics are
the end-to-end ones; with ``--trace 1`` Spark's event log is on and the
metrics are the per-layer ones. The line before it is a report with every
end-to-end figure the workload has, the host shape and any errors.

Exits with code 2, printing no result, when the library is not beside it.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Metrics printed on the last line, in BENCHMARK.json's order.
END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
}

def host_shape(cpus: int, heap: str) -> dict:
    """The shape a result was taken on; results of different shapes are not
    compared (see compare.py)."""
    import pyspark

    try:
        commit = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=True,
        ).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        commit = "unknown"  # a checkout without git metadata
    return {
        "cpus": cpus,
        "driver_heap": heap,
        "mem_total": _mem_total_kb() * 1024,
        "pyspark": pyspark.__version__,
        "git_commit": commit,
    }


def _mem_total_kb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def configure_env(work: str, traced: bool) -> tuple[int, str]:
    """Point every Spark and Python scratch path into ``work`` and size the
    session for this host. Must run before pyspark starts its JVM."""
    cpus = len(os.sched_getaffinity(0))
    heap = f"{_mem_total_kb() // 4 // 1024}m"  # a quarter of RAM
    tmp = os.path.join(work, "tmp")
    for d in ("tmp", "local", "warehouse", "eventlog"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": heap,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
        "TMPDIR": tmp,
    })
    # -XX:-UsePerfData keeps the JVM from writing /tmp/hsperfdata_<user>
    conf = [
        "--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "--conf", f"spark.executorEnv.TMPDIR={tmp}",
    ]
    if traced:
        conf += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", "spark.eventLog.rolling.enabled=false",
            "--conf", "spark.eventLog.compress=false",
            "--conf", f"spark.eventLog.dir=file://{os.path.join(work, 'eventlog')}",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(conf + ["pyspark-shell"])
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return cpus, heap


def stop_spark(spark) -> None:
    """Stop the session, then wait until the JVM it launched and every
    process under it (the Python workers) have exited."""
    from pyspark import SparkContext

    from spans import descendants

    pids = set(descendants(os.getpid()))
    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    gateway.proc.wait(timeout=60)
    deadline = time.time() + 30
    while pids and time.time() < deadline:
        pids = {p for p in pids if os.path.exists(f"/proc/{p}")}
        time.sleep(0.1)
    for p in pids:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass  # it exited after the last look


def cpu_canary() -> float:
    """Seconds for a fixed single-threaded hashing loop: a gauge of how fast
    this host runs at the moment, reported beside the figures. Taken while no
    Spark process runs, so the program under test cannot move it."""
    import hashlib

    block = bytes(range(256)) * 4096
    t0 = time.perf_counter()
    for _ in range(250):
        hashlib.sha256(block).digest()
    return time.perf_counter() - t0


def warm_up(spark, tracer) -> None:
    """Session warm-ups every workload pays: the Python worker pool and a
    first aggregation."""
    with tracer.span("warmup", "session"):
        spark.range(64).repartition(spark.sparkContext.defaultParallelism).mapInPandas(
            lambda it: it, schema="id long"
        ).write.mode("overwrite").format("noop").save()
        spark.range(1000).selectExpr("id", "id * 2 as v").groupBy().sum("v").collect()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    lib = os.path.join(ROOT, "vector_db_light_spark", "__init__.py")
    oracle_tools = os.path.join(ROOT, "tools", "driver_sim.py")
    if not (os.path.isfile(lib) and os.path.isfile(oracle_tools)):
        print(f"benchmark: the library is not at {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools"), HERE]
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"benchmark: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    traced = bool(args.trace)
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        cpus, heap = configure_env(work, traced)
        return _run(args, workloads, work, traced, host_shape(cpus, heap))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))  # only when no other run uses it


def _run(args, workloads, work: str, traced: bool, host: dict) -> int:
    import layers
    from spans import RssSampler, Tracer

    t0 = time.time()
    workloads.prepare_inputs(args.workload, args.seed, work)
    gen_s = time.time() - t0
    canary = [cpu_canary()]

    with RssSampler() as rss:
        from vector_db_light_spark.session import get_spark

        tracer = Tracer()
        with tracer.span("session", "session") as sp:
            spark = get_spark(app_name=f"perfbench-{args.workload}")
            spark.sparkContext.setLogLevel("ERROR")
        start_s = sp["end"] - sp["start"]
        tracer.sc, tracer.tag_jobs = spark.sparkContext, traced
        warm_up(spark, tracer)
        warmup_s = tracer.spans[-1]["end"] - tracer.spans[-1]["start"]
        ctx = workloads.Ctx(spark, tracer, args.seed, args.seconds, traced, work)
        ctx.setup_s = start_s + warmup_s
        try:
            with tracer.span(f"workload:{args.workload}", "workload"):
                report = workloads.WORKLOADS[args.workload](ctx)
        finally:
            stop_spark(spark)
    canary.append(cpu_canary())
    report.update(setup_s=ctx.setup_s, peak_rss_mb=rss.peak_bytes / 2**20,
                  gen_s=gen_s, error_rate=ctx.failed / max(1, ctx.attempted),
                  canary_s=statistics.median(canary))

    if traced:
        metrics = layers.per_layer(ctx, os.path.join(work, "eventlog"),
                                   start_s, warmup_s, host["cpus"], report)
        units = layers.PER_LAYER
    else:
        metrics, units = {k: report[k] for k in END_TO_END}, END_TO_END
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "host": host, "report": report, "errors": ctx.errors[:20],
        "per_op_s": ctx.layer.get("per_op_s"), "check_s": ctx.layer.get("check_s"),
        "stream_digest": ctx.layer.get("stream_digest"),
    }))
    print(json.dumps({
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
