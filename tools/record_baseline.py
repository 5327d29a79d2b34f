"""Record BENCH_BASELINE.json v3: per-query medians across N fresh-process
invocations of the FULL bench (all headline queries, in headline order, one
process each) — exactly the shape of the per-round artifact, so baseline
and round are like-for-like.

Why v3 (VERDICT r9 #2 root cause): the v2 15-query medians were recorded in
processes that did NOT run the four heavy round-9 headliners, while the
per-round bench runs all queries in one process. The heavy capstones'
JVM/GC/JIT session pressure inflates the small queries 15-21% — which is
real in-process state the canary cannot normalize (it tracks machine load,
not session state). Recording the baseline from full-set in-process runs
removes the mismatch; per-query numbers then compare same-shape runs.

Usage: python tools/record_baseline.py [n_invocations=3]
Writes BENCH_BASELINE.json (previous file preserved as *_v2.json once).
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# BUMP THIS on every re-record (ADVICE r12: the written file's provenance
# must name the version/round that actually recorded it, not a stale one).
BASELINE_PROVENANCE = (
    "baseline v14, recorded at local[4] (4-cpu host, 4023m driver heap) "
    "after the driver-side perceptron trainer replaced the per-round "
    "checkpoint chain "
    "(operators/classifier.py: one counted-example aggregate job + driver "
    "rounds; classifier_curation_pipeline construction 24 -> 3 jobs, 8 -> 0 "
    "checkpoint builds; a headline plan changed, so the baseline is "
    "re-recorded in the same change)"
)


def main() -> int:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    runs: list[dict] = []
    for i in range(n):
        print(f"record_baseline: bench invocation {i + 1}/{n} ...", flush=True)
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "bench.py")],
            capture_output=True,
            text=True,
            cwd=HERE,
            env={**os.environ, "SPARK_GRAFT_BENCH_RUNS": "5"},
        )
        line = next(
            (
                ln
                for ln in proc.stdout.splitlines()
                if ln.startswith("{") and '"queries"' in ln
            ),
            None,
        )
        if line is None:
            print(proc.stdout[-2000:], file=sys.stderr)
            print(proc.stderr[-2000:], file=sys.stderr)
            raise SystemExit("bench produced no JSON line")
        runs.append(json.loads(line))
        print(
            f"  total={runs[-1]['value']}s canary={runs[-1]['canary_sec']}s",
            flush=True,
        )

    names = list(runs[0]["queries"])
    queries = {
        q: round(statistics.median([r["queries"][q] for r in runs]), 3)
        for q in names
    }
    canary = round(statistics.median([r["canary_sec"] for r in runs]), 3)
    # Long-horizon anchor (VERDICT r10 #5): every re-record states its
    # drift against the ORIGINAL v1 baseline on the common query subset —
    # re-records reset the per-round 2x bar by design, so without this
    # ratio a slow cumulative slowdown could hide behind successive
    # re-records. bench.py refuses a baseline whose anchor ratio >= 1.5.
    anchor = None
    v1_path = os.path.join(HERE, "BENCH_BASELINE_v1.json")
    try:
        with open(v1_path) as f:
            v1 = json.load(f)
        common = sorted(set(v1["queries"]) & set(queries))
        if common:
            anchor = {
                "n_queries": len(common),
                "v1_total": round(sum(v1["queries"][q] for q in common), 3),
                "total": round(sum(queries[q] for q in common), 3),
            }
            anchor["ratio"] = round(anchor["total"] / anchor["v1_total"], 3)
            print(
                f"record_baseline: v1-anchor common-{len(common)} subset "
                f"{anchor['total']}s vs v1 {anchor['v1_total']}s = "
                f"{anchor['ratio']}x (bench.py gate: < 1.5x)",
                flush=True,
            )
    except (OSError, ValueError, KeyError):
        print("record_baseline: no v1 anchor available", flush=True)
    out = {
        "metric": (
            f"per-query medians across {n} fresh-process invocations of the "
            f"FULL {len(names)}-query bench (each invocation = warm-up + "
            f"MIN-of-5 in-process, headline order) - {BASELINE_PROVENANCE}. "
            "Lineage: v3 made baseline and round same-shape (full-set "
            "in-process runs; session-state root cause in BASELINE.md), "
            "v4 switched the per-query statistic to min-of-5 (additive "
            "noise scattered sub-second medians 1.2-1.4x on unchanged "
            "plans), v5 embeds the v1_anchor drift ratio bench.py gates "
            "at < 1.5x. v2 kept as BENCH_BASELINE_v2.json"
        ),
        "value": round(sum(queries.values()), 3),
        "unit": "sec",
        "queries": queries,
        "canary_sec": canary,
        "sf": runs[0]["sf"],
    }
    if anchor is not None:
        out["v1_anchor"] = anchor
    dst = os.path.join(HERE, "BENCH_BASELINE.json")
    v2 = os.path.join(HERE, "BENCH_BASELINE_v2.json")
    if os.path.exists(dst) and not os.path.exists(v2):
        shutil.copy(dst, v2)
    with open(dst, "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")
    print(f"record_baseline: wrote {dst} (total {out['value']}s, canary {canary}s)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
