"""Compare two sets of benchmark results taken on the same host shape.

    python3 perfbench/compare.py BASE.txt NEW.txt

Each file holds the standard output of one or more ``run.py`` runs. For every
workload present in both, prints the median of each reported figure on each
side and their ratio. Refuses, with exit code 3, when a result in either file
was taken on another host shape (cpus, driver heap, RAM or pyspark version)
than the first result of BASE. Given untraced runs as BASE and traced runs of
the same seeds as NEW, the ``pass_s`` row is the tracing overhead.
"""

from __future__ import annotations

import json
import statistics
import sys

SHAPE_KEYS = ("cpus", "driver_heap", "mem_total", "pyspark")


def load(path: str) -> list[dict]:
    """The report lines (those with a ``host`` key) of a results file."""
    out = []
    with open(path, encoding="utf-8") as f:
        for line in f:
            line = line.strip()
            if line.startswith("{"):
                rec = json.loads(line)
                if "host" in rec:
                    out.append(rec)
    return out


def shape(rec: dict) -> tuple:
    return tuple(rec["host"][k] for k in SHAPE_KEYS)


def medians(recs: list[dict]) -> dict[str, dict[str, float]]:
    groups: dict[str, dict[str, list[float]]] = {}
    for r in recs:
        g = groups.setdefault(r["workload"], {})
        for k, v in r["report"].items():
            if isinstance(v, (int, float)) and not isinstance(v, bool):
                g.setdefault(k, []).append(float(v))
    return {k: {m: statistics.median(v) for m, v in g.items()} for k, g in groups.items()}


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    base, new = load(argv[0]), load(argv[1])
    if not base or not new:
        print("compare: no results in one of the files", file=sys.stderr)
        return 2
    ref = shape(base[0])
    for r in base + new:
        if shape(r) != ref:
            print(f"compare: host shape {dict(zip(SHAPE_KEYS, shape(r)))} differs "
                  f"from {dict(zip(SHAPE_KEYS, ref))}; refusing to compare",
                  file=sys.stderr)
            return 3
    mb, mn = medians(base), medians(new)
    for key in sorted(set(mb) & set(mn)):
        print(key)
        for m in sorted(set(mb[key]) & set(mn[key])):
            b, n = mb[key][m], mn[key][m]
            ratio = f"{n / b:.3f}" if b else "-"
            print(f"  {m:28s} {b:14.4f} {n:14.4f}  x{ratio}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
