"""sf1 CORE-scaling validation (VERDICT r15 #1): time the heaviest headline
queries at the synthesized sf1 (tools/scale_check.py's tables, 10x sf0.1)
under local[8] and under local[32], each in a FRESH process, and report the
per-query ratio t_8core / t_32core.

Why this tool exists: PERF_r15's 8-vs-32-core block at sf0.1 read ~1 for
every query (seven FASTER at 8 cores) — at sf0.1 the min-of-N floors are
dominated by fixed per-job latency (DAG scheduling, eager-checkpoint sync
barriers, Python worker round-trips), which cores cannot buy down. The
parallel-compute claim must therefore be measured at a scale where per-row
work dominates: sf1. A data-bound query should read >= ~2.5x on 4x cores;
a query still ~1 AT SF1 has a genuinely serial bottleneck that needs a name
(driver loop, single-partition window, barrier) and a fix or justification.

Methodology mirrors bench.py exactly: one fresh process per core count
(master is fixed at JVM birth), the same three session warm-ups, one
UNTIMED per-query warm-up run (absorbs artifact/fixture builds and codegen)
then min-of-N (default 3) timed noop-sink runs. The canary scan is sampled
before/after so ambient-load skew between the two processes is visible.

Usage:
  python tools/core_scaling.py [query ...]          # parent: synth + 2 runs
  python tools/core_scaling.py --child q1 q2 ...    # internal (one process)

Parent writes the comparison table to stdout and the raw JSON to
/tmp/vdl_core_scaling.json.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.join(HERE, "tools"))

SF1 = "/tmp/vdl_sf1"
SF10 = "/tmp/vdl_sf10"

# The 12 slowest headline-bench queries per PERF_r15 (covers "top-10").
DEFAULT_QUERIES = [
    "llm_corpus_pipeline",
    "curation_mix_manifest",
    "classifier_curation_pipeline",
    "media_curation_pipeline",
    "bm25_wand_topk",
    "video_dhash_neardup",
    "bm25_index_wand_topk",
    "dedup_minhash_lsh",
    "tokenize_pack_pipeline",
    "index_build_pipeline",
    "covisitation_topk",
    "kn_fluency_score",
]

# sf10 follow-up set (document/event-bound queries whose sf1 ratio was
# flat): does core scaling emerge once exec dominates job latency?
SF10_QUERIES = [
    "dedup_minhash_lsh",
    "kn_fluency_score",
    "covisitation_topk",
    "index_build_pipeline",
    "bm25_wand_topk",
    "tokenize_pack_pipeline",
    "llm_corpus_pipeline",
]

N_RUNS = max(1, int(os.environ.get("SPARK_GRAFT_SCALE_RUNS", "3")))


def _synth_sf10(spark) -> None:
    """100x-sf0.1 documents (500k, Spark-synthesized with sf0.1's own
    vocabulary marginals — the scale_check recipe minus the planted
    boilerplate class, which exists to prove df-cap behavior and would
    make the UNCAPPED score-exact dedup queries quadratic by design) and
    100x events (10x replicas of sf1's with fresh key offsets). All
    other tables reuse sf1's files — sf10 probes the document/event-bound
    paths only."""
    import shutil

    import duckdb
    from pyspark.sql import functions as F

    os.makedirs(SF10, exist_ok=True)
    for t in ("orders", "lineitem", "customer", "supplier", "part",
              "nation", "region", "embeddings"):
        dst = f"{SF10}/{t}.parquet"
        if not os.path.exists(dst):
            shutil.copytree(f"{SF1}/{t}.parquet", dst)
    if not os.path.exists(f"{SF10}/events.parquet"):
        ev = spark.read.parquet(f"{SF1}/events.parquet")
        parts = []
        for r in range(10):
            parts.append(
                ev.withColumn("event_id", F.col("event_id") + r * 10_000_000)
                .withColumn("user_id", F.col("user_id") + r * 100_000)
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        out.write.mode("overwrite").parquet(f"{SF10}/events.parquet")
    if os.path.exists(f"{SF10}/documents.parquet"):
        return
    print("core_scaling: synthesizing sf10 documents (500k rows) ...",
          flush=True)
    con = duckdb.connect()
    src01 = "/root/testdata/sf0.1/documents.parquet"
    vocab = con.execute(
        "SELECT w, count(*) AS c FROM (SELECT unnest(string_split(lower(text), ' ')) AS w "
        f"FROM '{src01}') GROUP BY 1 ORDER BY 1"
    ).fetchall()
    langs = [r[0] for r in con.execute(
        f"SELECT DISTINCT lang FROM '{src01}' ORDER BY 1").fetchall()]
    sources = [r[0] for r in con.execute(
        f"SELECT DISTINCT source FROM '{src01}' ORDER BY 1").fetchall()]
    words = [w for w, _ in vocab]
    cum, acc = [], 0
    for _, c in vocab:
        acc += c
        cum.append(acc)
    total = acc

    def lit(v: str) -> str:  # Spark SQL string literal, escapes processed
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"

    words_sql = "array(" + ", ".join(lit(w) for w in words) + ")"
    cums_sql = "array(" + ", ".join(str(c) for c in cum) + ")"
    langs_sql = "array(" + ", ".join(lit(l) for l in langs) + ")"
    srcs_sql = "array(" + ", ".join(lit(s) for s in sources) + ")"

    def h(s: str) -> str:
        return f"CAST(conv(substring(md5({s}), 1, 12), 16, 10) AS BIGINT)"

    h_w = h("concat('w:', CAST(id AS STRING), ':', CAST(j AS STRING))")
    word_expr = (
        f"element_at({words_sql}, CAST(size(filter({cums_sql}, "
        f"c -> c <= pmod({h_w}, {total}))) AS INT) + 1)"
    )
    df = (
        spark.range(500_000)
        .select(
            F.col("id").alias("doc_id"),
            F.expr(
                "concat_ws(' ', transform(sequence(0, CAST(9 + pmod("
                + h("concat('len:', CAST(id AS STRING))")
                + ", 91) AS INT)), j -> " + word_expr + "))"
            ).alias("text"),
            F.expr(
                f"element_at({langs_sql}, CAST(pmod("
                + h("concat('l:', CAST(id AS STRING))")
                + f", {len(langs)}) AS INT) + 1)"
            ).alias("lang"),
            F.expr(
                f"element_at({srcs_sql}, CAST(pmod("
                + h("concat('s:', CAST(id AS STRING))")
                + f", {len(sources)}) AS INT) + 1)"
            ).alias("source"),
        )
        .withColumn("n_chars", F.length("text").cast("long"))
    )
    df.repartition(32).write.mode("overwrite").parquet(
        f"{SF10}/documents.parquet"
    )


def _scale_dir() -> str:
    return os.environ.get("VDL_SCALE_DIR", SF1)


def _canary_once(spark) -> float:
    from pyspark.sql import functions as F

    t0 = time.time()
    spark.read.parquet(f"{_scale_dir()}/lineitem.parquet").agg(
        F.sum("l_quantity"), F.avg("l_extendedprice")
    ).collect()
    return time.time() - t0


def child(names: list[str]) -> int:
    from tools.query_profile import run_noop, warm_up
    from vector_db_light_spark.registry import QUERIES
    from vector_db_light_spark.session import get_spark

    SF1 = _scale_dir()  # noqa: N806 — keep the body below unchanged
    spark = get_spark(app_name="vdl-core-scaling")
    spark.sparkContext.setLogLevel("ERROR")
    cpus = spark.sparkContext.master

    warm_up(spark, SF1)

    def run_once(name: str) -> float:
        t0 = time.time()
        run_noop(QUERIES[name](spark, SF1))
        return round(time.time() - t0, 3)

    canary = [_canary_once(spark)]
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"core_scaling: {name}")
        try:
            run_once(name)  # untimed warm-up (artifacts, codegen, caches)
            timings[name] = min(run_once(name) for _ in range(N_RUNS))
        except Exception as exc:  # noqa: BLE001
            errors[name] = f"{type(exc).__name__}: {str(exc).splitlines()[0][:200]}"
        print(
            f"  [{cpus}] {name}: {timings.get(name, 'ERR')}",
            file=sys.stderr,
            flush=True,
        )
    canary.append(_canary_once(spark))
    out = {
        "master": cpus,
        "n_runs": N_RUNS,
        "queries": timings,
        "canary_sec": round(sorted(canary)[len(canary) // 2], 3),
    }
    if errors:
        out["err"] = errors
    print(json.dumps(out))
    spark.stop()
    return 0


def main() -> int:
    if len(sys.argv) >= 2 and sys.argv[1] == "--child":
        return child(sys.argv[2:])

    args = sys.argv[1:]
    sf10 = bool(args) and args[0] == "--sf10"
    if sf10:
        args = args[1:]
    names = args or list(SF10_QUERIES if sf10 else DEFAULT_QUERIES)

    # Synthesize sf1 once (idempotent; scale_check owns the recipe).
    import scale_check as SC
    from vector_db_light_spark.session import get_spark

    spark = get_spark(app_name="vdl-core-scaling-synth")
    spark.sparkContext.setLogLevel("ERROR")
    SC._synth_sf1(spark)
    for t in ("orders", "lineitem", "customer", "supplier", "part",
              "events", "embeddings"):
        SC._replicate(spark, t)
    for t in ("nation", "region"):
        SC._copy(spark, t)
    if sf10:
        _synth_sf10(spark)
    spark.stop()

    results: dict[str, dict] = {}
    for cpus in ("32", "8"):
        env = dict(
            os.environ,
            SPARK_GRAFT_CPUS=cpus,
            VDL_SCALE_DIR=SF10 if sf10 else SF1,
        )
        print(f"== local[{cpus}] ==", flush=True)
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--child", *names],
            env=env,
            capture_output=True,
            text=True,
        )
        sys.stderr.write(proc.stderr)
        line = [l for l in proc.stdout.splitlines() if l.startswith("{")]
        if not line:
            print(f"child local[{cpus}] produced no JSON", file=sys.stderr)
            return 1
        results[cpus] = json.loads(line[-1])

    hi, lo = results["32"], results["8"]
    print(f"\ncanary: local[32]={hi['canary_sec']}s local[8]={lo['canary_sec']}s")
    print(f"{'query':34s} {'32c':>8s} {'8c':>8s} {'t8/t32':>7s}")
    table = {}
    for name in names:
        t32, t8 = hi["queries"].get(name), lo["queries"].get(name)
        if t32 is None or t8 is None:
            print(f"{name:34s} ERR")
            continue
        table[name] = round(t8 / t32, 2)
        print(f"{name:34s} {t32:8.3f} {t8:8.3f} {t8 / t32:6.2f}x")
    out = "/tmp/vdl_core_scaling_sf10.json" if sf10 else "/tmp/vdl_core_scaling.json"
    with open(out, "w") as f:
        json.dump({"local32": hi, "local8": lo, "ratio_t8_over_t32": table}, f,
                  indent=1)
    print(f"\nraw JSON: {out}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
