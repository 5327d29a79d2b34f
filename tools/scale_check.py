"""sf1 scale validation (VERDICT r9 #4): run the heaviest headline queries
once at sf0.1 and once at a synthesized sf1 (10x documents) and report the
per-query scaling factor t_sf1/t_sf0.1. A query whose plan is truly linear
should scale ~10x or better (better: fixed per-query overheads — session,
broadcast dims, tiny aggregates — amortize); anything clearly super-linear
is a finding.

The sf1 tables are SYNTHESIZED into /tmp (the real fixture dirs are
read-only and ship no sf1):

  * documents — 50,000 rows drawn from the sf0.1 table's own marginals
    (its exact 31-token vocabulary with empirical unigram weights, 10-100
    token lengths, the same 20 sources / 5 langs), md5-seeded;
  * orders/lineitem/customer/supplier/part/events/embeddings — 10x
    replicas of sf0.1 with per-replica KEY OFFSETS, so key cardinalities
    grow 10x alongside row counts (TPC-H's own sf scaling shape) and
    every join stays consistent (lineitem orderkeys shift with orders');
  * nation/region — fixed dimensions, copied.

That is valid for a SCALING measurement (row counts and cardinalities
grow 10x with the same distribution shape); correctness is the sf0.01
oracle gate's job, not this tool's.

Usage: python tools/scale_check.py [query ...]   (default: the full bench
headline set)
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

SF01 = "/root/testdata/sf0.1"
SF1 = "/tmp/vdl_sf1"

# per-replica key offsets, all > the corresponding sf0.1 maxima
_OFF = {
    "o_orderkey": 1_000_000,
    "l_orderkey": 1_000_000,
    "o_custkey": 100_000,
    "c_custkey": 100_000,
    "l_partkey": 100_000,
    "p_partkey": 100_000,
    "l_suppkey": 10_000,
    "s_suppkey": 10_000,
    "event_id": 1_000_000,
    "user_id": 10_000,
    "vec_id": 10_000,
}


def _replicate(spark, table: str, reps: int = 10) -> None:
    dst = f"{SF1}/{table}.parquet"
    if os.path.exists(dst):
        return
    df = spark.read.parquet(f"{SF01}/{table}.parquet")
    from pyspark.sql import functions as F

    parts = []
    for r in range(reps):
        rep = df
        for col in df.columns:
            if col in _OFF:
                rep = rep.withColumn(col, F.col(col) + F.lit(r * _OFF[col]))
        if "embedding" in df.columns and r > 0:
            # Replicas must be DISTINCT vectors (deterministic per-replica
            # jitter + renormalize), or the synthesized decade is
            # duplicate-degenerate: 10 identical copies per vector are
            # unsplittable by ANY blocking, so every blocked-pairwise op
            # reads as ~100x pairs for 10x rows — an artifact of the
            # synthesis, not the operator (found live round 11:
            # knn_graph_blocked held ~43x even after adaptive plane
            # scaling; real corpora exact-dedup before pairwise tiers).
            jit = F.expr(
                f"transform(embedding, (x, i) -> x + {r}e-3 * sin(i + {r}))"
            )
            nrm = (
                "sqrt(aggregate(_j, cast(0.0 as double),"
                " (a, x) -> a + cast(x as double) * cast(x as double)))"
            )
            rep = (
                rep.withColumn("_j", jit)
                .withColumn(
                    "embedding",
                    F.expr(
                        f"transform(_j, x -> cast(cast(x as double) / {nrm}"
                        " as float))"
                    ),
                )
                .drop("_j")
            )
        parts.append(rep)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out.write.mode("overwrite").parquet(dst)


def _copy(spark, table: str) -> None:
    dst = f"{SF1}/{table}.parquet"
    if not os.path.exists(dst):
        spark.read.parquet(f"{SF01}/{table}.parquet").write.mode(
            "overwrite"
        ).parquet(dst)


def _synth_sf1(spark) -> None:
    """50k-doc documents.parquet with sf0.1's marginal distributions."""
    import duckdb

    if os.path.exists(os.path.join(SF1, "documents.parquet")):
        return
    con = duckdb.connect()
    vocab = con.execute(
        "SELECT w, count(*) AS c FROM (SELECT unnest(string_split(lower(text), ' ')) AS w "
        f"FROM '{SF01}/documents.parquet') GROUP BY 1 ORDER BY 1"
    ).fetchall()
    langs = [r[0] for r in con.execute(
        f"SELECT DISTINCT lang FROM '{SF01}/documents.parquet' ORDER BY 1"
    ).fetchall()]
    sources = [r[0] for r in con.execute(
        f"SELECT DISTINCT source FROM '{SF01}/documents.parquet' ORDER BY 1"
    ).fetchall()]
    words = [w for w, _ in vocab]
    cum, acc = [], 0
    for _, c in vocab:
        acc += c
        cum.append(acc)
    total = acc

    def h(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:12], 16)

    # Planted shared-boilerplate class (VERDICT r14 #1): ~11% of docs open
    # with the SAME 5-word disclaimer followed by a per-doc reference
    # number (a legal footer/header template — realistic boilerplate).
    # The capstone's page text is the doc's first 6 tokens, so every class
    # doc shares a 62-char prefix whose 40-char windows include FOUR
    # content-sampled grams (verified offline against the mod-10 rule)
    # while the unique number defeats exact dedup — the adversarial shape
    # for an uncapped gram-equality candidate join: pair rows ~ 4 x df^2.
    _boiler = [
        "unauthorized", "reproduction", "distribution",
        "worldwide", "document",
    ]

    def make_doc(i: int) -> tuple:
        n = 10 + h(f"len:{i}") % 91
        toks = []
        for j in range(n):
            r = h(f"w:{i}:{j}") % total
            lo, hi = 0, len(cum) - 1
            while lo < hi:
                mid = (lo + hi) // 2
                if cum[mid] > r:
                    hi = mid
                else:
                    lo = mid + 1
            toks.append(words[lo])
        if i % 9 == 5:
            toks[:6] = _boiler + [str(700000 + i)]
        text = " ".join(toks)
        return (
            i,
            text,
            langs[h(f"l:{i}") % len(langs)],
            sources[h(f"s:{i}") % len(sources)],
            len(text),
        )

    print("scale_check: synthesizing sf1 documents (50k rows) ...", flush=True)
    rows = [make_doc(i) for i in range(50_000)]
    df = spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    )
    os.makedirs(SF1, exist_ok=True)
    df.repartition(8).write.mode("overwrite").parquet(f"{SF1}/documents.parquet")


def main() -> int:
    from bench import HEADLINE
    from tools.query_profile import run_noop, warm_up

    names = sys.argv[1:] or list(HEADLINE)
    from vector_db_light_spark.registry import QUERIES
    from vector_db_light_spark.session import get_spark

    spark = get_spark(app_name="vdl-scale-check")
    spark.sparkContext.setLogLevel("ERROR")
    _synth_sf1(spark)
    for t in ("orders", "lineitem", "customer", "supplier", "part",
              "events", "embeddings"):
        _replicate(spark, t)
    for t in ("nation", "region"):
        _copy(spark, t)
    warm_up(spark, SF01)

    def run(name: str, sf_dir: str, n: int = 3) -> float:
        run_noop(QUERIES[name](spark, sf_dir))
        ts = []
        for _ in range(n):
            t0 = time.time()
            run_noop(QUERIES[name](spark, sf_dir))
            ts.append(time.time() - t0)
        return sorted(ts)[n // 2]

    print(f"{'query':34s} {'sf0.1':>8s} {'sf1':>8s} {'factor':>7s}")
    for name in names:
        t01 = run(name, SF01)
        t1 = run(name, SF1)
        print(f"{name:34s} {t01:8.3f} {t1:8.3f} {t1 / t01:6.1f}x", flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
