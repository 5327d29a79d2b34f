"""Property tests for the round-6 sketch/layout operators: count-min
invariants and mergeability, Bloom soundness, Morton bijectivity, EWMA
fold correctness — checked against plain-Python references on randomized
inputs (seeded: the driver re-runs tests, so no flaky randomness)."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from vector_db_light_spark.operators import sketches as SK


def _random_items(seed: int, n: int = 2000, vocab: int = 120):
    rng = random.Random(seed)
    # Zipf-ish: low keys hot
    return [f"k{int(rng.paretovariate(1.2)) % vocab}" for _ in range(n)]


def test_count_min_never_underestimates_and_bounds(spark):
    items = _random_items(7)
    df = spark.createDataFrame([(w,) for w in items], "term STRING")
    exact = {}
    for w in items:
        exact[w] = exact.get(w, 0) + 1
    cells = SK.count_min_cells(df, "term", depth=4, width=64)
    keys = df.distinct()
    est = {
        r["term"]: r["cm_estimate"]
        for r in SK.count_min_estimates(keys, cells, "term", 4, 64).collect()
    }
    assert set(est) == set(exact)
    n = len(items)
    for w, c in exact.items():
        assert est[w] >= c  # never underestimates
        assert est[w] - c <= 4.0 * n / 64  # audited bound, wide margin


def test_count_min_cells_merge_is_cellwise_addition(spark):
    """Sketch mergeability: build(cells over A union B) == cellwise
    add(build(A), build(B)) — the property that makes per-day /
    per-partition sketches combinable without re-reading data."""
    a = _random_items(11, n=800)
    b = _random_items(13, n=700)
    df_a = spark.createDataFrame([(w,) for w in a], "term STRING")
    df_b = spark.createDataFrame([(w,) for w in b], "term STRING")
    df_ab = df_a.unionAll(df_b)

    def cells_dict(df):
        return {
            (r["r"], r["bucket"]): r["cell"]
            for r in SK.count_min_cells(df, "term", 4, 64).collect()
        }

    ca, cb, cab = cells_dict(df_a), cells_dict(df_b), cells_dict(df_ab)
    merged = dict(ca)
    for k, v in cb.items():
        merged[k] = merged.get(k, 0) + v
    assert merged == cab


def test_bloom_no_false_negatives_and_low_fp(spark):
    members = [f"m{i}" for i in range(500)]
    others = [f"x{i}" for i in range(2000)]
    mdf = spark.createDataFrame([(w,) for w in members], "key STRING")
    probe = spark.createDataFrame(
        [(w,) for w in members + others], "key STRING"
    )
    words = SK.bloom_word_table(mdf, "key", n_bits=65536, k=4)
    res = {
        r["key"]: r["bloom_maybe"]
        for r in SK.bloom_maybe_contains(
            probe, words, "key", ["key"], 65536, 4
        ).collect()
    }
    assert all(res[w] == 1 for w in members)  # soundness: zero false negatives
    fp = sum(res[w] for w in others)
    # 500 keys in 65536 bits at k=4 -> theoretical fp ~ 1e-6; allow slack
    assert fp <= 4, f"implausible false-positive count {fp}"


def test_morton_key_is_bijective_and_interleaves(spark):
    from vector_db_light_spark.plans.zorder import morton_key

    pairs = [(x, y) for x in range(0, 256, 7) for y in range(0, 256, 11)]
    df = spark.createDataFrame(pairs, "x INT, y INT")
    rows = df.select(
        "x", "y", morton_key(F.col("x"), F.col("y"), bits=8).alias("z")
    ).collect()

    def py_morton(x, y):
        z = 0
        for i in range(8):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    seen = set()
    for r in rows:
        assert r["z"] == py_morton(r["x"], r["y"])
        seen.add(r["z"])
    assert len(seen) == len(pairs)  # injective on the bucket grid


def test_ewma_fold_matches_python_recurrence(spark):
    from vector_db_light_spark.operators.relational import ewma_per_key

    rng = random.Random(3)
    rows = [
        (u, i, rng.uniform(-5, 5))
        for u in range(5)
        for i in range(rng.randint(1, 40))
    ]
    df = spark.createDataFrame(rows, "user_id INT, seq INT, value DOUBLE")
    got = {
        r["user_id"]: (r["n_events"], r["last_value"], r["ewma"])
        for r in ewma_per_key(df, "user_id", ["seq"], "value", 0.2).collect()
    }
    by_user = {}
    for u, i, v in rows:
        by_user.setdefault(u, []).append((i, v))
    for u, seq in by_user.items():
        seq.sort()
        e = seq[0][1]
        for _, v in seq[1:]:
            e = 0.2 * v + 0.8 * e
        n, last, ewma = got[u]
        assert n == len(seq)
        assert last == seq[-1][1]
        assert ewma == e  # bit-identical fold


def test_count_min_cells_build_incrementally_in_streaming(spark, tmp_path):
    """The CM grid is an additive groupBy, so Structured Streaming builds
    it with the SAME operator and complete-mode output equals the batch
    sketch — the per-day incremental profiling path needs no new code."""
    items = _random_items(17, n=1500)
    src = str(tmp_path / "cm_src")
    df = spark.createDataFrame([(w,) for w in items], "term STRING")
    # two files ~ two micro-batches worth of input
    df.repartition(2).write.parquet(src)
    schema = spark.read.parquet(src).schema

    stream = spark.readStream.schema(schema).parquet(src)
    cells_stream = SK.count_min_cells(stream, "term", depth=4, width=64)
    q = (
        cells_stream.writeStream.format("memory")
        .queryName("cm_cells")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["r"], r["bucket"]): r["cell"]
        for r in spark.sql("SELECT * FROM cm_cells").collect()
    }
    want = {
        (r["r"], r["bucket"]): r["cell"]
        for r in SK.count_min_cells(
            spark.read.parquet(src), "term", 4, 64
        ).collect()
    }
    assert got == want


def test_salted_join_equals_plain_join_on_skewed_keys(spark):
    from vector_db_light_spark.operators.relational import salted_join

    rng = random.Random(23)
    # 90% of fact rows share one hot key
    fact = [(i, "hot" if rng.random() < 0.9 else f"k{rng.randrange(20)}",
             rng.randrange(1000)) for i in range(5000)]
    dim = [(k, f"name_{k}") for k in {r[1] for r in fact}]
    fdf = spark.createDataFrame(fact, "row_id BIGINT, key STRING, v INT")
    ddf = spark.createDataFrame(dim, "key STRING, name STRING")

    ddf2 = ddf.withColumnRenamed("key", "dkey")
    got = salted_join(fdf, ddf2, "key", "dkey", n_salts=8, salt_from="row_id")
    want = fdf.join(ddf2, fdf["key"] == ddf2["dkey"])
    assert got.count() == want.count()
    assert got.select("row_id", "name").subtract(
        want.select("row_id", "name")
    ).count() == 0
    # left join keeps unmatched fact rows exactly once
    ddf_partial = ddf2.filter(F.col("dkey") != "hot")
    lj = salted_join(fdf, ddf_partial, "key", "dkey",
                     n_salts=8, salt_from="row_id", how="left")
    assert lj.count() == len(fact)
    assert lj.filter(F.col("name").isNull()).count() == sum(
        1 for r in fact if r[1] == "hot"
    )
