"""Similarity-search operators beyond single-query brute force (knn.py).

Three tiers for the 100 TB design space:
  * ``batch_knn``   — N queries at once: broadcast the query set (tiny) and
    scan the corpus ONCE computing all N dot products, then per-query top-k.
    A multi-query batch is a broadcast theta-join (SURVEY.md §2.3 J3).
  * ``lsh_topk``    — random-hyperplane LSH: a sign-bit bucket key prunes
    the scan to one bucket (expected corpus/2^bits rows). Recall < 1 by
    construction; this is the approximate path.
  * ``ivf_search``  — IVF-style partition pruning: nearest ``nprobe``
    cluster centroids select which partitions to scan. Here clusters come
    from a label column (pyspark.ml KMeans can supply one offline); with
    the table PARTITIONED BY cluster_id the pruned clusters are never read
    (partition pruning at the parquet scan — SURVEY.md §2.1 S6).

Hyperplanes are deterministic literals so results are reproducible and
oracle-checkable; centroids are element-rounded to make the float mean
engine-independent.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import vector as V
from ..obs import materialize


def batch_knn(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    dim: int | None = None,
) -> DataFrame:
    """Cosine top-k per query: one corpus scan x broadcast queries.

    Pass ``dim`` when the vector width is known (it always is in a real
    index): the per-row dot unrolls into codegen-able Add/Multiply chains
    instead of an interpreted HOF fold — identical op order, same hashes.

    Returns (query_id, vec_id, distance, rk). The row_number window +
    ``rk <= k`` filter is deliberately the EXACT shape Spark's
    WindowGroupLimit rule recognizes: the physical plan runs a Partial
    WindowGroupLimit on every input partition BEFORE the exchange, so the
    shuffle moves at most k x |input partitions| rows per query — never
    |corpus| x |queries| — and no query-id partition can blow up however
    few or skewed the queries are. tests/test_plans.py pins this shape
    (a hand-rolled groupBy-partition pre-top-k was measured strictly worse:
    it adds a second exchange for the same reduction).
    """
    q = queries.select(
        F.col(query_id_col), F.col(query_vec_col).cast("array<double>").alias("_qv")
    )
    d = (F.lit(1.0) - V.dot(vector_col, "_qv", dim=dim)).alias(
        "distance"
    )
    scored = corpus.join(F.broadcast(q)).select(
        F.col(query_id_col), F.col(id_col), d
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("distance").asc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
    )


def random_hyperplanes(num: int, dim: int, seed: int = 11) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (literals on both engines)."""
    planes = []
    for p in range(num):
        planes.append(
            [round(math.sin(seed + p * 97 + i * 0.61), 6) for i in range(dim)]
        )
    return planes


def lsh_bucket_expr(vec_col: str | Column, planes: list[list[float]]) -> Column:
    """Sign-bit bucket key: one char per hyperplane ('1' if dot > 0).

    r15: the column NAME passes through to V.dot untouched — dot's
    name+literal form emits one unrolled F.expr string per plane, while
    wrapping the name in F.col() first forced its per-term Column loop
    (~4 ms x dim x planes of Py4J per call, CLAUDE.md rule 4)."""
    bits = [
        F.when(V.dot(vec_col, list(pl)) > 0, "1").otherwise("0")
        for pl in planes
    ]
    return F.concat(*bits)


def batch_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    planes: list[list[float]],
    k: int = 5,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    dim: int | None = None,
) -> DataFrame:
    """Batch ANN: per-query top-k restricted to the query's sign bucket.

    This is `batch_knn` with the broadcast theta-join replaced by a bucket
    EQUI-join — the 100 TB batch-serving shape: each corpus row joins only
    the queries sharing its bucket (expected |queries| / 2^planes of them),
    so compute is corpus x colliding-queries instead of corpus x queries.
    With the corpus written PARTITIONED BY bucket, the join is partition-
    local. Same WindowGroupLimit top-k shape as batch_knn (partial top-k
    per partition before the exchange). Recall < 1 by construction —
    measured by queries/similarity.ann_lsh_recall.
    """
    c = corpus.select(
        F.col(id_col),
        F.col(vector_col),
        lsh_bucket_expr(vector_col, planes).alias("_b"),
    )
    q = queries.select(
        F.col(query_id_col),
        F.col(query_vec_col).cast("array<double>").alias("_qv"),
        lsh_bucket_expr(query_vec_col, planes).alias("_b"),
    )
    d = (F.lit(1.0) - V.dot(vector_col, "_qv", dim=dim)).alias(
        "distance"
    )
    scored = c.join(F.broadcast(q), "_b").select(
        F.col(query_id_col), F.col(id_col), d
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("distance").asc(), F.col(id_col).asc()
    )
    return scored.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= k
    )


def _flip_bit(bucket: Column, i: int) -> Column:
    """Bucket key with sign bit i flipped ('0' <-> '1')."""
    flipped = F.when(F.substring(bucket, i + 1, 1) == "1", "0").otherwise("1")
    parts = []
    if i > 0:
        parts.append(F.substring(bucket, 1, i))
    parts.append(flipped)
    parts.append(F.substring(bucket, i + 2, 2_000_000_000))
    return F.concat(*parts)


def batch_lsh_multiprobe_topk(
    corpus: DataFrame,
    queries: DataFrame,
    planes: list[list[float]],
    k: int = 5,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    dim: int | None = None,
) -> DataFrame:
    """Multi-probe batch LSH: each query probes its own bucket PLUS every
    bucket at Hamming distance 1 (one sign bit flipped) — the standard
    recall lever (Lv et al., "Multi-Probe LSH", VLDB 2007): near neighbors
    lost to a single hyperplane split sit in an adjacent bucket.

    Cost model: the QUERY side fans out x(planes+1) — still tiny and still
    broadcast — while the corpus is scanned once with one bucket key; work
    is corpus x colliding-probes, a (planes+1)/2^planes fraction of brute
    force in expectation. Recall jump is measured by ann_lsh_recall vs
    ann_lsh_multiprobe_recall (0.4 -> see fixture) at identical scan shape.
    A doc colliding with several probes of one query enters the window
    once: probes are deduped per (query, doc) before ranking.
    """
    c = corpus.select(
        F.col(id_col),
        F.col(vector_col),
        lsh_bucket_expr(vector_col, planes).alias("_b"),
    )
    q0 = queries.select(
        F.col(query_id_col),
        F.col(query_vec_col).cast("array<double>").alias("_qv"),
        lsh_bucket_expr(query_vec_col, planes).alias("_qb"),
    )
    probes = F.array_distinct(
        F.array(
            F.col("_qb"), *[_flip_bit(F.col("_qb"), i) for i in range(len(planes))]
        )
    )
    q = q0.select(
        query_id_col, "_qv", F.explode(probes).alias("_b")
    )
    d = (F.lit(1.0) - V.dot(vector_col, "_qv", dim=dim)).alias(
        "distance"
    )
    scored = (
        c.join(F.broadcast(q), "_b")
        .select(F.col(query_id_col), F.col(id_col), d)
        .dropDuplicates([query_id_col, id_col])
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("distance").asc(), F.col(id_col).asc()
    )
    return scored.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= k
    )


def lsh_topk(
    corpus: DataFrame,
    query_vector: list[float],
    planes: list[list[float]],
    k: int = 5,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: scan only the query's sign bucket.

    At scale the bucket key is a materialized partition column, making this
    a partition-pruned scan instead of a full scan + filter.
    """
    qbits = "".join(
        "1" if sum(a * b for a, b in zip(query_vector, pl)) > 0 else "0"
        for pl in planes
    )
    bucketed = corpus.filter(lsh_bucket_expr(vector_col, planes) == qbits)
    d = (F.lit(1.0) - V.dot(vector_col, list(query_vector))).alias(
        "distance"
    )
    return (
        bucketed.select(F.col(id_col), d)
        .orderBy(F.col("distance").asc(), F.col(id_col).asc())
        .limit(k)
    )


def sq8_quantize(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    scale: int = 127,
) -> DataFrame:
    """Scalar quantization to int8 range: q_i = round(x_i * 127).

    Unit-norm components live in [-1, 1], so the fixed scale loses < 0.4%
    per component and shrinks vector IO 4x — at 100 TB the scan is the
    cost, so this is the first compression lever. Integer math downstream
    is engine-exact (no float-parity concerns at all).
    """
    q = F.transform(
        F.col(vector_col).cast("array<double>"),
        lambda x: F.round(x * scale, 0).cast("int"),
    )
    return corpus.select(F.col(id_col), q.alias("q8"))


def knn_sq8(
    corpus: DataFrame,
    query_vector: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    scale: int = 127,
) -> DataFrame:
    """Top-k by quantized integer dot product (descending = most similar).

    The int dot is a lower-precision surrogate for cosine; scores are exact
    integers, so ranking is perfectly reproducible cross-engine.
    """
    qq = [round(v * scale) for v in query_vector]
    quantized = sq8_quantize(corpus, id_col=id_col, vector_col=vector_col, scale=scale)
    qcol = F.array(*[F.lit(int(v)) for v in qq])
    prods = F.zip_with(F.col("q8").cast("array<long>"), qcol.cast("array<long>"),
                       lambda x, y: x * y)
    dot_i = F.aggregate(prods, F.lit(0).cast("long"), lambda acc, x: acc + x)
    return (
        quantized.select(F.col(id_col), dot_i.alias("qdot"))
        .orderBy(F.col("qdot").desc(), F.col(id_col).asc())
        .limit(k)
    )


def sign_words_expr(vec_col: str, dim: int = 64) -> list[Column]:
    """1-BIT sign quantization of an embedding column as 32-bit words in
    BIGINT: word ``w`` bit ``i`` is set iff ``vec[32w+i] > 0`` — 64x
    compression, and Hamming distance between two sign sketches
    approximates angular distance (Charikar 2002's simhash bound applied
    to the raw vector instead of token features). Each word is ONE
    F.expr string of 32 CASE terms (CLAUDE.md rule 4: per-term Column
    loops pay ~4 ms x dim in Py4J construction) and stays strictly below
    2^32, so all the downstream xor/bit_count arithmetic is overflow-free
    BIGINT on both engines (the sketches.py 32-bit-word rule — 1<<63
    would overflow BIGINT on both)."""
    words = []
    for w in range(0, dim, 32):
        terms = " + ".join(
            f"(CASE WHEN get({vec_col}, {w + i}) > 0 THEN {1 << i}L"
            f" ELSE 0L END)"
            for i in range(min(32, dim - w))
        )
        words.append(F.expr(terms))
    return words


def sign_rows(
    df: DataFrame,
    dim: int,
    id_col: str = "chunk_id",
    vector_col: str = "embedding",
) -> DataFrame:
    """(id, w0..wN): the persisted sign sketch's rows, one per vector — a
    pure per-row function of the embedding, so the table only ever
    appends new rows or drops deleted ones."""
    return df.select(
        F.col(id_col),
        *[
            wx.cast("bigint").alias(f"w{j}")
            for j, wx in enumerate(sign_words_expr(vector_col, dim))
        ],
    )


def sign_words_py(vec, dim: int = 64) -> list[int]:
    """Driver-side twin of :func:`sign_words_expr` for a literal query
    vector (same strict ``> 0`` rule; index past the vector's end counts
    as unset, matching get()'s NULL-> CASE-else-0)."""
    words = []
    for w in range(0, dim, 32):
        word = 0
        for i in range(min(32, dim - w)):
            if w + i < len(vec) and vec[w + i] > 0:
                word |= 1 << i
        words.append(word)
    return words


def knn_hamming_rerank(
    corpus: DataFrame,
    query_vector: list[float],
    k: int = 10,
    shortlist: int = 50,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Two-stage 1-bit ANN: coarse top-``shortlist`` by HAMMING distance
    between sign sketches (integer xor+popcount — at scale the sketch is
    a persisted 16-byte column, so the coarse pass scans 64x less data
    than the float vectors and never touches the embedding column:
    column pruning does the work), then exact cosine rerank of the
    shortlist only. Returns (id, hamming, distance) for the final top-k;
    both stages tie-break on id so the pipeline is deterministic
    cross-engine. The recall/shortlist trade-off is measured, not
    assumed (ann_hamming_recall)."""
    q_words = sign_words_py(query_vector, dim)
    words = sign_words_expr(vector_col, dim)
    hd = None
    for wexpr, qw in zip(words, q_words):
        term = F.bit_count(wexpr.bitwiseXOR(F.lit(int(qw))))
        hd = term if hd is None else hd + term
    coarse = (
        corpus.select(F.col(id_col), F.col(vector_col))
        .withColumn("hamming", hd.cast("bigint"))
        .orderBy(F.col("hamming").asc(), F.col(id_col).asc())
        .limit(shortlist)
    )
    d = (F.lit(1.0) - V.dot(vector_col, list(query_vector))).alias("distance")
    return (
        coarse.select(F.col(id_col), F.col("hamming"), d)
        .orderBy(F.col("distance").asc(), F.col(id_col).asc())
        .limit(k)
    )


def batch_hamming_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    shortlist: int = 50,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    dim: int = 64,
) -> DataFrame:
    """Batch form of :func:`knn_hamming_rerank` for recall measurement:
    per query, Hamming-coarse top-``shortlist`` then exact top-``k``
    rerank. The corpus side computes its sign words once; the query side
    is broadcast with ITS words; the coarse stage is integer-only per
    pair, and only shortlist survivors evaluate the 64-term exact dot —
    at 100 TB that is the entire point of the sketch (the coarse pass
    reads the 16-byte words column, not the 256-byte vectors)."""
    c_words = sign_words_expr(vector_col, dim)
    c = corpus.select(
        F.col(id_col),
        F.col(vector_col).alias("_cv"),
        *[wx.alias(f"_cw{j}") for j, wx in enumerate(c_words)],
    )
    q_words = sign_words_expr(query_vec_col, dim)
    q = queries.select(
        F.col(query_id_col),
        F.col(query_vec_col).alias("_qv"),
        *[wx.alias(f"_qw{j}") for j, wx in enumerate(q_words)],
    )
    hd = None
    for j in range(len(c_words)):
        term = F.bit_count(
            F.col(f"_cw{j}").bitwiseXOR(F.col(f"_qw{j}"))
        )
        hd = term if hd is None else hd + term
    w_coarse = Window.partitionBy(query_id_col).orderBy(
        F.col("hamming").asc(), F.col(id_col).asc()
    )
    coarse = (
        c.crossJoin(F.broadcast(q))
        .withColumn("hamming", hd.cast("bigint"))
        .withColumn("_crk", F.row_number().over(w_coarse))
        .filter(F.col("_crk") <= shortlist)
    )
    d = F.lit(1.0) - V.dot("_cv", "_qv", dim=dim)
    w_exact = Window.partitionBy(query_id_col).orderBy(
        F.col("distance").asc(), F.col(id_col).asc()
    )
    return (
        coarse.select(
            F.col(query_id_col), F.col(id_col), F.col("hamming"),
            d.alias("distance"),
        )
        .withColumn("rk", F.row_number().over(w_exact))
        .filter(F.col("rk") <= k)
    )


def pq_codebooks(
    m: int, ksub: int, subdim: int, seed: int = 5, scale: float = 0.15
) -> list[list[list[float]]]:
    """Deterministic product-quantization codebooks:
    ``codebooks[s][c]`` is the ``subdim``-float codeword ``c`` of subspace
    ``s``. Literal (data-independent) like :func:`random_hyperplanes`, so
    queries and oracles share them verbatim; in production the codebooks
    come from per-subspace k-means at index build (a tiny sidecar next to
    ``ivf_centroids`` — training changes quantization error, not the plan).
    ``scale`` ~ the per-element magnitude of unit-norm corpus vectors."""
    return [
        [
            [
                round(scale * math.sin(seed + s * 131 + c * 17 + j * 0.61), 6)
                for j in range(subdim)
            ]
            for c in range(ksub)
        ]
        for s in range(m)
    ]


def train_pq_codebooks(
    corpus: DataFrame,
    m: int,
    ksub: int,
    subdim: int,
    iters: int = 2,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
) -> list[list[list[float]]]:
    """Per-subspace k-means PQ training (Jegou et al. 2011 §III.A) —
    the production replacement for the literal :func:`pq_codebooks`
    (VERDICT r8 #3). Same fixed-point Lloyd discipline as
    ``operators/clustering.py`` (integer micro-unit centroid updates,
    unrolled-codegen squared-L2 assignment, smallest-cluster-id
    tie-break), run over ALL m subspaces in ONE plan: vectors explode to
    (id, s, subvector) rows and every round is one broadcast join + one
    window + one grouped integer aggregate keyed by (s, cluster_id) —
    not m driver-scheduled jobs.

    Returns ``codebooks[s]`` ordered by surviving cluster_id, directly
    consumable by :func:`pq_encode` / :func:`pq_adc_lut` (positional code
    = rank of cluster_id — the oracle reproduces it with a row_number
    over cluster_id). Empty clusters drop out identically on any engine
    replaying the recipe, so the per-subspace codeword count is data-
    determined but engine-independent.

    100 TB posture: the collect is m x ksub centroid rows (kilobytes).
    Train on a bounded sample (PQ codebooks converge on a few million
    rows regardless of corpus size — same note as clustering.py's module
    docstring); one full pq_encode pass then labels the corpus.
    """
    from .clustering import _OFFSET, _SCALE, _u6

    v = F.col(vector_col).cast("array<double>")
    slices = F.array(
        *[F.slice(v, s * subdim + 1, subdim) for s in range(m)]
    )
    emb_s = corpus.select(
        F.col(id_col).alias("_id"), F.posexplode(slices).alias("s", "sv")
    )
    h = F.md5(F.col("_id").cast("string"))
    w_seed = Window.partitionBy("s").orderBy(h.asc(), F.col("_id").asc())
    cents = (
        emb_s.withColumn("_rn", F.row_number().over(w_seed))
        .filter(F.col("_rn") <= ksub)
        .select(
            "s",
            (F.col("_rn") - 1).alias("cluster_id"),
            F.col("sv").alias("centroid"),
        )
    )
    for _ in range(iters):
        d = V.sum_of_squares_distance("_e.sv", "_c.centroid", dim=subdim)
        scored = (
            emb_s.alias("_e")
            .join(F.broadcast(cents.alias("_c")), F.col("_e.s") == F.col("_c.s"))
            .select(
                F.col("_e._id").alias("_id"),
                F.col("_e.s").alias("s"),
                F.col("_e.sv").alias("sv"),
                F.col("_c.cluster_id").alias("cluster_id"),
                d.alias("d"),
            )
        )
        w = Window.partitionBy("_id", "s").orderBy(
            F.col("d").asc(), F.col("cluster_id").asc()
        )
        best = (
            scored.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
        )
        sums = [
            F.sum(_u6(F.col("sv")[i].cast("double"))).alias(f"_s{i}")
            for i in range(subdim)
        ]
        agg = best.groupBy("s", "cluster_id").agg(F.count("*").alias("n"), *sums)
        els = [
            (
                (F.expr(f"_s{i} div n") - F.lit(_OFFSET * _SCALE)).cast("double")
                / F.lit(float(_SCALE))
            ).alias(f"_c{i}")
            for i in range(subdim)
        ]
        per_el = agg.select("s", "cluster_id", *els)
        cents = per_el.select(
            "s",
            "cluster_id",
            F.array(*[F.col(f"_c{i}") for i in range(subdim)]).alias("centroid"),
        )
        # per-round lineage cut (house rule for iterative algorithms):
        # keeps every round one flat job instead of a nested window/join
        # chain whose analysis cost compounds with iters
        cents = materialize(cents)
    rows = cents.orderBy("s", "cluster_id").collect()  # bounded: m x ksub
    books: list[list[list[float]]] = [[] for _ in range(m)]
    for r in rows:
        books[r["s"]].append([float(x) for x in r["centroid"]])
    return books


def pq_encode(
    corpus: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """PQ encode: (id, code_0..code_{M-1}) — each subvector replaced by the
    index of its nearest codeword (squared-L2 argmin, first-index
    tie-break).

    This is the vector-compression lever past SQ8: M codes of ceil(log2 K)
    bits replace M*subdim float32s — 8 bytes instead of 256 at
    (M=8, K=16, dim=64), a 32x scan-IO reduction. At 100 TB the codes table
    (plus a codebook sidecar measured in kilobytes) IS the index; the raw
    vectors are cold storage touched only by an optional exact re-rank of
    the shortlist (`Jegou, Douze, Schmid, "Product Quantization for Nearest
    Neighbor Search", TPAMI 2011`).

    Distances to all K codewords are materialized as columns first —
    ``least(...)`` + the argmin CASE chain reference each distance twice,
    and Catalyst does not CSE through higher-order-function folds (same
    trap as operators/dedup.py shingles).

    r15: every distance/argmin expression is ONE F.expr SQL string, not a
    per-term Column/HOF construction — the old zip_with+aggregate shape
    built M*K fold trees through thousands of Py4J round-trips (~5 s of
    pure driver time per call, CLAUDE.md rule 4) and then evaluated the
    lambdas INTERPRETED per element at runtime (rule 9). The unrolled
    ``(x1-c1)*(x1-c1) + ...`` sum is the identical left-to-right IEEE
    double order as the fold (the seed ``0.0 + t1`` == ``t1`` bitwise:
    every term is a square, so never -0.0) and whole-stage-codegens.
    Codeword literals go through CAST('<repr>' AS DOUBLE) — exact
    round-trip, never a bare SQL decimal literal (ANSI parses those as
    DECIMAL)."""
    m = len(codebooks)
    subdim = len(codebooks[0][0])
    keep = keep_cols or []
    v = F.col(vector_col).cast("array<double>")
    with_subs = corpus.select(
        F.col(id_col),
        *[F.col(c) for c in keep],
        *[
            F.slice(v, s * subdim + 1, subdim).alias(f"_sub_{s}")
            for s in range(m)
        ],
    )

    def _dist_sql(s: int, cw: list[float]) -> str:
        # get(): NULL on out-of-bounds (ADVICE r15 — `arr[i]` is an ANSI
        # runtime error, so one short embedding would kill the whole
        # encode job). The NULL distances make every argmin WHEN false,
        # so a subspace the embedding does not fully cover encodes to
        # the LAST codeword, code K-1 — never NULL. The oracle does the
        # same, but downstream the code looks valid (ADC serving indexes
        # a real LUT entry).
        terms = [
            f"((get(_sub_{s}, {i}) - CAST('{x!r}' AS DOUBLE))"
            f" * (get(_sub_{s}, {i}) - CAST('{x!r}' AS DOUBLE)))"
            for i, x in enumerate(cw)
        ]
        return " + ".join(terms)

    with_dists = with_subs.select(
        F.col(id_col),
        *[F.col(c) for c in keep],
        *[
            F.expr(_dist_sql(s, cw)).alias(f"_d_{s}_{c}")
            for s in range(m)
            for c, cw in enumerate(codebooks[s])
        ],
    )
    code_cols = []
    for s in range(m):
        ksub = len(codebooks[s])
        dmin = "least(" + ", ".join(f"_d_{s}_{c}" for c in range(ksub)) + ")"
        whens = " ".join(
            f"WHEN _d_{s}_{c} = {dmin} THEN {c}" for c in range(ksub - 1)
        )
        code_cols.append(
            F.expr(f"CASE {whens} ELSE {ksub - 1} END").cast("int").alias(
                f"code_{s}"
            )
        )
    return with_dists.select(
        F.col(id_col), *[F.col(c) for c in keep], *code_cols
    )


def pq_adc_lut(
    query_vector: list[float], codebooks: list[list[list[float]]]
) -> list[list[float]]:
    """Asymmetric-distance lookup table: lut[s][c] = squared L2 between the
    query's subvector s and codeword c, computed driver-side with the same
    left-to-right double accumulation as the encode fold (the LUT is a
    LITERAL in the plan — both engines consume identical doubles)."""
    m = len(codebooks)
    subdim = len(codebooks[0][0])
    lut = []
    for s in range(m):
        qsub = query_vector[s * subdim : (s + 1) * subdim]
        row = []
        for cw in codebooks[s]:
            acc = 0.0
            for x, y in zip(qsub, cw):
                acc = acc + (x - y) * (x - y)
            row.append(acc)
        lut.append(row)
    return lut


def pq_adc_topk(
    codes: DataFrame,
    lut: list[list[float]],
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """Top-k by asymmetric distance: adc = sum_s lut[s][code_s], a fixed
    left-to-right sum of M table lookups — the scan touches ONLY the code
    columns (M small ints per row), never the vectors. Ranking is
    TakeOrderedAndProject (no shuffle of the corpus), same as exact knn but
    over 32x less IO; recall loss is measured by ann_pq_recall."""
    adc: Column | None = None
    for s, row in enumerate(lut):
        lut_arr = F.array(*[F.lit(float(v)) for v in row])
        term = F.element_at(lut_arr, F.col(f"code_{s}") + 1)
        adc = term if adc is None else adc + term
    return (
        codes.select(F.col(id_col), adc.alias("adc"))
        .orderBy(F.col("adc").asc(), F.col(id_col).asc())
        .limit(k)
    )


def batch_pq_adc_topk(
    codes: DataFrame,
    luts: DataFrame,
    m: int,
    k: int = 5,
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    lut_col: str = "lut",
) -> DataFrame:
    """Batch ADC serving: ``luts`` is the tiny per-query lookup-table frame
    (query_id, lut ARRAY<ARRAY<DOUBLE>>) — the query-side preprocessing of
    PQ — broadcast against ONE scan of the codes table. Per-row work is M
    array lookups + M-1 adds regardless of dim; the WindowGroupLimit top-k
    shape matches batch_knn (partial top-k before the single exchange)."""
    bcast = F.broadcast(luts.select(query_id_col, lut_col))
    joined = codes.join(bcast)
    adc: Column | None = None
    for s in range(m):
        term = F.element_at(
            F.element_at(F.col(lut_col), s + 1), F.col(f"code_{s}") + 1
        )
        adc = term if adc is None else adc + term
    scored = joined.select(
        F.col(query_id_col), F.col(id_col), adc.alias("adc")
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("adc").asc(), F.col(id_col).asc()
    )
    return scored.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= k
    )


def batch_ivf_probes(
    queries: DataFrame,
    centroids: DataFrame,
    nprobe: int = 2,
    cluster_col: str = "label",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    dim: int | None = None,
) -> DataFrame:
    """(query_id, cluster) probe list: each query's ``nprobe`` nearest
    centroids — the shared front half of batch IVF and IVF+PQ."""
    q = queries.select(
        F.col(query_id_col),
        F.col(query_vec_col).cast("array<double>").alias("_qv"),
    )
    cd = (F.lit(1.0) - V.dot("centroid", "_qv", dim=dim)).alias(
        "_cd"
    )
    probe_w = Window.partitionBy(query_id_col).orderBy(
        F.col("_cd").asc(), F.col(cluster_col).asc()
    )
    return (
        centroids.join(F.broadcast(q))
        .select(F.col(query_id_col), F.col(cluster_col), cd)
        .withColumn("_pr", F.row_number().over(probe_w))
        .filter(F.col("_pr") <= nprobe)
        .select(query_id_col, cluster_col)
    )


def batch_ivf_pq_topk(
    codes: DataFrame,
    probes: DataFrame,
    luts: DataFrame,
    m: int,
    k: int = 5,
    id_col: str = "vec_id",
    cluster_col: str = "label",
    query_id_col: str = "query_id",
    lut_col: str = "lut",
) -> DataFrame:
    """IVF + PQ stacked — the FAISS IVFPQ architecture in DataFrame form:
    the cluster equi-join against the broadcast probe list prunes which
    (row, query) pairs exist at all (with the codes table PARTITIONED BY
    cluster, unprobed partitions are never read), and the ADC lookup runs
    only inside probed clusters over the 32x-compressed codes. Per-row
    cost: one equi-join probe + M array lookups; the top-k keeps the
    WindowGroupLimit pre-reduction shape. Codes here quantize RAW vectors
    (IVF-Flat-PQ); classic IVFPQ quantizes residuals against the probed
    centroid — same plan, different codebook training, noted in SCALE.md.
    """
    cand = codes.join(F.broadcast(probes), cluster_col)
    joined = cand.join(
        F.broadcast(luts.select(query_id_col, lut_col)), query_id_col
    )
    adc: Column | None = None
    for s in range(m):
        term = F.element_at(
            F.element_at(F.col(lut_col), s + 1), F.col(f"code_{s}") + 1
        )
        adc = term if adc is None else adc + term
    scored = joined.select(
        F.col(query_id_col), F.col(id_col), adc.alias("adc")
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("adc").asc(), F.col(id_col).asc()
    )
    return scored.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= k
    )


def batch_ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    nprobe: int = 2,
    k: int = 5,
    cluster_col: str = "label",
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    dim: int | None = None,
) -> DataFrame:
    """Batch IVF: each query probes its ``nprobe`` nearest centroids; the
    corpus joins the (query, probed cluster) pairs on the CLUSTER key.

    The serving shape for many queries at once: centroids are tiny, so the
    per-query probe is a broadcast theta-join + WindowGroupLimit'd top-
    nprobe; the corpus then sees ONE equi-join on cluster_col against a
    broadcast probe list — each corpus row meets only the queries probing
    its cluster (nprobe x |queries| / |clusters| in expectation), never
    the full query set. With the corpus partitioned by cluster_col the
    join is partition-local; for few queries collect the probe list and
    push a static IN filter exactly like single-query ``ivf_search``.
    """
    q = queries.select(
        F.col(query_id_col),
        F.col(query_vec_col).cast("array<double>").alias("_qv"),
    )
    cd = (F.lit(1.0) - V.dot("centroid", "_qv", dim=dim)).alias(
        "_cd"
    )
    probe_w = Window.partitionBy(query_id_col).orderBy(
        F.col("_cd").asc(), F.col(cluster_col).asc()
    )
    probes = (
        centroids.join(F.broadcast(q))
        .select(F.col(query_id_col), F.col(cluster_col), "_qv", cd)
        .withColumn("_pr", F.row_number().over(probe_w))
        .filter(F.col("_pr") <= nprobe)
        .select(query_id_col, cluster_col, "_qv")
    )
    d = (F.lit(1.0) - V.dot(vector_col, "_qv", dim=dim)).alias(
        "distance"
    )
    scored = corpus.join(F.broadcast(probes), cluster_col).select(
        F.col(query_id_col), F.col(id_col), d
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("distance").asc(), F.col(id_col).asc()
    )
    return scored.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= k
    )


def ivf_centroids(
    corpus: DataFrame,
    dim: int,
    cluster_col: str = "label",
    vector_col: str = "embedding",
) -> DataFrame:
    """Per-cluster element-wise mean vector, rounded to 4 decimals per
    element (cross-engine float-mean determinism). One SQL aggregate
    expression, not a per-element Column loop (CLAUDE.md rule 4)."""
    means = ", ".join(
        f"round(avg(CAST(`{vector_col}`[{i}] AS DOUBLE)), 4)" for i in range(dim)
    )
    return corpus.groupBy(cluster_col).agg(
        F.expr(f"array({means})").alias("centroid")
    )


def ivf_search(
    corpus: DataFrame,
    query_vector: list[float],
    dim: int | None = None,
    nprobe: int = 2,
    k: int = 10,
    cluster_col: str = "label",
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    centroids: DataFrame | None = None,
    prune: str = "static",
) -> DataFrame:
    """IVF: pick the ``nprobe`` clusters whose centroids are nearest the
    query, then brute-force only those clusters.

    ``centroids`` is the BUILD-TIME artifact — a tiny (cluster, centroid)
    table written once at index build (``api.VectorDatabaseManager.
    build_ivf_index``, the analogue of the reference's index_metadata.json
    sidecar, vector_db_creator.py:205-235). Pass it so the query path scans
    only the centroid table + the probed clusters. The ``centroids=None``
    fallback recomputes centroids with a FULL corpus groupBy per query —
    acceptable in one-off exploration, a scale-killer in a serving path
    (at 100 TB it is a full scan per query); ``dim`` is then required.

    ``prune`` decides how the probed clusters reach the corpus scan:

      * ``"static"`` (default) — probe the sidecar EAGERLY (an nprobe-row
        collect, the moral equivalent of reading index metadata; not a data
        collect) and push ``cluster_col IN (...)`` into the scan. On a
        corpus PARTITIONED BY cluster_col this is guaranteed static
        partition pruning — the plan shows ``PartitionFilters: [... IN
        (...)]`` and unprobed partitions are never listed, opened, or read
        (pinned by test_plans).
      * ``"join"`` — keep the probe lazy as a broadcast left-semi join.
        Fully deferred, but row-level only in practice: Spark's dynamic
        partition pruning does NOT fire for a limit-derived build side (no
        selective filter predicate), so every partition is still READ and
        filtered. Use only when the probe must stay inside one lazy plan.
    """
    q = list(query_vector)
    if centroids is None:
        if dim is None:
            raise ValueError("dim is required when no centroid table is given")
        cents = ivf_centroids(
            corpus, dim, cluster_col=cluster_col, vector_col=vector_col
        )
    else:
        cents = centroids
    probed = (
        cents.select(
            F.col(cluster_col),
            (F.lit(1.0) - V.dot("centroid", q)).alias("_cd"),
        )
        .orderBy(F.col("_cd").asc(), F.col(cluster_col).asc())
        .limit(nprobe)
        .select(cluster_col)
    )
    if prune == "static":
        probed_ids = [r[cluster_col] for r in probed.collect()]
        pruned = corpus.filter(F.col(cluster_col).isin(probed_ids))
    else:
        pruned = corpus.join(F.broadcast(probed), cluster_col, "left_semi")
    d = (F.lit(1.0) - V.dot(vector_col, q)).alias("distance")
    return (
        pruned.select(F.col(id_col), F.col(cluster_col), d)
        .orderBy(F.col("distance").asc(), F.col(id_col).asc())
        .limit(k)
    )


def mmr_rerank(
    candidates: DataFrame,
    lam: float = 0.5,
    k: int = 5,
    id_col: str = "vec_id",
    rel_col: str = "rel",
    vector_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance diversity re-rank (Carbonell & Goldstein,
    SIGIR'98): greedily pick k results maximizing
    ``lam * rel(d) - (1 - lam) * max_{s in selected} sim(d, s)`` —
    the standard fix for near-duplicate top-k lists in RAG retrieval.

    Greedy selection is inherently sequential, but it runs over the
    CANDIDATE SET ONLY (tens of rows — same cost contract as
    ``cross_rerank``): one Arrow-batched grouped stage, never a corpus
    operation. Pairwise sims are computed with explicit left-to-right
    Python fold loops — NOT numpy dot (pairwise/SIMD summation) — so
    scores are bit-identical to the oracle's list_reduce folds. Ties
    break on the smaller id. Returns (rank, id, mmr_score).
    """
    import pandas as pd

    out_schema = f"rank INT, {id_col} BIGINT, mmr_score DOUBLE"

    def _greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        rows = list(
            pdf[[id_col, rel_col, vector_col]].itertuples(index=False, name=None)
        )
        rows.sort(key=lambda r: r[0])
        vecs = {r[0]: [float(x) for x in r[2]] for r in rows}
        rel = {r[0]: float(r[1]) for r in rows}

        def dot(a, b):
            acc = 0.0
            for x, y in zip(a, b):
                acc = acc + x * y
            return acc

        selected: list[tuple[int, float]] = []
        remaining = [r[0] for r in rows]
        while remaining and len(selected) < k:
            best_id, best_score = None, None
            for d in remaining:
                if selected:
                    m = max(dot(vecs[d], vecs[s]) for s, _ in selected)
                    score = lam * rel[d] - (1.0 - lam) * m
                else:
                    score = rel[d]
                if best_score is None or score > best_score:
                    best_id, best_score = d, score
            selected.append((best_id, best_score))
            remaining.remove(best_id)
        return pd.DataFrame(
            {
                "rank": range(1, len(selected) + 1),
                id_col: [s for s, _ in selected],
                "mmr_score": [sc for _, sc in selected],
            }
        )

    return (
        candidates.withColumn("_g", F.lit(1))
        .groupBy("_g")
        .applyInPandas(_greedy, out_schema)
    )


def rademacher_matrix(d_in: int, d_out: int, seed: int = 13) -> list[list[float]]:
    """Deterministic +-1 projection columns (md5 parity of (seed, i, j)) —
    literals on both engines, like random_hyperplanes."""
    import hashlib

    cols = []
    for j in range(d_out):
        col = []
        for i in range(d_in):
            h = hashlib.md5(f"{seed}:{i}:{j}".encode()).hexdigest()
            col.append(1.0 if int(h[:2], 16) % 2 == 0 else -1.0)
        cols.append(col)
    return cols


def random_projection(
    df: DataFrame,
    d_in: int,
    d_out: int,
    vector_col: str = "embedding",
    out_col: str = "proj",
    seed: int = 13,
) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction: y = (1/sqrt(d_out))
    * R^T x with Rademacher (+-1) R — the sparse-free JL variant (Achlioptas
    2003). Pairwise distances are preserved within (1 +- eps) w.h.p. for
    d_out = O(log n / eps^2); at 100 TB this is the cheap pre-pass that
    shrinks every downstream ANN/dedup shuffle by d_in/d_out with no model.

    Pure Catalyst: d_out dot-product folds per row (same left-to-right
    order contract as functions/vector.py), a narrow map — no shuffle, no
    Python. d_out must make 1/sqrt(d_out) exactly representable if oracle
    parity matters (powers of 4: 0.5, 0.25, 0.125...); the fold + one exact
    scale multiply is then bit-identical across engines.
    """
    cols = rademacher_matrix(d_in, d_out, seed=seed)
    scale = 1.0 / math.sqrt(d_out)
    proj = F.array(
        *[
            V.dot(vector_col, list(c)) * F.lit(scale)
            for c in cols
        ]
    )
    return df.withColumn(out_col, proj)


def pq_encode_residual(
    corpus: DataFrame,
    centroids: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    cluster_col: str = "label",
) -> DataFrame:
    """Classic-IVFPQ encode: quantize the RESIDUAL v - centroid(v) instead
    of the raw vector (Jegou et al. 2011 §III.C — the variant FAISS calls
    IndexIVFPQ). Residuals concentrate near zero, so a fixed codebook
    budget spends its codewords on a tighter distribution — better
    reconstruction at identical code size. One broadcast join against the
    tiny centroid table, then the standard pq_encode argmin; output keeps
    ``cluster_col`` because serving must pick the LUT of the residual's own
    cluster."""
    res = corpus.join(F.broadcast(centroids), cluster_col).select(
        F.col(id_col),
        F.col(cluster_col),
        F.zip_with(
            F.col(vector_col).cast("array<double>"),
            F.col("centroid"),
            lambda x, y: x - y,
        ).alias("_res"),
    )
    return pq_encode(
        res, codebooks, id_col=id_col, vector_col="_res", keep_cols=[cluster_col]
    )


def ivf_pq_residual_topk(
    codes: DataFrame,
    centroids: DataFrame,
    query_vector: list[float],
    codebooks: list[list[list[float]]],
    nprobe: int = 2,
    k: int = 10,
    id_col: str = "vec_id",
    cluster_col: str = "label",
) -> DataFrame:
    """Serve a residual-PQ index: probe the ``nprobe`` nearest centroids,
    build ONE ADC LUT per probed cluster from the query's residual
    q - centroid (asymmetric distance in residual space equals
    ||v - q||^2 up to quantization), and rank probed-cluster codes by
    table lookups only. The corpus scan reads M small ints per row and
    never the vectors. ADC sums the M lookups left-to-right (same order
    as pq_adc_topk).

    r16 (VERDICT r15 #2): the probe + LUT side is nprobe x M x K DRIVER
    arithmetic over the bounded centroid artifact — the same design as
    :func:`pq_adc_lut` (the LUT is a literal in the plan). The old
    in-plan form built the M LUT arrays as one 1024-term projection over
    a 2-row frame: janino's 64 KB method limit tripped, the stage fell
    back to interpreted execution (harmless over 2 rows but the compile
    attempt re-ran per construction), and the broadcast build was an
    extra subjob. Every double here follows the exact op order of the
    old Catalyst expressions (left-to-right folds, no 0.0 seed on the
    square sums) and of the DuckDB oracle, so results are bit-identical;
    the codes-side filter ``cluster IN (probed)`` keeps exactly the rows
    the old broadcast inner join kept."""
    m = len(codebooks)
    subdim = len(codebooks[0][0])
    q = [float(x) for x in query_vector]
    scored = []
    for r in centroids.select(cluster_col, "centroid").collect():
        c = [float(v) for v in r["centroid"]]
        if len(c) != len(q):  # zip below would silently truncate it
            raise ValueError(
                f"centroid {r[cluster_col]!r} has {len(c)} dims, query {len(q)}"
            )
        acc = 0.0  # V.dot's unrolled order: 0.0 + t0 + t1 + ...
        for x, y in zip(c, q):
            acc = acc + x * y
        scored.append((1.0 - acc, r[cluster_col], c))
    scored.sort(key=lambda t: (t[0], t[1]))
    probed = scored[: max(nprobe, 0)]
    if not probed:  # no centroids or nprobe <= 0: nothing is probed
        return codes.filter(F.lit(False)).select(
            F.col(id_col), F.lit(None).cast("double").alias("adc")
        )
    adc_expr: Column | None = None
    labels = []
    for _cd, label, c in probed:
        labels.append(label)
        qr = [a - b for a, b in zip(q, c)]
        adc: Column | None = None
        for s in range(m):
            lut = []
            for cw in codebooks[s]:
                acc2 = None  # the " + ".join form: t0 + t1 + ... (no seed)
                for i, x in enumerate(cw):
                    d = qr[s * subdim + i] - x
                    acc2 = d * d if acc2 is None else acc2 + d * d
                lut.append(acc2)
            term = F.element_at(
                F.array(*[F.lit(float(v)) for v in lut]),
                F.col(f"code_{s}") + 1,
            )
            adc = term if adc is None else adc + term
        adc_expr = (
            F.when(F.col(cluster_col) == label, adc)
            if adc_expr is None
            else adc_expr.when(F.col(cluster_col) == label, adc)
        )
    return (
        codes.filter(F.col(cluster_col).isin(labels))
        .select(F.col(id_col), adc_expr.alias("adc"))
        .orderBy(F.col("adc").asc(), F.col(id_col).asc())
        .limit(k)
    )


def triplet_semihard_mining(
    emb: DataFrame,
    n_anchors: int,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    label_col: str = "label",
    dim: int | None = None,
) -> DataFrame:
    """Triplet mining for contrastive/metric training data: for each
    anchor (the first ``n_anchors`` ids), the NEAREST POSITIVE (same
    label), the HARDEST NEGATIVE (different label, minimal distance), and
    the SEMI-HARD NEGATIVE — FaceNet's selection rule (Schroff et al.,
    CVPR'15): the closest negative that is still FARTHER than the
    positive, ``argmin{d(a,n) : d(a,n) > d(a,p)}`` — the band that trains
    stably where hardest-negative mining collapses.

    Shape: one corpus scan x broadcast anchors (batch_knn's layout, same
    bit-exact unrolled dot), positive/hardest picks are WindowGroupLimit
    reductions, and the semi-hard pick joins the negatives against the
    per-anchor 1-row positive distance (broadcast) before its own
    group-limit. Anchors without a positive drop (inner join); anchors
    whose negatives are ALL closer than the positive emit the -1/999.0
    sentinels (CLAUDE.md nullable-output rule). At 100 TB the exact scan
    swaps for an ANN candidate set (ivf_search/batch_lsh_topk) with the
    same picks downstream — mining never needs exact global argmins to
    produce useful triplets, but the EXACT path here is what the oracle
    can replay."""
    a = emb.filter(F.col(id_col) < n_anchors).select(
        F.col(id_col).alias("_aid"),
        F.col(label_col).alias("_albl"),
        F.col(vector_col).cast("array<double>").alias("_qv"),
    )
    scored = materialize(  # consumed by pos, hard-neg and semi
        emb.join(F.broadcast(a))
        .filter(F.col(id_col) != F.col("_aid"))
        .select(
            F.col("_aid"),
            F.col("_albl"),
            F.col(id_col),
            F.col(label_col),
            (F.lit(1.0) - V.dot(vector_col, "_qv", dim=dim)).alias("_d"),
        )
    )
    w = Window.partitionBy("_aid").orderBy(F.col("_d").asc(), F.col(id_col).asc())

    def pick(df):
        return df.withColumn("_rk", F.row_number().over(w)).filter(
            F.col("_rk") == 1
        )

    pos = pick(scored.filter(F.col(label_col) == F.col("_albl"))).select(
        F.col("_aid").alias("anchor_id"),
        F.col(id_col).alias("pos_id"),
        F.col("_d").alias("pos_dist"),
    )
    negs = scored.filter(F.col(label_col) != F.col("_albl"))
    hard = pick(negs).select(
        F.col("_aid").alias("anchor_id"),
        F.col(id_col).alias("neg_id"),
        F.col("_d").alias("neg_dist"),
    )
    semi = pick(
        negs.join(F.broadcast(pos), negs["_aid"] == pos["anchor_id"]).filter(
            F.col("_d") > F.col("pos_dist")
        )
    ).select(
        F.col("_aid").alias("anchor_id"),
        F.col(id_col).alias("semi_neg_id"),
        F.col("_d").alias("semi_neg_dist"),
    )
    # the three pick tables are <= n_anchors rows each — broadcast the
    # assembly joins (unhinted they come out SMJ: post-window sizes are
    # unknown to the optimizer)
    return (
        pos.join(F.broadcast(hard), "anchor_id")
        .join(F.broadcast(semi), "anchor_id", "left")
        .select(
            "anchor_id",
            "pos_id",
            "pos_dist",
            "neg_id",
            "neg_dist",
            F.coalesce("semi_neg_id", F.lit(-1)).cast("long").alias("semi_neg_id"),
            F.coalesce("semi_neg_dist", F.lit(999.0)).alias("semi_neg_dist"),
        )
    )


def matryoshka_prefix_topk(
    corpus: DataFrame,
    queries: DataFrame,
    prefix_dim: int,
    k: int = 5,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Per-query top-k under PREFIX-cosine: both sides truncated to their
    first ``prefix_dim`` dims and re-normalized — the Matryoshka serving
    lever (Kusupati et al., NeurIPS'22): an MRL-trained embedding's prefix
    is itself a usable lower-cost representation, so the first-stage scan
    reads/computes prefix_dim/dim of the vector work and the full vector
    only reranks survivors. Score = 1 - dot_p/(sqrt(ssq_e)*sqrt(ssq_q)),
    with sqrt the one parity-safe libm call; zero-norm prefixes score
    distance 1.0. Same broadcast-queries x corpus-scan + WindowGroupLimit
    shape as batch_knn."""
    q = queries.select(
        F.col(query_id_col),
        F.slice(F.col(query_vec_col).cast("array<double>"), 1, prefix_dim).alias(
            "_qp"
        ),
    )
    scored = corpus.select(
        F.col(id_col),
        F.slice(F.col(vector_col).cast("array<double>"), 1, prefix_dim).alias(
            "_ep"
        ),
    ).join(F.broadcast(q))
    dot_p = V.dot("_ep", "_qp", dim=prefix_dim)
    ssq_e = V.dot("_ep", "_ep", dim=prefix_dim)
    ssq_q = V.dot("_qp", "_qp", dim=prefix_dim)
    d = F.when(
        (ssq_e > 0) & (ssq_q > 0),
        F.lit(1.0) - dot_p / (F.sqrt(ssq_e) * F.sqrt(ssq_q)),
    ).otherwise(F.lit(1.0))
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("_d").asc(), F.col(id_col).asc()
    )
    return (
        scored.select(query_id_col, id_col, d.alias("_d"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(query_id_col, id_col)
    )


def _blocked_topk(
    a: DataFrame,
    b: DataFrame,
    bucketed: DataFrame,
    k: int,
    max_block: int | None,
    dim: int | None = None,
) -> DataFrame:
    """Shared blocked-pair/top-k core of :func:`knn_graph` and
    :func:`knn_graph_by` (extracted round 12, VERDICT r11 watch #2 — the
    two verbatim copies were one edit away from drifting). ``a`` carries
    (src, _emb_a, _bucket) — possibly probe-exploded — ``b`` carries
    (dst, _emb_b, _bucket); ``bucketed`` is the un-exploded node table the
    skew-cap bucket counts derive from (dst-side truth: each dst lives in
    exactly one bucket even under multi-probe). Optional md5-residue
    sub-split caps per-bucket pair work at |bucket| * max_block; the
    per-src top-k is the WindowGroupLimit shape (rank pushed into the
    shuffle)."""
    join_keys = ["_bucket"]
    if max_block:
        counts = bucketed.groupBy("_bucket").agg(
            F.expr(f"(count(*) + {int(max_block) - 1}) div {int(max_block)}")
            .cast("long")
            .alias("_nsub")
        )

        def _salted(df, idc):
            sub = F.expr(
                f"cast(conv(substr(md5(cast({idc} as string)), 1, 4), 16, 10)"
                " as bigint) % _nsub"
            )
            return (
                df.join(F.broadcast(counts), "_bucket")
                .withColumn("_sub", sub)
                .drop("_nsub")
            )

        a = _salted(a, "src")
        b = _salted(b, "dst")
        join_keys = ["_bucket", "_sub"]
    # r15: with a known dim the distance is the unrolled name+name+dim
    # codegen form (identical IEEE order AND mismatch semantics per
    # V.dot's contract); the Column+Column HOF fold stays the dim-unknown
    # fallback — it evaluates interpreted per element on every candidate
    # pair, the most executed expression of the blocked join
    dist = F.lit(1.0) - (
        V.dot("_emb_a", "_emb_b", dim=dim)
        if dim is not None  # ADVICE r15: truthiness silently fell back on 0
        else V.dot(F.col("_emb_a"), F.col("_emb_b").cast("array<double>"))
    )
    pairs = (
        a.join(b, join_keys)
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst", dist.alias("distance"))
    )
    w = Window.partitionBy("src").orderBy(
        F.col("distance").asc(), F.col("dst").asc()
    )
    return pairs.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= k
    ).select("src", "dst", "rk", "distance")


def knn_graph(
    corpus: DataFrame,
    planes: list[list[float]],
    k: int = 5,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    probe_hamming: int = 0,
    max_block: int | None = None,
    dim: int | None = None,
) -> DataFrame:
    """Blocked k-NN GRAPH construction (round 11, VERDICT r10 #6): per
    node, its k nearest neighbors among nodes sharing its LSH sign bucket
    — the SemDeDup/graph-ANN precursor table. Returns
    (src, dst, rk, distance) with rk 1..k per src by (distance asc,
    dst asc), distance = 1 - cosine (left-to-right double fold, oracle
    bit-parity).

    Blocking = hyperplane sign bucket (embedding_near_dup_lsh's key):
    candidate volume is Σ|bucket|² not |corpus|², and at cluster scale the
    bucket becomes a partition column so each block's self-join is
    partition-local with zero cross-partition shuffle. The per-node top-k
    is the WindowGroupLimit shape (rank pushed into the shuffle), so
    nothing materializes the full within-block pair list beyond the
    running k per node. Nodes isolated in their bucket yield no rows —
    recall vs the exact graph is measured by the knn_graph_recall query.

    ``probe_hamming=1`` turns on MULTI-PROBE (Lv et al. 2007's idea in
    sign-LSH form): each node additionally probes every bucket at Hamming
    distance 1 from its own (flip one sign bit), so boundary pairs split
    by a single hyperplane are recovered. The src side explodes to
    1+len(planes) probe keys; each dst still lives in exactly ONE bucket,
    so no candidate pair is generated twice (no dedup pass needed).
    Candidate volume multiplies by ~(1+planes) — the measured recall
    lift is knn_graph_recall's probed columns.

    ``max_block`` is the SKEW CAP — the lever that matters on duplicate-
    or cluster-degenerate corpora, where no plane count splits a tight
    cluster (random hyperplanes split a pair with probability ~angle/π;
    near-identical vectors share every sign bit — measured round 11: the
    label-clustered fixture occupies ~16-22 buckets at ANY plane count,
    so Σ|bucket|² grew ~96x for 10x rows and adaptive planes changed
    nothing). Oversized buckets sub-split deterministically by a
    portable md5(id) residue into ceil(|bucket|/max_block) sub-blocks;
    each node compares only within its sub-block, capping per-bucket
    pair work at |bucket| * max_block (LINEAR). The recall cost is
    measured, not assumed (knn_graph_recall at sf0.01 is unaffected —
    no fixture bucket exceeds the default there — and within a TIGHT
    cluster any sub-block member is a near-equal neighbor, which is why
    the cap is the standard dedup/ANN answer to this shape). The bucket
    count table is dictionary-scale broadcast state."""
    # planes=[] -> one global block: the EXACT graph (the truth side of
    # knn_graph_recall) through the identical code path
    bucket = (
        lsh_bucket_expr(vector_col, planes) if planes else F.lit("")
    )
    bucketed = corpus.select(
        F.col(id_col),
        F.col(vector_col),
        bucket.alias("_bucket"),
    )
    a = bucketed.select(
        F.col(id_col).alias("src"),
        F.col(vector_col).alias("_emb_a"),
        "_bucket",
    )
    if probe_hamming >= 1 and planes:
        flips = [
            F.concat(
                F.substring("_bucket", 1, i),
                F.when(
                    F.substring("_bucket", i + 1, 1) == "1", "0"
                ).otherwise("1"),
                F.substring("_bucket", i + 2, len(planes) - i - 1),
            )
            for i in range(len(planes))
        ]
        a = a.select(
            "src",
            "_emb_a",
            F.explode(F.array(F.col("_bucket"), *flips)).alias("_bucket"),
        )
    b = bucketed.select(
        F.col(id_col).alias("dst"),
        F.col(vector_col).alias("_emb_b"),
        "_bucket",
    )
    return _blocked_topk(a, b, bucketed, k, max_block, dim=dim)


def adaptive_planes(
    n_rows: int,
    target_bucket: int = 8,
    min_planes: int = 6,
    dim: int = 64,
    seed: int = 11,
) -> list[list[float]]:
    """Corpus-sized hyperplane count for LSH blocking: with b planes the
    expected bucket is n/2^b, so blocked-pairwise work is n * (n/2^b) —
    QUADRATIC unless b grows with the corpus. This picks
    b = max(min_planes, round(log2(n / target_bucket))), holding expected
    bucket size ~target_bucket so total pair work stays ~n * target.
    Found empirically (SCALE.md round 11): knn_graph at FIXED 6 planes
    scaled 52.8x for 10x rows; with this policy the plane count rises
    10 -> 13 across that decade and the factor collapses to linear. The
    driver-side count() this needs is one scalar — the same bounded
    collect class as the IVF probe list."""
    import math

    b = min_planes
    if n_rows > target_bucket:
        b = max(min_planes, round(math.log2(n_rows / target_bucket)))
    return random_hyperplanes(b, dim, seed=seed)


def knn_graph_by(
    corpus: DataFrame,
    block_col: str,
    k: int = 5,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    max_block: int | None = None,
    dim: int | None = None,
) -> DataFrame:
    """:func:`knn_graph` with a PRECOMPUTED block column instead of LSH
    sign buckets — the k-means-blocked variant: centroid assignment CAN
    split tight clusters geometrically, which random hyperplanes cannot
    (a hyperplane separates a pair with probability ~angle/π, so
    cluster-degenerate corpora collapse sign-LSH to a handful of buckets
    at any plane count — the round-11 SCALE.md finding). Same per-node
    WindowGroupLimit top-k, same optional md5-residue skew cap. The
    recall comparison vs LSH blocking is measured, not assumed
    (knn_graph_kmeans_recall): on the fixture, raw recall favors LSH at
    its larger probe fan-out while PER-CANDIDATE efficiency favors the
    trained cells ~2.4x — pick by which budget binds."""
    bucketed = corpus.select(
        F.col(id_col),
        F.col(vector_col),
        F.col(block_col).cast("string").alias("_bucket"),
    )
    a = bucketed.select(
        F.col(id_col).alias("src"),
        F.col(vector_col).alias("_emb_a"),
        "_bucket",
    )
    b = bucketed.select(
        F.col(id_col).alias("dst"),
        F.col(vector_col).alias("_emb_b"),
        "_bucket",
    )
    return _blocked_topk(a, b, bucketed, k, max_block, dim=dim)
