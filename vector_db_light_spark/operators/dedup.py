"""Deduplication operators for training-data pipelines (build-plan §7
Phase 4; beyond the reference's surface — its only dedup is the implicit
file-hash identity at document_processor.py:42-50).

Five tiers, all expressed as declarative DataFrame plans:
  * exact        — sha256 groupBy (one shuffle on the hash).
  * minhash LSH  — shingle -> K minhashes -> B bands -> candidate pairs via
                   band-key equi-join -> exact-Jaccard verify. The band join
                   is the 100 TB path: candidates scale with true
                   duplicates, not with |corpus|^2.
  * simhash      — 16-bit signed-sum sketch; equal signatures = candidates.
  * n-gram Jaccard — exact pairwise via shingle-inverted-index join (the
                   verify step of LSH; quadratic only within shingle
                   buckets, so use after blocking).
  * embedding cosine — see operators/similarity.py (blocked pairwise).

Portability note: every hash is derived from md5 hex strings (Spark md5 ==
DuckDB md5), never from engine-native hash functions (xxhash64 and DuckDB's
hash() disagree). MinHash uses the lexicographic min of md5(shingle + '#' +
seed) — a valid random-permutation surrogate that both engines compute
identically.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..obs import materialize

NUM_HASHES = 12
NUM_BANDS = 4  # 3 rows per band


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact duplicate groups: one row per distinct text with the canonical
    (min) id and the copy count."""
    return (
        docs.groupBy(F.sha2(text_col, 256).alias("text_hash"))
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def tokens_expr(text_col: str) -> Column:
    """Lower-cased whitespace tokens, empties dropped."""
    return F.filter(
        F.split(F.trim(F.lower(F.col(text_col))), r"\s+"),
        lambda t: t != "",
    )


def shingles_from_tokens(toks: Column, n: int) -> Column:
    """Distinct word n-gram shingles (space-joined) from a TOKEN ARRAY
    COLUMN. Callers must materialize the token array in a prior projection:
    Catalyst does not eliminate common subexpressions through higher-order
    functions, so referencing ``tokens_expr(...)`` several times inside one
    expression re-runs the whole split chain per reference (measured ~9x
    slower at sf0.1)."""
    make = F.transform(
        F.sequence(F.lit(1), F.size(toks) - n + 1),
        lambda i: F.array_join(F.slice(toks, i, n), " "),
    )
    # sequence(1, m) DESCENDS when m < 1, so guard short docs explicitly.
    return F.array_distinct(
        F.when(F.size(toks) >= n, make).otherwise(
            F.array().cast("array<string>")
        )
    )


def shingle_rows(
    docs: DataFrame, n: int = 3, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, shingle) exploded — the inverted-index layout."""
    toks_df = docs.select(F.col(id_col), tokens_expr(text_col).alias("_toks"))
    return toks_df.select(
        F.col(id_col),
        F.explode(shingles_from_tokens(F.col("_toks"), n)).alias("shingle"),
    )


# Largest prime below 2^48 — the modulus of the double-hash minhash family.
# 48-bit halves keep every intermediate (h1 + 11*h2 < 2^52) inside BIGINT
# under ANSI mode, on both engines.
MINHASH_P = 281_474_976_710_597


def minhash_signatures(
    docs: DataFrame,
    n: int = 3,
    num_hashes: int = NUM_HASHES,
    id_col: str = "doc_id",
    text_col: str = "text",
    rows: DataFrame | None = None,
) -> DataFrame:
    """One row per doc: ``sig_0..sig_{K-1}`` BIGINT minhash columns.

    Kirsch-Mitzenmacher double hashing: ONE md5 per shingle supplies two
    48-bit halves (h1, h2); minhash_j = min over shingles of
    ``(h1 + j*h2) mod P``. Equivalent LSH guarantees to K independent
    hashes ("Less Hashing, Same Performance", Kirsch & Mitzenmacher 2006)
    at 1/K-th the hashing cost — and the signature shuffle carries K
    BIGINTs instead of K 32-char strings. h1/h2 are materialized as
    columns BEFORE the aggregate so the md5 provably runs once per shingle
    (Catalyst CSE inside multi-aggregate expressions is not guaranteed).
    K aggregates in ONE shuffle over the exploded shingles; docs with zero
    shingles are absent (correct: no signature exists).
    Pass precomputed (persisted) ``rows`` to share the shingle explode with
    other consumers — shingling is the dominant cost of the LSH pipeline.
    """
    if rows is None:
        rows = shingle_rows(docs, n=n, id_col=id_col, text_col=text_col)
    p = F.lit(MINHASH_P)
    md5 = F.md5(F.col("shingle"))
    hashed = rows.select(
        F.col(id_col),
        (F.conv(F.substring(md5, 1, 12), 16, 10).cast("bigint") % p).alias("_h1"),
        (F.conv(F.substring(md5, 13, 12), 16, 10).cast("bigint") % p).alias("_h2"),
    )
    aggs = [
        F.min((F.col("_h1") + F.lit(j) * F.col("_h2")) % p).alias(f"sig_{j}")
        for j in range(num_hashes)
    ]
    return hashed.groupBy(id_col).agg(*aggs)


def minhash_band_keys(
    sigs: DataFrame,
    num_hashes: int = NUM_HASHES,
    num_bands: int = NUM_BANDS,
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, band_idx, band_key): band_key = md5 of the band's joined rows
    (sig columns cast to string explicitly — identical digit rendering of
    the BIGINT sigs on both engines)."""
    rows_per_band = num_hashes // num_bands
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.md5(
                    F.concat_ws(
                        "|",
                        *[
                            F.col(f"sig_{b * rows_per_band + r}").cast("string")
                            for r in range(rows_per_band)
                        ],
                    )
                ).alias("band_key"),
            )
            for b in range(num_bands)
        ]
    )
    return sigs.select(F.col(id_col), F.explode(bands).alias("b")).select(
        id_col, "b.band_idx", "b.band_key"
    )


# Band-value document-frequency cap for ADMISSION paths (rule 13, found
# live by the r15 planted disclaimer class): the MinHash exemption —
# "band equality IS the similarity estimate, a hot band is a TRUE
# near-dup cluster" — assumes shingle mass is spread across the doc. A
# shared boilerplate RUN of k shingles (a disclaimer prefix, a templated
# header) can win an entire band's min-hashes across a whole doc class
# and create a FALSE-hot band: measured at sf1, 4 shared shingles put
# 1279 of 2777 planted docs on one band value — 818k of 868k candidate
# pairs, 2367 true (J of the class pairs ~0.1). Candidate generators take
# an opt-in ``max_band_df`` (default OFF, rule 14: every caller's oracle
# must model what it opts into); the admission paths
# (corpus_admission_batch, stream_corpus_admission) pass MAX_BAND_DF,
# while the score-exact dedup queries (dedup_minhash_lsh family,
# stream_curate) keep the uncapped contract — their hot-band answer is
# cluster-canonical aggregation (dedup_clusters_star), documented in
# SCALE.md. Recall trade, stated: a true near-dup cluster larger than
# the cap sharing a band loses THAT band; its pairs still candidate via
# any non-hot band, but a cluster hot on EVERY band is under-deduped —
# exact dedup (which runs first) removes identical members, and
# cluster-scale near-dup is the aggregation regime, not admission's.
MAX_BAND_DF = 8


def _mask_hot_bands(band_keys: DataFrame, max_band_df: int) -> DataFrame:
    hot = (
        band_keys.groupBy("band_idx", "band_key")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") > max_band_df)
        .select("band_idx", "band_key")
    )
    return band_keys.join(
        F.broadcast(hot), ["band_idx", "band_key"], "left_anti"
    )


def lsh_candidate_pairs(
    band_keys: DataFrame,
    id_col: str = "doc_id",
    max_band_df: int | None = None,
) -> DataFrame:
    """Distinct (id_a < id_b) pairs sharing at least one band — an equi-join
    on (band_idx, band_key), never a cross join. ``max_band_df`` (opt-in)
    masks band values carried by more docs than the cap before the
    self-join — see :data:`MAX_BAND_DF`."""
    if max_band_df is not None:
        band_keys = _mask_hot_bands(band_keys, max_band_df)
    a = band_keys.select(
        F.col(id_col).alias("id_a"), "band_idx", "band_key"
    )
    b = band_keys.select(
        F.col(id_col).alias("id_b"), "band_idx", "band_key"
    )
    return (
        a.join(b, ["band_idx", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def incremental_lsh_candidates(
    existing_bands: DataFrame,
    new_bands: DataFrame,
    id_col: str = "doc_id",
    max_band_df: int | None = None,
) -> DataFrame:
    """Candidate (new_id, existing_id) pairs for INCREMENTAL dedup: a new
    batch checked against an already-indexed corpus. The band equi-join runs
    new x existing only — the |existing|^2 half of the work never happens,
    which is the whole point of keeping the band table as a persistent
    artifact: daily ingest cost scales with the batch, not the corpus.
    At cluster scale ``existing_bands`` is a table partitioned/bucketed by
    ``band_key`` so each day's batch joins against it shuffle-free on the
    big side (the batch side broadcasts when small enough).

    Self-duplicates WITHIN the new batch are deliberately out of scope —
    run :func:`lsh_candidate_pairs` on ``new_bands`` for that half.
    ``max_band_df`` (opt-in) masks band values carried by more than the
    cap across batch+index COMBINED (the media-tier pattern: a key
    crossing the threshold later is masked then) — see
    :data:`MAX_BAND_DF`."""
    if max_band_df is not None:
        uni = new_bands.select(id_col, "band_idx", "band_key").unionByName(
            existing_bands.select(id_col, "band_idx", "band_key")
        )
        hot = (
            uni.groupBy("band_idx", "band_key")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") > max_band_df)
            .select("band_idx", "band_key")
        )
        new_bands = new_bands.join(
            F.broadcast(hot), ["band_idx", "band_key"], "left_anti"
        )
    existing = existing_bands.select(
        F.col(id_col).alias("existing_id"), "band_idx", "band_key"
    )
    new = new_bands.select(F.col(id_col).alias("new_id"), "band_idx", "band_key")
    return (
        new.join(existing, ["band_idx", "band_key"])
        .select("new_id", "existing_id")
        .distinct()
    )


def jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    candidates: DataFrame | None = None,
    rows: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard for all pairs sharing >= 1 shingle (or only the
    given candidate pairs): inverted-index self-join -> intersection counts
    -> |A|+|B|-inter union."""
    if rows is None:
        rows = shingle_rows(docs, n=n, id_col=id_col, text_col=text_col)
    sizes = rows.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_shingles"))
    a = rows.select(F.col(id_col).alias("id_a"), "shingle")
    b = rows.select(F.col(id_col).alias("id_b"), "shingle")
    if candidates is not None:
        # Count intersections ONLY for candidate pairs: |cands| x shingles
        # instead of every shingle-sharing pair in the corpus — this is what
        # keeps LSH-verify linear in true duplicates at scale.
        inter = (
            candidates.join(a, "id_a")
            .join(b, ["id_b", "shingle"])
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("n_inter"))
        )
    else:
        inter = (
            a.join(b, "shingle")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("n_inter"))
        )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_shingles").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_shingles").alias("n_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
            ).alias("jaccard"),
        )
    )


def embedding_near_dup_lsh(
    corpus: DataFrame,
    planes: list[list[float]],
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
) -> DataFrame:
    """Embedding near-dup, the 100 TB-blocked path: hyperplane-LSH sign
    bucket as the blocking key (exact copies always collide — identical
    vectors share every sign bit), pairwise cosine only WITHIN buckets.
    Candidate volume is sum over buckets of |bucket|^2 instead of
    |corpus|^2; with b planes the expected bucket is |corpus| / 2^b, so
    add planes as the corpus grows (and at cluster scale make the bucket a
    partition column so each bucket's self-join is partition-local).
    Boundary pairs split by a hyperplane are missed — that is the standard
    LSH recall trade, mirrored identically in the oracle."""
    from .similarity import lsh_bucket_expr

    bucketed = corpus.select(
        F.col(id_col),
        F.col(vector_col),
        lsh_bucket_expr(vector_col, planes).alias("_bucket"),
    )
    a = bucketed.select(
        F.col(id_col).alias("id_a"),
        F.col(vector_col).alias("emb_a"),
        "_bucket",
    )
    b = bucketed.select(
        F.col(id_col).alias("id_b"),
        F.col(vector_col).alias("emb_b"),
        "_bucket",
    )
    from ..functions.vector import dot

    cos = dot(F.col("emb_a"), F.col("emb_b").cast("array<double>"))
    return (
        a.join(b, "_bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(id, label) connected components over an undirected pair list — the
    final stage of every dedup pipeline: near-dup PAIRS are not deletable
    until transitively closed into CLUSTERS (A~B, B~C must keep exactly one
    of {A,B,C}). label = min id in the component.

    Algorithm: iterative min-label propagation. Each round every node takes
    the min of its own label and its neighbors' labels (one equi-join + one
    groupBy-min per round); converges in `diameter` rounds. Duplicate
    clusters are near-cliques (diameter 1-2 in practice), so 2-3 rounds
    close real corpora; `max_iter` bounds pathological chains. Each round
    ends in a checkpoint — mandatory, not an optimization: `labels`
    appears twice in the next round's plan, so without lineage truncation
    the logical plan doubles per round (2^rounds nodes; plan-string
    rendering alone OOMs near round 12).

    ``checkpoint_dir`` selects the checkpoint flavor: None (default, local
    test mode) uses ``localCheckpoint`` — fast, but the blocks live on
    executors, so one lost executor kills the lineage-truncated frame. On a
    real cluster pass a durable path (HDFS/S3): rounds then use reliable
    ``checkpoint()``, which survives executor loss — the right trade at
    1000 executors where losing one mid-iteration is routine. The CALLER
    owns the directory lifecycle (standard Spark practice: one per-job dir,
    deleted after the labels frame is consumed) — Spark does not clean
    checkpoint files unless ``spark.cleaner.referenceTracking.
    cleanCheckpoints`` was set before the context started, and every round
    writes one labels copy. The session's previous checkpoint dir is
    restored on exit (try/finally — ``setCheckpointDir`` is context-global)
    when one existed; a previously-UNSET dir cannot be cleared
    (setCheckpointDir rejects null), so in that case the passed dir stays
    active. Use ``connected_components_star`` (large-star/small-star,
    Kiveris et al., "Connected Components in MapReduce and Beyond") if
    components with large diameters are expected — O(log²) rounds instead
    of O(diameter).

    The driver-side loop is control flow only (a `count()` per round for the
    convergence test); all data movement stays distributed.
    """
    sc = pairs.sparkSession.sparkContext
    prev_ckpt_dir = sc.getCheckpointDir()
    if checkpoint_dir is not None:
        sc.setCheckpointDir(checkpoint_dir)

    durable = checkpoint_dir is not None

    # r15: TRUNCATE the edge list's lineage, don't persist() it. The old
    # lazy persist kept the caller's full pair-generation plan (e.g. the
    # knn-graph blocked self-join with its unrolled 64-dim dots) inside
    # every round's logical plan: execution hit the cache, but Catalyst
    # re-ANALYZED the giant subtree for every join/count of every round —
    # measured 20-138 s of pure driver time on a 550-node sf0.01 graph.
    # The checkpoint cuts each round's plan to an RDD scan.
    try:
        # inside the try: the eager materialization can itself fail (e.g.
        # an ANSI cast on malformed ids) and the finally must still
        # restore the context-global checkpoint dir
        edges = materialize(
            pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
            .unionByName(
                pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
            )
            .distinct(),
            durable=durable,
        )
        labels = materialize(
            edges.select(F.col("src").alias("id"))
            .distinct()
            .select("id", F.col("id").alias("label")),
            durable=durable,
        )
        for _ in range(max_iter):
            neighbor_min = edges.join(
                labels, edges["src"] == labels["id"]
            ).select(F.col("dst").alias("id"), "label")
            new_labels = materialize(
                labels.unionByName(neighbor_min)
                .groupBy("id")
                .agg(F.min("label").alias("label")),
                durable=durable,
            )
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), "id")
                .filter(F.col("n.label") != F.col("o.label"))
                .count()
            )
            labels = new_labels
            if changed == 0:
                break
    finally:
        # a mid-round failure must not leave the context-global checkpoint
        # dir pointing at the caller's (possibly later-deleted) directory
        if checkpoint_dir is not None and prev_ckpt_dir is not None:
            sc.setCheckpointDir(prev_ckpt_dir)
    return labels


def connected_components_star(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(id, label) connected components via LARGE-STAR / SMALL-STAR
    alternation (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14) — same contract as ``connected_components``, different
    convergence behavior: O(log² n) rounds regardless of topology, where
    min-label propagation needs O(diameter) rounds. Duplicate clusters are
    near-cliques, so min-label wins there; reach for this variant when the
    pair graph can contain long chains (e.g. transitive URL canonicalization,
    citation threads).

    Per round, over edges oriented larger->smaller:
      large-star: every node u links its LARGER neighbors to
                  min(Γ(u) ∪ {u}) — one groupBy-min + one equi-join;
      small-star: every node u links its smaller neighbors AND itself to
                  that min — same shape.
    At the fixpoint the edge set is a star forest whose centers are the
    component minima; labels read straight off the final edges. Checkpoint
    flavor and directory-lifecycle semantics are identical to
    ``connected_components`` (localCheckpoint by default, reliable
    ``checkpoint()`` when ``checkpoint_dir`` is given, dir restored on exit
    when a previous one existed)."""
    sc = pairs.sparkSession.sparkContext
    prev_ckpt_dir = sc.getCheckpointDir()
    if checkpoint_dir is not None:
        sc.setCheckpointDir(checkpoint_dir)

    durable = checkpoint_dir is not None

    raw = pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
    try:
        # r15: truncated, not persist()ed — the node list rides inside the
        # RETURNED labels plan, so a lazy persist kept the caller's full
        # pair-generation subtree in every downstream consumer's analysis
        # (same driver-time trap as connected_components' edge persist).
        # Inside the try: the eager materialization can itself fail and
        # the finally must still restore the checkpoint dir.
        nodes = materialize(
            raw.select(F.col("a").alias("id"))
            .unionByName(raw.select(F.col("b").alias("id")))
            .distinct(),
            durable=durable,
        )
        edges = materialize(
            raw.filter(F.col("a") != F.col("b"))
            .select(
                F.greatest("a", "b").alias("src"), F.least("a", "b").alias("dst")
            )
            .distinct(),
            durable=durable,
        )
        for _ in range(max_iter):
            # large-star over the symmetrized edge set: m(u) = min(Γ⁺(u));
            # emit (v, m(u)) for every neighbor v > u (max->min oriented by
            # construction since m(u) <= u < v)
            sym = edges.unionByName(
                edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
            )
            m_large = (
                sym.groupBy("src")
                .agg(F.min("dst").alias("mn"))
                .withColumn("mn", F.least("mn", F.col("src")))
            )
            large = (
                sym.join(m_large, "src")
                .filter(F.col("dst") > F.col("src"))
                .select(F.col("dst").alias("src"), F.col("mn").alias("dst"))
                .distinct()
            )
            # small-star over max->min edges: all of Γ(u) is < u, so
            # m(u) = min(Γ(u)); emit (v, m(u)) for v in Γ(u) ∪ {u} \ {m(u)}
            m_small = large.groupBy("src").agg(F.min("dst").alias("mn"))
            new_edges = materialize(
                large.join(m_small, "src")
                .select(F.col("dst").alias("src"), F.col("mn").alias("dst"))
                .unionByName(
                    m_small.select("src", F.col("mn").alias("dst"))
                )
                .filter(F.col("src") != F.col("dst"))
                .distinct(),
                durable=durable,
            )
            converged = (
                new_edges.count() == edges.count()
                and new_edges.subtract(edges).count() == 0
            )
            edges = new_edges
            if converged:
                break
        # fixpoint = star forest, centers = component minima: every
        # non-center has exactly one outgoing edge to its label; centers
        # and isolated nodes label themselves
        labels = (
            nodes.join(
                edges.select(F.col("src").alias("id"), F.col("dst").alias("lbl")),
                "id",
                "left",
            )
            .groupBy("id")
            .agg(F.min(F.coalesce("lbl", F.col("id"))).alias("label"))
        )
        labels = labels.select("id", "label")
    finally:
        if checkpoint_dir is not None and prev_ckpt_dir is not None:
            sc.setCheckpointDir(prev_ckpt_dir)
    return labels


def simhash64_bands(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_bands: int = 4,
    band_bits: int = 16,
) -> DataFrame:
    """64-bit simhash represented as ``num_bands`` x ``band_bits`` band
    columns ``band_0..band_{B-1}`` (never a single 64-bit int: 1<<63
    overflows signed BIGINT under ANSI mode, and the banded layout is what
    the scale path needs anyway).

    Bit i of the signature comes from sha256-hex digit i of each distinct
    token (sha256 hex has 64 digits == 64 independent bits; md5 only has
    32). All ``num_bands * band_bits`` signed sums run in ONE shuffle.

    Scale rationale (SCALE.md): equal-FULL-signature bucketing at 16 bits
    puts ~|corpus| / 2^16 docs per bucket — quadratic blowup at 10^9 docs.
    Banding at 64 bits gives 2^16 buckets per band over a 64-bit space, and
    candidates are pairs equal in >=1 band (standard simhash pigeonhole: a
    pair within Hamming distance B-1 must agree on some band)."""
    nbits = num_bands * band_bits
    toks = (
        docs.select(F.col(id_col), tokens_expr(text_col).alias("_toks"))
        .select(
            F.col(id_col),
            F.explode(F.array_distinct(F.col("_toks"))).alias("token"),
        )
        .withColumn("tok_h", F.sha2("token", 256))
    )
    sums = toks.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.substring("tok_h", i + 1, 1) >= "8", 1).otherwise(-1)
            ).alias(f"bitsum_{i}")
            for i in range(nbits)
        ]
    )
    band_cols = []
    for b in range(num_bands):
        val: Column | None = None
        for j in range(band_bits):
            bit = F.when(
                F.col(f"bitsum_{b * band_bits + j}") > 0, F.lit(1 << j)
            ).otherwise(F.lit(0))
            val = bit if val is None else val + bit
        band_cols.append(val.cast("bigint").alias(f"band_{b}"))
    return sums.select(F.col(id_col), *band_cols)


def simhash_hamming_pairs(
    sigs: DataFrame,
    threshold: int = 3,
    id_col: str = "doc_id",
    num_bands: int = 4,
) -> DataFrame:
    """(id_a, id_b, hamming) pairs within ``threshold`` Hamming distance over
    the banded 64-bit simhash: candidates via a band-value EQUI-join (pairs
    equal in at least one band — complete for threshold <= num_bands - 1),
    then exact Hamming verify with bit_count(xor) per band. No cross join
    anywhere; candidate volume scales with true near-duplicates."""
    bands = sigs.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.col(f"band_{b}").alias("band_val"),
                    )
                    for b in range(num_bands)
                ]
            )
        ).alias("x"),
    ).select(id_col, "x.band_idx", "x.band_val")
    a = bands.select(F.col(id_col).alias("id_a"), "band_idx", "band_val")
    b = bands.select(F.col(id_col).alias("id_b"), "band_idx", "band_val")
    cands = (
        a.join(b, ["band_idx", "band_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    sa = sigs.select(
        F.col(id_col).alias("id_a"),
        *[F.col(f"band_{i}").alias(f"a_{i}") for i in range(num_bands)],
    )
    sb = sigs.select(
        F.col(id_col).alias("id_b"),
        *[F.col(f"band_{i}").alias(f"b_{i}") for i in range(num_bands)],
    )
    ham: Column | None = None
    for i in range(num_bands):
        h = F.bit_count(F.col(f"a_{i}").bitwiseXOR(F.col(f"b_{i}")))
        ham = h if ham is None else ham + h
    return (
        cands.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", ham.cast("bigint").alias("hamming"))
        .filter(F.col("hamming") <= threshold)
    )


def simhash_expr_cols(num_bits: int = 16) -> list[Column]:
    """Per-bit signed-sum aggregates over a ``tok_md5`` column: bit i is set
    iff sum over tokens of (+1 if md5 hex digit i >= '8' else -1) > 0."""
    return [
        F.sum(
            F.when(F.substring("tok_md5", i + 1, 1) >= "8", 1).otherwise(-1)
        ).alias(f"bitsum_{i}")
        for i in range(num_bits)
    ]


def simhash(
    docs: DataFrame,
    num_bits: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, simhash): 16-bit simhash over distinct lower-cased tokens."""
    toks = (
        docs.select(F.col(id_col), tokens_expr(text_col).alias("_toks"))
        .select(
            F.col(id_col),
            F.explode(F.array_distinct(F.col("_toks"))).alias("token"),
        )
        .withColumn("tok_md5", F.md5("token"))
    )
    sums = toks.groupBy(id_col).agg(*simhash_expr_cols(num_bits))
    sig = None
    for i in range(num_bits):
        bit = F.when(F.col(f"bitsum_{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
        sig = bit if sig is None else sig + bit
    return sums.select(F.col(id_col), sig.cast("bigint").alias("simhash"))


def duplicate_spans(
    docs: DataFrame,
    width: int = 40,
    sample_mod: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """EXACT-SUBSTRING duplicate spans (the Spark re-expression of
    suffix-array substring dedup, Lee et al., "Deduplicating Training Data
    Makes Language Models Better", ACL 2022): find character ranges of
    >= ``width`` chars that occur more than once ANYWHERE in the corpus,
    and report per-doc duplicated coverage.

    Returns (id, n_spans, dup_chars, dup_frac) for docs with >= 1
    duplicated span.

    Dataflow:
      1. md5 every ``width``-char window (narrow explode — this full-scan
         hashing IS the honest price of substring-level dedup; a suffix
         array pays the same linear pass).
      2. CONTENT-DEFINED sampling: keep a window iff its own hash mod
         ``sample_mod`` == 0. Both copies of a duplicated region select
         the IDENTICAL windows regardless of how the copies are aligned —
         a fixed-stride grid would miss every duplicate whose copies start
         at different offsets mod stride. Expected 1/sample_mod of windows
         survive, shrinking the global shuffle by that factor.
      3. hot grams: groupBy(gram) HAVING count > 1 (corpus-wide
         multiplicity — within-doc self-repeats count, like the suffix
         array's). One shuffle keyed on the gram hash: uniform by
         construction, no skewable key.
      4. per-doc gaps-and-islands merge of surviving positions into
         maximal covered spans (one doc-keyed window pass; consecutive
         kept windows <= width apart cover contiguously).

    A duplicated region can split into several reported spans when
    sampling leaves an internal gap > width (p = (1-1/mod)^width per
    position, ~1.5% at 40/10) — coverage is slightly under-reported,
    deterministically and identically in the oracle.
    """
    kept = sampled_grams(
        docs, width=width, sample_mod=sample_mod, id_col=id_col,
        text_col=text_col,
    )
    hot = kept.groupBy("g").agg(F.count(F.lit(1)).alias("_n")).filter(
        F.col("_n") > 1
    )
    dup = kept.join(hot.select("g"), "g", "left_semi")
    return _span_coverage(dup, docs, width, id_col, text_col)


# Gram-frequency stopword cap (CLAUDE.md rule 13, the text-tier analog of
# streaming.media.MAX_FRAME_DF): a sampled substring gram carried by more
# documents than this is BOILERPLATE (a shared disclaimer, a templated
# footer — the same argument line_dedup_boilerplate makes at line level),
# not duplication evidence. A gram-equality candidate join is quadratic in
# gram document-frequency, so hot grams must leave candidate joins AND
# containment denominators AND decontamination matching (a boilerplate
# gram shared with an eval doc is a false contamination positive). Real
# duplicate clusters in the fixtures sit at df 2-6. Consumers opt in
# per-query with a mirrored oracle cap (rule 14): llm_corpus_pipeline's
# near-dedup stage applies it; duplicate_spans deliberately does NOT (its
# corpus-wide multiplicity IS the signal — spans of boilerplate are
# exactly what substring dedup reports), matching the MinHash-band
# exemption in SCALE.md.
MAX_GRAM_DF = 8


def sampled_grams(
    docs: DataFrame,
    width: int = 40,
    sample_mod: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, p, g): the content-defined sample of ``width``-char window
    hashes — the persistent artifact of substring dedup (keep this table
    partitioned/bucketed by ``g``; incremental batches join against it).
    Pair-candidate consumers cap gram df at :data:`MAX_GRAM_DF` first."""
    n = F.length(F.col(text_col))
    pos_seq = F.when(n >= width, F.sequence(F.lit(1), n - width + 1)).otherwise(
        F.array().cast("array<int>")
    )
    grams = (
        docs.select(F.col(id_col), F.col(text_col))
        .select(F.col(id_col), F.col(text_col), F.explode(pos_seq).alias("p"))
        .select(
            F.col(id_col),
            F.col("p"),
            F.md5(F.substring(F.col(text_col), F.col("p"), F.lit(width))).alias(
                "g"
            ),
        )
    )
    return grams.filter(
        F.conv(F.substring("g", 1, 8), 16, 10).cast("bigint") % sample_mod == 0
    )


def _span_coverage(
    dup: DataFrame, docs: DataFrame, width: int, id_col: str, text_col: str
) -> DataFrame:
    """Gaps-and-islands merge of duplicated window positions into maximal
    covered spans; per-doc (id, n_spans, dup_chars, dup_frac)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(id_col).orderBy("p")
    brk = F.when(F.col("p") - F.lag("p").over(w) <= width, 0).otherwise(1)
    grp = dup.withColumn("_brk", brk).withColumn(
        "_isl",
        F.sum("_brk").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    spans = grp.groupBy(F.col(id_col), F.col("_isl")).agg(
        F.min("p").alias("_s"), (F.max("p") + (width - 1)).alias("_e")
    )
    per_doc = spans.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.col("_e") - F.col("_s") + 1).cast("bigint").alias("dup_chars"),
    )
    lens = docs.select(F.col(id_col), F.length(text_col).alias("_len"))
    return per_doc.join(lens, id_col).select(
        F.col(id_col),
        "n_spans",
        "dup_chars",
        (F.col("dup_chars").cast("double") / F.col("_len")).alias("dup_frac"),
    )


def incremental_duplicate_spans(
    existing_grams: DataFrame,
    new_docs: DataFrame,
    width: int = 40,
    sample_mod: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Incremental exact-substring dedup: spans of a NEW ingest batch that
    already occur in the indexed corpus, via a semi-join of the batch's
    sampled grams against the persistent corpus gram table
    (:func:`sampled_grams` output) — new x existing only, same contract
    as :func:`incremental_lsh_candidates`: daily cost scales with the
    batch, the |existing|^2 half never runs. Within-batch duplicates are
    out of scope (run :func:`duplicate_spans` on the batch for those).
    At cluster scale the gram table is partitioned/bucketed by ``g`` so
    the batch side broadcasts into it shuffle-free."""
    new_grams = sampled_grams(
        new_docs, width=width, sample_mod=sample_mod, id_col=id_col,
        text_col=text_col,
    )
    dup = new_grams.join(existing_grams.select("g").distinct(), "g", "left_semi")
    return _span_coverage(dup, new_docs, width, id_col, text_col)


def semantic_prune(
    corpus: DataFrame,
    tau: float = 0.92,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    cluster_col: str = "label",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al., "SemDeDup:
    Data-efficient learning at web-scale through semantic deduplication",
    2023): block by a CLUSTER assignment (k-means labels — the data-driven
    complement of ``embedding_near_dup_lsh``'s data-independent hyperplane
    buckets), compute pairwise cosine only within clusters, and PRUNE every
    row that has a smaller-id row above ``tau`` in its cluster.

    Returns one row per corpus row: (id, cluster, kept, pruned_by) with
    ``pruned_by`` = the smallest dominating id (-1 when kept).

    Prune semantics, not transitive closure: ``kept`` is well-defined
    (x is pruned iff some y < x with cos(x,y) >= tau shares its cluster)
    but ``pruned_by`` may itself be pruned — chains need
    ``connected_components`` when a canonical representative per group is
    required. SemDeDup's published results use exactly this
    one-hop-within-cluster pruning.

    At scale the cluster id is a partition column (same layout the IVF
    index already writes), making the within-cluster self-join
    partition-local; cluster count grows with the corpus so the expected
    |cluster|^2 term stays bounded — never an unblocked cross join.
    Cross-cluster near-dups split by the clustering are missed (the same
    recall trade as every blocked method; SemDeDup accepts it too).
    """
    from ..functions.vector import dot

    a = corpus.select(
        F.col(cluster_col),
        F.col(id_col).alias("id_a"),
        F.col(vector_col).alias("emb_a"),
    )
    b = corpus.select(
        F.col(cluster_col),
        F.col(id_col).alias("id_b"),
        F.col(vector_col).alias("emb_b"),
    )
    cos = dot(F.col("emb_a"), F.col("emb_b").cast("array<double>"))
    dom = (
        a.join(b, cluster_col)
        .filter(F.col("id_b") < F.col("id_a"))
        .filter(cos >= tau)
        .groupBy("id_a")
        .agg(F.min("id_b").alias("_pruned_by"))
    )
    return corpus.join(
        dom, corpus[id_col] == dom["id_a"], "left"
    ).select(
        F.col(id_col),
        F.col(cluster_col),
        F.col("_pruned_by").isNull().alias("kept"),
        F.coalesce("_pruned_by", F.lit(-1)).cast("bigint").alias("pruned_by"),
    )


def containment_pairs(
    docs: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    rows: DataFrame | None = None,
) -> DataFrame:
    """ASYMMETRIC near-duplication: shingle containment
    ``|A and B| / |A|`` per direction. Jaccard misses subset relations —
    a doc quoted whole inside a much larger one scores low Jaccard but
    containment ~1 in the quote's direction; dedup policies drop the
    contained side (Broder's containment, the complement of resemblance).
    Same inverted-index + candidate shape as :func:`jaccard_pairs`; at
    scale restrict with LSH candidates exactly as there. The shingle
    equality join here is DELIBERATELY uncapped (rule-13 exemption,
    documented per ADVICE r14): this operator's contract is the exact
    containment score over the given docs, and its registered oracle
    mirrors that exactly — the scale path is the stated LSH candidate
    restriction, not a df cap. Pipelines that feed it raw corpora at
    scale must pre-cap hot shingles (``MAX_GRAM_DF`` pattern) or run
    line-level boilerplate removal first, as llm_corpus_pipeline does."""
    if rows is None:
        rows = shingle_rows(docs, n=n, id_col=id_col, text_col=text_col)
    sizes = rows.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_shingles"))
    a = rows.select(F.col(id_col).alias("id_a"), "shingle")
    b = rows.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_shingles").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_shingles").alias("n_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            (F.col("n_inter") / F.col("n_a")).alias("containment_a"),
            (F.col("n_inter") / F.col("n_b")).alias("containment_b"),
        )
    )


def line_rows(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    r"""(id, pos, line, line_hash) rows: text split on '\n', each line
    whitespace-stripped via the anchored-\s regexp (== Python str.strip and
    DuckDB regexp_replace(...,'g'); NOT SQL trim, which only eats spaces),
    hashed with md5 (the only cross-engine-portable hash)."""
    return (
        docs.select(
            F.col(id_col),
            F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
        )
        .withColumn(
            "line_hash",
            F.md5(F.regexp_replace(F.col("line"), r"^\s+|\s+$", "")),
        )
    )


def line_doc_freq(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(line_hash, line_df): distinct-document frequency per normalized
    line — the persistent state of incremental boilerplate removal. A
    monoid: counts from disjoint batches merge by integer sum
    (:func:`merge_line_doc_freq`)."""
    return (
        line_rows(docs, id_col=id_col, text_col=text_col)
        .groupBy("line_hash")
        .agg(F.count_distinct(F.col(id_col)).alias("line_df"))
    )


def merge_line_doc_freq(existing: DataFrame, batch: DataFrame) -> DataFrame:
    """Merge two line-df tables by integer sum. Exact for disjoint doc
    sets (the incremental-ingest invariant); one shuffle on line_hash —
    at scale both sides are bucketed by line_hash, making it local."""
    return (
        existing.unionByName(batch)
        .groupBy("line_hash")
        .agg(F.sum("line_df").cast("long").alias("line_df"))
    )


def remove_boilerplate_lines(
    docs: DataFrame,
    max_doc_freq: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    line_df: DataFrame | None = None,
    broadcast_boiler: bool = True,
) -> DataFrame:
    r"""Line-level boilerplate removal (CCNet / RefinedWeb curation stage):
    drop every line whose normalized form appears in MORE than
    ``max_doc_freq`` DISTINCT documents corpus-wide — repeated headers,
    footers, nav bars, cookie banners — and reassemble each document from
    its surviving lines in original order.

    Returns (id, text, n_lines_kept, n_lines_total); documents whose every
    line is boilerplate come back with text = '' (callers typically filter
    n_lines_kept > 0 next). Pass ``line_df`` (a (line_hash, line_df)
    table, e.g. the merged cumulative state from :func:`merge_line_doc_freq`)
    to clean against corpus-wide counts instead of this frame's own — the
    incremental-ingest path.

    Scale shape: ONE shuffle builds the per-line-hash document frequency
    (map-side partial agg on the hash), and the boilerplate set — lines
    with df > N, a tiny fraction of distinct lines in any real corpus — is
    broadcast back as a LEFT join flag, so the corpus is never shuffled for
    the lookup. Reassembly is one groupBy(id) whose per-doc arrays are
    document-sized (bounded), sorted in-memory by position. No step is
    corpus-quadratic and nothing depends on partitioning.

    ``broadcast_boiler`` (VERDICT r7 #3): the broadcast assumes the
    boilerplate set fits the driver/executors. On a 100 TB web corpus it
    can plausibly reach 10^8+ rows — pass ``False`` there and the flag
    join degrades to a plain shuffle left join on line_hash (hash-
    partitioned both sides, still linear) instead of OOMing the driver.
    """
    lines = line_rows(docs, id_col=id_col, text_col=text_col)
    freq = (
        line_df
        if line_df is not None
        else lines.groupBy("line_hash").agg(
            F.count_distinct(F.col(id_col)).alias("line_df")
        )
    )
    boiler = freq.filter(F.col("line_df") > max_doc_freq).select(
        "line_hash", F.lit(1).alias("_is_boiler")
    )
    # broadcast_boiler=False pins a sort-merge join (not merely "no hint":
    # Catalyst would still auto-broadcast a small-stats side, and the whole
    # point of the fallback is a boilerplate set KNOWN to exceed broadcast
    # limits)
    boiler = F.broadcast(boiler) if broadcast_boiler else boiler.hint("merge")
    flagged = lines.join(boiler, "line_hash", "left")
    per_doc = flagged.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.filter(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "line", "_is_boiler"))
                    ),
                    lambda s: s["_is_boiler"].isNull(),
                ),
                lambda s: s["line"],
            ),
            "\n",
        ).alias(text_col),
        F.sum(
            F.when(F.col("_is_boiler").isNull(), F.lit(1)).otherwise(F.lit(0))
        ).cast("long").alias("n_lines_kept"),
        F.count(F.lit(1)).cast("long").alias("n_lines_total"),
    )
    return per_doc


# Rabin-Karp boundary hash (VERDICT r10 #3): polynomial hash of the
# window's CODEPOINTS, h(p) = Σ_j code[p+j] * B^(w-1-j) mod M, with
# B = 257 (prime > 2^8: injective per position on byte alphabets) and
# M = 2^40 (power of two, so ``mask | M`` makes ``h % mask`` exact on
# residues; code <= 0x10FFFF times B^j mod M <= 2^40 stays under 2^63).
# The rolling recurrence h(p+1) = (h(p) - code[p]*B^(w-1))*B + code[p+w]
# is stated once here; the implementation evaluates each position
# directly over a per-doc materialized codepoint array — O(w) integer
# ops per position, ~an order of magnitude cheaper than the previous
# per-position md5 (digest + hex + conv + string alloc per candidate),
# and the boundary test now runs INSIDE one array filter per doc, so
# only boundary rows (≈ len/mask, not len) are ever exploded. ascii()
# returns the first codepoint identically in Spark and DuckDB (verified
# incl. astral chars), keeping the rule engine-portable.
_CDC_M = 1 << 40
_CDC_B = 257


def _cdc_bounds_sql(text_col: str, window: int, mask: int) -> str:
    """SQL array expression: 1-based boundary positions of ``text_col``
    given a materialized ``_codes`` codepoint-array column. Position 1
    always opens a chunk; positions past len-window+1 cannot (the CASE
    guard also keeps element_at in bounds under ANSI for len < window)."""
    pows = [pow(_CDC_B, window - 1 - j, _CDC_M) for j in range(window)]
    terms = " + ".join(
        f"(element_at(_codes, p + {j}) * {pows[j]}) % {_CDC_M}"
        for j in range(window)
    )
    return (
        f"filter(sequence(1, greatest(length({text_col}) - {window - 1}, 1)),"
        f" p -> p = 1 OR (CASE WHEN p + {window - 1} <= length({text_col})"
        f" THEN (({terms}) % {_CDC_M}) % {mask} = 0 ELSE false END))"
    )


def cdc_chunks_sql(
    docs: DataFrame,
    window: int = 16,
    mask: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """SQL-expression variant of :func:`cdc_chunks` — the engine-parity
    cross-check: the SAME boundary rule as the numpy path, stated in pure
    Catalyst expressions (the shape the DuckDB oracle mirrors term by
    term). Slower than the numpy path (interpreted higher-order-function
    lambda, O(w) per position, plus a per-doc window exchange for chunk
    assembly) — tests pin ``cdc_chunks == cdc_chunks_sql`` on the corpus;
    production code calls :func:`cdc_chunks`."""
    d = docs.select(F.col(id_col), F.col(text_col))
    # codepoint array materialized OUTSIDE the filter lambda: computed
    # once per doc, element_at inside the lambda is O(1)
    coded = d.withColumn(
        "_codes",
        F.expr(
            f"transform(split({text_col}, ''),"
            " c -> cast(ascii(c) as bigint))"
        ),
    )
    bounds = coded.select(
        id_col,
        text_col,
        F.explode(F.expr(_cdc_bounds_sql(text_col, window, mask))).alias("pos"),
    )
    return bounds.select(
        id_col,
        "pos",
        F.md5(
            F.expr(
                f"substring({text_col}, pos, "
                f"coalesce(lead(pos) over (partition by {id_col} order by pos),"
                f" length({text_col}) + 1) - pos)"
            )
        ).alias("chunk_md5"),
        F.expr(
            f"coalesce(lead(pos) over (partition by {id_col} order by pos),"
            f" length({text_col}) + 1) - pos"
        ).cast("long").alias("chunk_len"),
    )


# --- numpy rolling-hash boundary scan (the production path) ---------------
# Prefix-hash formulation of the same rule, fully vectorized: with
# T[i] = code[i] * B^-i (mod M) and S = cumsum(T) (exact in int64 while
# n*(M-1) < 2^63, i.e. docs up to 2^23 chars — longer docs take the exact
# scalar fallback), the window hash at 0-based p is
# H(p) = B^(p+w-1) * (S[p+w-1] - S[p-1]) (mod M) — one multiply per
# position instead of w, all in C. The 80-bit product of two <2^40 values
# is split 20/20 (modmul) to stay inside int64. Power tables are built
# per executor by vectorized doubling and grown on demand.

_CDC_SCALAR_LIMIT = 1 << 23
_cdc_pow_cache: dict = {}


def _cdc_pow_tables(n: int):
    """(pows, invp): B^i and B^-i mod M for i < n, int64 ndarrays."""
    import numpy as np

    mm = _CDC_M - 1

    def modmul_vec(a, b):
        b1 = b >> 20
        b0 = b & ((1 << 20) - 1)
        return ((((a * b1) & mm) << 20) + a * b0) & mm

    def grow(base, cur, n):
        if cur is None:
            k = min(1024, n)
            cur = np.empty(k, dtype=np.int64)
            v = 1
            for i in range(k):
                cur[i] = v
                v = (v * base) & mm
        while len(cur) < n:
            step = pow(base, len(cur), _CDC_M)
            cur = np.concatenate([cur, modmul_vec(cur, np.int64(step))])
        return cur

    pows, invp = _cdc_pow_cache.get("t", (None, None))
    if pows is None or len(pows) < n:
        pows = grow(_CDC_B, pows, n)
        invp = grow(pow(_CDC_B, -1, _CDC_M), invp, n)
        _cdc_pow_cache["t"] = (pows, invp)
    return pows, invp


def _cdc_boundaries(text: str, window: int, mask: int) -> list[int]:
    """1-based boundary positions of ``text`` (numpy prefix-hash path,
    exact scalar rolling fallback past the int64 cumsum limit)."""
    import numpy as np

    n = len(text)
    if n < window:
        return [1]
    if n >= _CDC_SCALAR_LIMIT:
        codes = [ord(c) for c in text]
        top = pow(_CDC_B, window - 1, _CDC_M)
        out, h = [1], None
        for p0 in range(n - window + 1):
            if h is None:
                h = 0
                for c in codes[:window]:
                    h = (h * _CDC_B + c) % _CDC_M
            else:
                h = ((h - codes[p0 - 1] * top) * _CDC_B + codes[p0 - 1 + window]) % _CDC_M
            if p0 > 0 and h % mask == 0:
                out.append(p0 + 1)
        return out
    mm = _CDC_M - 1
    pows, invp = _cdc_pow_tables(n)
    c = np.frombuffer(text.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
    s = np.cumsum((c * invp[:n]) & mm)
    npos = n - window + 1
    d = (s[window - 1 :] - np.concatenate(([0], s[: npos - 1]))) & mm
    b = pows[window - 1 : n]
    b1 = b >> 20
    b0 = b & ((1 << 20) - 1)
    h = (((((d * b1) & mm) << 20) + d * b0) & mm)
    hits = (h & (mask - 1)) == 0
    hits[0] = True
    return (np.nonzero(hits)[0] + 1).tolist()


def cdc_chunks(
    docs: DataFrame,
    window: int = 16,
    mask: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, pos, chunk_md5, chunk_len): the content-defined chunk table —
    boundary rule in :func:`cdc_chunk_stats`'s docstring. ONE Arrow-
    batched ``mapInPandas`` pass per doc: the numpy prefix-hash boundary
    scan (O(1)/char in C) plus in-order chunk assembly — boundaries leave
    the pass already sorted per doc, so the per-doc window exchange the
    SQL variant needs disappears entirely; zero shuffles to the chunk
    table. Measured 12.6x faster than :func:`cdc_chunks_sql` on 5x-length
    docs at sf0.1 (and the gap grows with doc length — this is the tier
    that touches every character of a 100 TB corpus). ``mask`` must be a
    power of two dividing 2^40. Exposed separately so the streaming
    block-dedup ingest (streaming/blocks.py) can fingerprint each
    micro-batch with the IDENTICAL chunking as the batch operator."""
    import hashlib

    if mask & (mask - 1) or mask > _CDC_M:
        raise ValueError("mask must be a power of two dividing 2^40")

    def chunk_iter(batches):
        import pandas as pd

        for pdf in batches:
            ids, poss, md5s, lens = [], [], [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                if text is None:
                    continue  # SQL twin drops NULL texts (explode of NULL)
                bs = _cdc_boundaries(text, window, mask)
                bs.append(len(text) + 1)
                for i in range(len(bs) - 1):
                    chunk = text[bs[i] - 1 : bs[i + 1] - 1]
                    ids.append(did)
                    poss.append(bs[i])
                    md5s.append(hashlib.md5(chunk.encode()).hexdigest())
                    lens.append(len(chunk))
            yield pd.DataFrame(
                {
                    id_col: pd.Series(ids, dtype="int64"),
                    "pos": pd.Series(poss, dtype="int32"),
                    "chunk_md5": pd.Series(md5s, dtype="object"),
                    "chunk_len": pd.Series(lens, dtype="int64"),
                }
            )

    return docs.select(F.col(id_col), F.col(text_col)).mapInPandas(
        chunk_iter,
        f"{id_col} bigint, pos int, chunk_md5 string, chunk_len bigint",
    )


def cdc_chunk_stats(
    docs: DataFrame,
    window: int = 16,
    mask: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Content-defined chunking dedup — the STORAGE-tier dedup
    (LBFS/rsync/backup-dedup family) the token/shingle tiers don't cover:
    chunk boundaries are declared wherever the hash of the ``window``-char
    substring starting at a position is ``0 mod mask``, so boundaries
    depend only on LOCAL content. A prefix edit re-synchronizes at the
    next boundary and every later chunk is byte-identical again — the
    property fixed-stride chunking fundamentally lacks (one inserted byte
    shifts every downstream chunk). Expected chunk length ~= mask chars.

    This is the "unbounded" CDC variant (no min/max chunk clamps) so both
    engines can state the boundary rule identically: the hash is a
    Rabin-Karp polynomial over the window's codepoints mod 2^40
    (:func:`_cdc_bounds_sql` — pure BIGINT arithmetic, bit-identical in
    DuckDB and cross-checked against a pure-Python reference by property
    test), positions are 1-based, position 1 always starts a chunk, and
    positions past ``len - window + 1`` cannot open one (the tail folds
    into the last chunk).

    Returns per-doc stats: ``n_chunks``, ``n_dup_chunks`` / ``dup_bytes``
    (chunk occurrences whose (chunk-hash) was already seen at a smaller
    (doc_id, start) — the dedup-store "already have this block" test) and
    ``dedup_ratio_u6`` (integer micro-units of dup_bytes / total bytes).

    Scale shape: the boundary scan is one array filter per doc (O(len)
    integer work, embarrassingly parallel, no shuffle, nothing exploded
    until the ~len/mask boundary rows), boundary ->
    chunk assembly is one per-doc window pass, and the global first-owner
    pass is ONE shuffle of (chunk_md5, doc, start) triples — the chunk
    fingerprint table a dedup store persists. At 100 TB the fingerprint
    table is the index; a new batch joins its chunk hashes against it
    (incremental-dedup pattern) instead of re-ranking the corpus."""
    chunks = cdc_chunks(
        docs, window=window, mask=mask, id_col=id_col, text_col=text_col
    )
    occ = chunks.withColumn(
        "_rk",
        F.row_number().over(
            Window.partitionBy("chunk_md5").orderBy(id_col, "pos")
        ),
    )
    return occ.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_chunks"),
        F.sum((F.col("_rk") > 1).cast("long")).cast("long").alias("n_dup_chunks"),
        F.sum(F.when(F.col("_rk") > 1, F.col("chunk_len")).otherwise(0))
        .cast("long")
        .alias("dup_bytes"),
        # greatest(...,1): an all-empty doc must yield ratio 0, not a
        # divide-by-zero under ANSI
        F.expr("(sum(case when _rk > 1 then chunk_len else 0 end) * 1000000)"
               " div greatest(sum(chunk_len), 1)")
        .cast("long")
        .alias("dedup_ratio_u6"),
    )
