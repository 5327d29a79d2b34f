"""Dedup queries (build-plan §7 Phase 4): exact, MinHash-LSH + Jaccard
verify, SimHash, and embedding-cosine near-dup.

The fixture corpus has no duplicates (500/500 distinct texts), so each query
first builds a mutated corpus — deterministically and identically on both
sides: exact copies (id+200000 for id%7==0) and near copies with the first
20 chars removed (id+100000 for id%10==0).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..obs import materialize
from ..operators import dedup as D
from ..plans.spread import spread
from .._registry_core import load, register
from ._sqlutil import dot_sql

# --- shared corpus builders (Spark + SQL twins) ----------------------------

_CORPUS_SQL = """
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 200000 AS doc_id, text FROM documents WHERE doc_id % 7 = 0
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, substr(text, 21) AS text
  FROM documents WHERE doc_id % 10 = 0
"""


def _corpus(spark, sf_dir):
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    exact = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"), "text"
    )
    near = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.substring("text", 21, 2_000_000_000).alias("text"),
    )
    # spread on doc_id: the tokenize/shingle/K-md5 stages above this are the
    # pipeline's dominant cost and must not inherit the scan's (often 1-3)
    # input splits; the signature groupBy(doc_id) reuses this exchange.
    return spread(docs.unionByName(exact).unionByName(near), "doc_id")


_SHINGLES_SQL = r"""
tokens AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                     t -> t != '') AS toks
  FROM corpus
),
shingles AS (
  SELECT doc_id, unnest(list_distinct(
           CASE WHEN len(toks) >= 3
                THEN list_transform(range(1, len(toks) - 1),
                                    i -> array_to_string(toks[i:i+2], ' '))
                ELSE []::VARCHAR[] END)) AS shingle
  FROM tokens
)
"""

# Kirsch-Mitzenmacher double-hash minhash, mirroring
# operators/dedup.minhash_signatures exactly: one md5 per shingle, two
# 48-bit hex halves, sig_j = min((h1 + j*h2) mod P). '0x'||hex ::BIGINT in
# DuckDB == conv(hex,16,10)::bigint in Spark (parity-tested incl.
# non-ascii shingles).
_P = D.MINHASH_P
_H1_SQL = f"(('0x' || substr(md5(shingle), 1, 12))::BIGINT % {_P})"
_H2_SQL = f"(('0x' || substr(md5(shingle), 13, 12))::BIGINT % {_P})"
_SIG_COLS_SQL = ",\n         ".join(
    f"min(({_H1_SQL} + {j} * {_H2_SQL}) % {_P}) AS sig_{j}"
    for j in range(D.NUM_HASHES)
)
_BANDS_SQL = "\n  UNION ALL\n".join(
    f"  SELECT doc_id, {b} AS band_idx, "
    f"md5(sig_{3 * b}::VARCHAR || '|' || sig_{3 * b + 1}::VARCHAR || '|' "
    f"|| sig_{3 * b + 2}::VARCHAR) AS band_key "
    "FROM sigs"
    for b in range(D.NUM_BANDS)
)


# ---------------------------------------------------------------------------
# Exact dedup: sha256 groupBy (single shuffle; the 100 TB workhorse).
# ---------------------------------------------------------------------------

@register(
    "dedup_exact",
    f"""
WITH corpus AS ({_CORPUS_SQL})
SELECT sha256(text) AS text_hash,
       min(doc_id) AS canonical_id,
       count(*) AS n_copies
FROM corpus
GROUP BY 1
ORDER BY canonical_id
""",
)
def dedup_exact(spark, sf_dir):
    return D.exact_dedup(_corpus(spark, sf_dir)).orderBy("canonical_id")


# ---------------------------------------------------------------------------
# MinHash LSH: shingle -> 12 minhashes -> 4 bands -> candidate pairs ->
# exact-Jaccard verify (>= 0.5). Candidates come from a band-key equi-join,
# so work scales with true near-dups, not |corpus|^2.
# ---------------------------------------------------------------------------

@register(
    "dedup_minhash_lsh",
    f"""
WITH corpus AS ({_CORPUS_SQL}),
{_SHINGLES_SQL},
sigs AS (
  SELECT doc_id,
         {_SIG_COLS_SQL}
  FROM shingles GROUP BY doc_id
),
bands AS (
{_BANDS_SQL}
),
cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a
  JOIN bands b ON a.band_idx = b.band_idx AND a.band_key = b.band_key
  WHERE a.doc_id < b.doc_id
),
sizes AS (
  SELECT doc_id, count(*) AS n_shingles FROM shingles GROUP BY doc_id
),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
  FROM shingles a JOIN shingles b ON a.shingle = b.shingle
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT i.id_a, i.id_b,
       i.n_inter / (sa.n_shingles + sb.n_shingles - i.n_inter) AS jaccard
FROM inter i
JOIN cands c ON c.id_a = i.id_a AND c.id_b = i.id_b
JOIN sizes sa ON sa.doc_id = i.id_a
JOIN sizes sb ON sb.doc_id = i.id_b
WHERE i.n_inter / (sa.n_shingles + sb.n_shingles - i.n_inter) >= 0.5
ORDER BY i.id_a, i.id_b
""",
)
def dedup_minhash_lsh(spark, sf_dir):
    corpus = _corpus(spark, sf_dir)
    # the shingle explode feeds both the signature and the verify stage:
    # built once, it halves the query (at cluster scale: a written table)
    rows = materialize(D.shingle_rows(corpus))
    sigs = D.minhash_signatures(corpus, rows=rows)
    cands = D.lsh_candidate_pairs(D.minhash_band_keys(sigs))
    verified = D.jaccard_pairs(corpus, candidates=cands, rows=rows)
    return verified.filter(F.col("jaccard") >= 0.5).orderBy("id_a", "id_b")


# ---------------------------------------------------------------------------
# Connected-components clustering: LSH-verified pairs -> transitive closure
# -> one canonical doc per duplicate cluster. Spark side iterates min-label
# propagation (operators/dedup.connected_components); the oracle computes the
# same closure with a recursive CTE.
# ---------------------------------------------------------------------------

_PAIRS_CTES_SQL = f"""
{_SHINGLES_SQL},
sigs AS (
  SELECT doc_id,
         {_SIG_COLS_SQL}
  FROM shingles GROUP BY doc_id
),
bands AS (
{_BANDS_SQL}
),
cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a
  JOIN bands b ON a.band_idx = b.band_idx AND a.band_key = b.band_key
  WHERE a.doc_id < b.doc_id
),
sizes AS (
  SELECT doc_id, count(*) AS n_shingles FROM shingles GROUP BY doc_id
),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
  FROM shingles a JOIN shingles b ON a.shingle = b.shingle
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT i.id_a, i.id_b
  FROM inter i
  JOIN cands c ON c.id_a = i.id_a AND c.id_b = i.id_b
  JOIN sizes sa ON sa.doc_id = i.id_a
  JOIN sizes sb ON sb.doc_id = i.id_b
  WHERE i.n_inter / (sa.n_shingles + sb.n_shingles - i.n_inter) >= 0.5
)
"""


@register(
    "dedup_clusters",
    f"""
WITH RECURSIVE corpus AS ({_CORPUS_SQL}),
{_PAIRS_CTES_SQL},
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
),
walk(id, label) AS (
  SELECT DISTINCT src AS id, src AS label FROM edges
  UNION
  SELECT e.dst AS id, w.label FROM walk w JOIN edges e ON e.src = w.id
),
comp AS (SELECT id, min(label) AS cluster_id FROM walk GROUP BY id),
labeled AS (
  SELECT c.doc_id, coalesce(p.cluster_id, c.doc_id) AS cluster_id
  FROM corpus c LEFT JOIN comp p ON p.id = c.doc_id
),
csize AS (
  SELECT cluster_id, count(*) AS cluster_size FROM labeled GROUP BY cluster_id
)
SELECT l.doc_id, l.cluster_id,
       CAST(s.cluster_size AS BIGINT) AS cluster_size,
       CAST(l.doc_id = l.cluster_id AS INT) AS is_canonical
FROM labeled l JOIN csize s USING (cluster_id)
ORDER BY l.doc_id
""",
)
def dedup_clusters(spark, sf_dir):
    """Full dedup pipeline ending in a keep-list: every corpus doc labeled
    with its duplicate-cluster id (min doc_id of the transitive closure over
    LSH-verified Jaccard>=0.5 pairs), the cluster size, and a canonical flag.
    Dropping rows with is_canonical = 0 is the dedup action at 100 TB."""
    corpus = _corpus(spark, sf_dir)
    # feeds the signature and verify stages; built once, it halves the query
    rows = materialize(D.shingle_rows(corpus))
    sigs = D.minhash_signatures(corpus, rows=rows)
    cands = D.lsh_candidate_pairs(D.minhash_band_keys(sigs))
    verified = D.jaccard_pairs(corpus, candidates=cands, rows=rows).filter(
        F.col("jaccard") >= 0.5
    )
    labels = D.connected_components(verified)
    labeled = corpus.join(
        labels.withColumnRenamed("id", "doc_id"), "doc_id", "left"
    ).select(
        "doc_id", F.coalesce("label", F.col("doc_id")).alias("cluster_id")
    )
    sizes = labeled.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        labeled.join(sizes, "cluster_id")
        .select(
            "doc_id",
            "cluster_id",
            F.col("cluster_size").cast("bigint").alias("cluster_size"),
            (F.col("doc_id") == F.col("cluster_id")).cast("int").alias("is_canonical"),
        )
        .orderBy("doc_id")
    )


@register(
    "dedup_clusters_star",
    # identical closure, identical recursive-CTE oracle: the algorithm is an
    # implementation detail, the (doc_id -> min-id cluster) contract is not
    f"""
WITH RECURSIVE corpus AS ({_CORPUS_SQL}),
{_PAIRS_CTES_SQL},
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
),
walk(id, label) AS (
  SELECT DISTINCT src AS id, src AS label FROM edges
  UNION
  SELECT e.dst AS id, w.label FROM walk w JOIN edges e ON e.src = w.id
),
comp AS (SELECT id, min(label) AS cluster_id FROM walk GROUP BY id)
SELECT c.doc_id, coalesce(p.cluster_id, c.doc_id) AS cluster_id
FROM corpus c LEFT JOIN comp p ON p.id = c.doc_id
ORDER BY c.doc_id
""",
)
def dedup_clusters_star(spark, sf_dir):
    """Same transitive closure as ``dedup_clusters`` but via the
    large-star/small-star alternation (O(log²) rounds on high-diameter
    graphs) — hash-checked against the same recursive-CTE oracle, proving
    the two iterative algorithms land on identical clusterings."""
    corpus = _corpus(spark, sf_dir)
    # feeds the signature and verify stages; built once, it halves the query
    rows = materialize(D.shingle_rows(corpus))
    sigs = D.minhash_signatures(corpus, rows=rows)
    cands = D.lsh_candidate_pairs(D.minhash_band_keys(sigs))
    verified = D.jaccard_pairs(corpus, candidates=cands, rows=rows).filter(
        F.col("jaccard") >= 0.5
    )
    labels = D.connected_components_star(verified)
    return (
        corpus.join(labels.withColumnRenamed("id", "doc_id"), "doc_id", "left")
        .select(
            "doc_id", F.coalesce("label", F.col("doc_id")).alias("cluster_id")
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard pairs (no LSH): inverted-index join, threshold 0.5.
# ---------------------------------------------------------------------------

@register(
    "dedup_ngram_jaccard",
    f"""
WITH corpus AS ({_CORPUS_SQL}),
{_SHINGLES_SQL},
sizes AS (
  SELECT doc_id, count(*) AS n_shingles FROM shingles GROUP BY doc_id
),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
  FROM shingles a JOIN shingles b ON a.shingle = b.shingle
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT i.id_a, i.id_b,
       i.n_inter / (sa.n_shingles + sb.n_shingles - i.n_inter) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.id_a
JOIN sizes sb ON sb.doc_id = i.id_b
WHERE i.n_inter / (sa.n_shingles + sb.n_shingles - i.n_inter) >= 0.5
ORDER BY id_a, id_b
""",
)
def dedup_ngram_jaccard(spark, sf_dir):
    pairs = D.jaccard_pairs(_corpus(spark, sf_dir))
    return pairs.filter(F.col("jaccard") >= 0.5).orderBy("id_a", "id_b")


# ---------------------------------------------------------------------------
# SimHash: doc-level 16-bit signature + equal-signature candidate pairs.
# ---------------------------------------------------------------------------

_SIMSUM_SQL = ",\n         ".join(
    f"sum(CASE WHEN substr(h, {i + 1}, 1) >= '8' THEN 1 ELSE -1 END) AS s{i}"
    for i in range(16)
)
_SIMBIT_SQL = " + ".join(
    f"(CASE WHEN s{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(16)
)

_SIMHASH_SQL = rf"""
tokens AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                     t -> t != '') AS toks
  FROM corpus
),
tok AS (
  SELECT doc_id, unnest(list_distinct(toks)) AS token FROM tokens
),
md AS (SELECT doc_id, md5(token) AS h FROM tok),
sums AS (
  SELECT doc_id,
         {_SIMSUM_SQL}
  FROM md GROUP BY doc_id
),
sig AS (
  SELECT doc_id, CAST({_SIMBIT_SQL} AS BIGINT) AS simhash FROM sums
)
"""


@register(
    "text_simhash",
    f"""
WITH corpus AS ({_CORPUS_SQL}),
{_SIMHASH_SQL}
SELECT doc_id, simhash FROM sig ORDER BY doc_id
""",
)
def text_simhash(spark, sf_dir):
    return D.simhash(_corpus(spark, sf_dir)).orderBy("doc_id")


@register(
    "dedup_simhash_pairs",
    f"""
WITH corpus AS ({_CORPUS_SQL}),
{_SIMHASH_SQL}
SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.simhash
FROM sig a JOIN sig b ON a.simhash = b.simhash AND a.doc_id < b.doc_id
ORDER BY id_a, id_b
""",
)
def dedup_simhash_pairs(spark, sf_dir):
    sig = D.simhash(_corpus(spark, sf_dir))
    a = sig.select(F.col("doc_id").alias("id_a"), "simhash")
    b = sig.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("_sh"))
    return (
        a.join(b, (F.col("simhash") == F.col("_sh")) & (F.col("id_a") < F.col("id_b")))
        .select("id_a", "id_b", "simhash")
        .orderBy("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# 64-bit SimHash with Hamming banding — the 100 TB-shaped variant: sha256-hex
# bit sums -> 4x16-bit band columns -> candidates via band-value equi-join
# (complete for Hamming <= 3 by pigeonhole) -> bit_count(xor) verify.
# ---------------------------------------------------------------------------

_SIM64_SUM_SQL = ",\n         ".join(
    f"sum(CASE WHEN substr(h, {i + 1}, 1) >= '8' THEN 1 ELSE -1 END) AS s{i}"
    for i in range(64)
)


def _band_val_sql(b: int) -> str:
    return " + ".join(
        f"(CASE WHEN s{16 * b + j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(16)
    )


_SIG64_SQL = rf"""
tokens AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                     t -> t != '') AS toks
  FROM corpus
),
tok AS (
  SELECT doc_id, unnest(list_distinct(toks)) AS token FROM tokens
),
hashed AS (SELECT doc_id, sha256(token) AS h FROM tok),
sums64 AS (
  SELECT doc_id,
         {_SIM64_SUM_SQL}
  FROM hashed GROUP BY doc_id
),
sig64 AS (
  SELECT doc_id,
         {", ".join(f"CAST({_band_val_sql(b)} AS BIGINT) AS band_{b}" for b in range(4))}
  FROM sums64
),
bands64 AS (
{chr(10).join(f"  SELECT doc_id, {b} AS band_idx, band_{b} AS band_val FROM sig64" + (" UNION ALL" if b < 3 else "") for b in range(4))}
)
"""

_HAM_SQL = " + ".join(f"bit_count(xor(sa.band_{b}, sb.band_{b}))" for b in range(4))


@register(
    "dedup_simhash_hamming",
    f"""
WITH corpus AS ({_CORPUS_SQL}),
{_SIG64_SQL},
cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands64 a
  JOIN bands64 b ON a.band_idx = b.band_idx AND a.band_val = b.band_val
  WHERE a.doc_id < b.doc_id
)
SELECT c.id_a, c.id_b, CAST({_HAM_SQL} AS BIGINT) AS hamming
FROM cands c
JOIN sig64 sa ON sa.doc_id = c.id_a
JOIN sig64 sb ON sb.doc_id = c.id_b
WHERE {_HAM_SQL} <= 3
ORDER BY id_a, id_b
""",
)
def dedup_simhash_hamming(spark, sf_dir):
    # r15: the banded signature table is consumed THREE times inside
    # simhash_hamming_pairs (band explode + both verify sides) — without
    # the checkpoint the per-token 64-bit signed-sum signature computation
    # ran three times per pass
    sigs = materialize(D.simhash64_bands(_corpus(spark, sf_dir)))
    return D.simhash_hamming_pairs(sigs, threshold=3).orderBy("id_a", "id_b")


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup: label-blocked pairwise dot product >= 0.95
# (production path replaces the label block with LSH buckets — see
# operators/similarity.py).
# ---------------------------------------------------------------------------

_EMB_CORPUS_SQL = """
  SELECT vec_id, embedding, label FROM embeddings
  UNION ALL
  SELECT vec_id + 100000 AS vec_id, embedding, label
  FROM embeddings WHERE vec_id % 10 = 0
"""

# sign-bucket expression shared with the ANN queries (import is safe:
# queries/similarity only depends on registry/_sqlutil)
from .similarity import _bucket_sql as _lsh_bucket_sql  # noqa: E402


@register(
    "dedup_embedding_lsh",
    f"""
WITH corpus AS ({_EMB_CORPUS_SQL}),
bucketed AS (
  SELECT vec_id, embedding, {_lsh_bucket_sql('embedding')} AS bucket FROM corpus
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       {dot_sql('a.embedding', 'b.embedding::DOUBLE[]')} AS cosine
FROM bucketed a
JOIN bucketed b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE {dot_sql('a.embedding', 'b.embedding::DOUBLE[]')} >= 0.95
ORDER BY id_a, id_b
""",
)
def dedup_embedding_lsh(spark, sf_dir):
    """Embedding near-dup via hyperplane-LSH blocking — the scale path the
    label-blocked dedup_embedding_cosine docstring promises: bucket by sign
    bits (operators/similarity.lsh_bucket_expr), pairwise cosine only
    within buckets (operators/dedup.embedding_near_dup_lsh)."""
    from .similarity import PLANES

    emb = load(spark, sf_dir, "embeddings")
    copies = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding", "label"
    )
    corpus = emb.select("vec_id", "embedding", "label").unionByName(copies)
    return D.embedding_near_dup_lsh(corpus, PLANES, threshold=0.95).orderBy(
        "id_a", "id_b"
    )


@register(
    "dedup_embedding_cosine",
    f"""
WITH corpus AS (
  SELECT vec_id, embedding, label FROM embeddings
  UNION ALL
  SELECT vec_id + 100000 AS vec_id, embedding, label
  FROM embeddings WHERE vec_id % 10 = 0
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       {dot_sql('a.embedding', 'b.embedding::DOUBLE[]')} AS cosine
FROM corpus a
JOIN corpus b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE {dot_sql('a.embedding', 'b.embedding::DOUBLE[]')} >= 0.95
ORDER BY id_a, id_b
""",
)
def dedup_embedding_cosine(spark, sf_dir):
    from ..functions import vector as V

    emb = load(spark, sf_dir, "embeddings")
    copies = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding", "label"
    )
    corpus = emb.select("vec_id", "embedding", "label").unionByName(copies)
    a = corpus.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("emb_a"),
        F.col("label").alias("lbl_a"),
    )
    b = corpus.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("emb_b"),
        F.col("label").alias("lbl_b"),
    )
    cos = V.dot(F.col("emb_a"), F.col("emb_b").cast("array<double>"))
    return (
        a.join(b, (F.col("lbl_a") == F.col("lbl_b")) & (F.col("id_a") < F.col("id_b")))
        .select("id_a", "id_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= 0.95)
        .orderBy("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# Incremental dedup: a NEW ingest batch checked against the already-indexed
# corpus. Band join runs new x existing only — daily cost scales with the
# batch, never |corpus|^2. Existing = doc_id < 400; the new batch is the
# rest plus deterministic near/exact copies of existing docs, so cross
# duplicates actually occur.
# ---------------------------------------------------------------------------

_INCR_CORPUS_SQL = """
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 300000 AS doc_id, substr(text, 21) AS text
  FROM documents WHERE doc_id < 400 AND doc_id % 9 = 0
  UNION ALL
  SELECT doc_id + 400000 AS doc_id, text
  FROM documents WHERE doc_id < 400 AND doc_id % 11 = 0
"""


def _incr_corpus(spark, sf_dir):
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    near = docs.filter((F.col("doc_id") < 400) & (F.col("doc_id") % 9 == 0)).select(
        (F.col("doc_id") + 300000).alias("doc_id"),
        F.substring("text", 21, 2_000_000_000).alias("text"),
    )
    exact = docs.filter((F.col("doc_id") < 400) & (F.col("doc_id") % 11 == 0)).select(
        (F.col("doc_id") + 400000).alias("doc_id"), "text"
    )
    return spread(docs.unionByName(near).unionByName(exact), "doc_id")


@register(
    "dedup_incremental_lsh",
    f"""
WITH corpus AS ({_INCR_CORPUS_SQL}),
{_SHINGLES_SQL},
sigs AS (
  SELECT doc_id,
         {_SIG_COLS_SQL}
  FROM shingles GROUP BY doc_id
),
bands AS (
{_BANDS_SQL}
),
cands AS (
  SELECT DISTINCT n.doc_id AS new_id, e.doc_id AS existing_id
  FROM bands n
  JOIN bands e ON n.band_idx = e.band_idx AND n.band_key = e.band_key
  WHERE n.doc_id >= 400 AND e.doc_id < 400
),
sizes AS (
  SELECT doc_id, count(*) AS n_shingles FROM shingles GROUP BY doc_id
),
inter AS (
  SELECT c.new_id, c.existing_id, count(*) AS n_inter
  FROM cands c
  JOIN shingles a ON a.doc_id = c.new_id
  JOIN shingles b ON b.doc_id = c.existing_id AND b.shingle = a.shingle
  GROUP BY 1, 2
)
SELECT i.new_id, i.existing_id,
       i.n_inter / (sn.n_shingles + se.n_shingles - i.n_inter) AS jaccard
FROM inter i
JOIN sizes sn ON sn.doc_id = i.new_id
JOIN sizes se ON se.doc_id = i.existing_id
WHERE i.n_inter / (sn.n_shingles + se.n_shingles - i.n_inter) >= 0.5
ORDER BY i.new_id, i.existing_id
""",
)
def dedup_incremental_lsh(spark, sf_dir):
    corpus = _incr_corpus(spark, sf_dir)
    # feeds the signature and verify stages; built once, it halves the query
    rows = materialize(D.shingle_rows(corpus))
    sigs = D.minhash_signatures(corpus, rows=rows)
    bands = D.minhash_band_keys(sigs)
    cands = D.incremental_lsh_candidates(
        bands.filter(F.col("doc_id") < 400),
        bands.filter(F.col("doc_id") >= 400),
    )
    # verify exactly like the batch path, restricted to the cross pairs
    verified = D.jaccard_pairs(
        corpus,
        candidates=cands.select(
            F.col("new_id").alias("id_a"), F.col("existing_id").alias("id_b")
        ),
        rows=rows,
    )
    return (
        verified.filter(F.col("jaccard") >= 0.5)
        .select(
            F.col("id_a").alias("new_id"),
            F.col("id_b").alias("existing_id"),
            "jaccard",
        )
        .orderBy("new_id", "existing_id")
    )


def _span_coverage_sql() -> str:
    """Gaps-and-islands merge of duplicated window positions (a ``dup``
    CTE of (doc_id, p)) into per-doc covered spans — the SQL twin of
    operators/dedup._span_coverage; both oracles share this fragment so
    the merge semantics cannot silently desynchronize."""
    return """brk AS (
  SELECT doc_id, p,
         CASE WHEN p - lag(p) OVER (PARTITION BY doc_id ORDER BY p) <= 40
              THEN 0 ELSE 1 END AS b
  FROM dup
),
grp AS (
  SELECT doc_id, p,
         sum(b) OVER (PARTITION BY doc_id ORDER BY p
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
  FROM brk
),
spans AS (
  SELECT doc_id, isl, min(p) AS s, max(p) + 39 AS e
  FROM grp GROUP BY 1, 2
),
per_doc AS (
  SELECT doc_id, count(*) AS n_spans,
         CAST(sum(e - s + 1) AS BIGINT) AS dup_chars
  FROM spans GROUP BY 1
)"""


# ---------------------------------------------------------------------------
# Exact-substring duplicate spans (Lee et al. suffix-array dedup,
# re-expressed): md5 every 40-char window, content-defined 1/10 sampling
# (alignment-free), corpus-wide hot-gram groupBy, per-doc island merge.
# ---------------------------------------------------------------------------

@register(
    "dedup_substring_spans",
    f"""
WITH corpus AS ({_CORPUS_SQL}),
grams0 AS (
  SELECT doc_id, text, unnest(range(1, len(text) - 38)) AS p
  FROM corpus WHERE len(text) >= 40
),
grams AS (
  SELECT doc_id, p, md5(substr(text, p, 40)) AS g FROM grams0
),
kept AS (
  SELECT * FROM grams WHERE ('0x' || substr(g, 1, 8))::BIGINT % 10 = 0
),
hot AS (
  SELECT g FROM kept GROUP BY g HAVING count(*) > 1
),
dup AS (
  SELECT k.doc_id, k.p FROM kept k WHERE k.g IN (SELECT g FROM hot)
),
{_span_coverage_sql()}
SELECT d.doc_id, d.n_spans, d.dup_chars,
       CAST(d.dup_chars AS DOUBLE) / len(c.text) AS dup_frac
FROM per_doc d JOIN corpus c USING (doc_id)
ORDER BY doc_id
""",
)
def dedup_substring_spans(spark, sf_dir):
    """Character-level exact-substring dedup over the mutated corpus: the
    near-copies (prefix-shifted by 20 chars) are exactly what fixed-stride
    gram grids miss and content-defined sampling catches — every reported
    span is a >= 40-char range occurring elsewhere in the corpus."""
    return D.duplicate_spans(_corpus(spark, sf_dir)).orderBy("doc_id")


# ---------------------------------------------------------------------------
# SemDeDup: cluster-blocked semantic prune over the embeddings table —
# k-means labels as the blocking key, one-hop min-id domination within
# clusters (prune semantics; transitive closure stays dedup_clusters' job).
# ---------------------------------------------------------------------------

@register(
    "dedup_semantic_prune",
    f"""
WITH vcorpus AS (
  SELECT vec_id, embedding, label FROM embeddings
  UNION ALL
  SELECT vec_id + 100000 AS vec_id, embedding, label
  FROM embeddings WHERE vec_id % 10 = 0
),
dom AS (
  SELECT a.vec_id AS id_a, min(b.vec_id) AS pruned_by
  FROM vcorpus a
  JOIN vcorpus b
    ON a.label = b.label AND b.vec_id < a.vec_id
  WHERE {dot_sql('a.embedding', 'b.embedding::DOUBLE[]')} >= '0.92'::DOUBLE
  GROUP BY 1
)
SELECT e.vec_id, e.label,
       d.pruned_by IS NULL AS kept,
       CAST(coalesce(d.pruned_by, -1) AS BIGINT) AS pruned_by
FROM vcorpus e LEFT JOIN dom d ON d.id_a = e.vec_id
ORDER BY e.vec_id
""",
)
def dedup_semantic_prune(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings")
    copies = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding", "label"
    )
    corpus = emb.select("vec_id", "embedding", "label").unionByName(copies)
    return D.semantic_prune(corpus, tau=0.92).orderBy("vec_id")


# ---------------------------------------------------------------------------
# Incremental exact-substring dedup: a new ingest batch's sampled grams
# semi-join the PERSISTENT corpus gram table — new x existing only.
# ---------------------------------------------------------------------------

def _sampled_grams_sql(src: str) -> str:
    return f"""
  SELECT doc_id, p, g FROM (
    SELECT doc_id, p, md5(substr(text, p, 40)) AS g FROM (
      SELECT doc_id, text, unnest(range(1, len(text) - 38)) AS p
      FROM {src} WHERE len(text) >= 40
    )
  ) WHERE ('0x' || substr(g, 1, 8))::BIGINT % 10 = 0
"""


@register(
    "dedup_incremental_substring",
    f"""
WITH newb AS (
  SELECT doc_id + 200000 AS doc_id, text FROM documents WHERE doc_id % 7 = 0
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, substr(text, 21) AS text
  FROM documents WHERE doc_id % 10 = 0
),
egr AS (SELECT DISTINCT g FROM ({_sampled_grams_sql('documents')})),
ngr AS ({_sampled_grams_sql('newb')}),
dup AS (
  SELECT n.doc_id, n.p FROM ngr n WHERE n.g IN (SELECT g FROM egr)
),
{_span_coverage_sql()}
SELECT d.doc_id, d.n_spans, d.dup_chars,
       CAST(d.dup_chars AS DOUBLE) / len(n.text) AS dup_frac
FROM per_doc d JOIN newb n USING (doc_id)
ORDER BY doc_id
""",
)
def dedup_incremental_substring(spark, sf_dir):
    """A day's ingest checked against the indexed corpus at substring
    level: the batch is the mutated exact/near copies, the 'index' is the
    base documents' persistent sampled-gram table. Every copy should be
    flagged with near-total coverage (exact copies ~100%, the
    prefix-shifted near copies slightly less) — and cost scales with the
    batch, never |corpus|^2."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    exact = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"), "text"
    )
    near = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.substring("text", 21, 2_000_000_000).alias("text"),
    )
    newb = spread(exact.unionByName(near), "doc_id")
    existing = D.sampled_grams(spread(docs, "doc_id"))
    return D.incremental_duplicate_spans(existing, newb).orderBy("doc_id")


@register(
    "dedup_keep_best",
    # same closure as dedup_clusters; the canonical pick upgrades from
    # "min doc_id" to "longest member" (argmax by (length, min id)) — the
    # completeness heuristic real curation uses: near-dup truncations lose
    # to their fuller original. length(text) is an integer on both engines,
    # so the argmax has zero float exposure.
    f"""
WITH RECURSIVE corpus AS ({_CORPUS_SQL}),
{_PAIRS_CTES_SQL},
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
),
walk(id, label) AS (
  SELECT DISTINCT src AS id, src AS label FROM edges
  UNION
  SELECT e.dst AS id, w.label FROM walk w JOIN edges e ON e.src = w.id
),
comp AS (SELECT id, min(label) AS cluster_id FROM walk GROUP BY id),
labeled AS (
  SELECT c.doc_id, length(c.text) AS n_chars,
         coalesce(p.cluster_id, c.doc_id) AS cluster_id
  FROM corpus c LEFT JOIN comp p ON p.id = c.doc_id
),
ranked AS (
  SELECT doc_id, cluster_id, CAST(n_chars AS BIGINT) AS n_chars,
         row_number() OVER (PARTITION BY cluster_id
                            ORDER BY n_chars DESC, doc_id ASC) AS rn
  FROM labeled
)
SELECT doc_id, cluster_id, n_chars, CAST(rn = 1 AS INT) AS is_kept
FROM ranked
ORDER BY doc_id
""",
)
def dedup_keep_best(spark, sf_dir):
    """Keep-best canonical selection: cluster exactly like dedup_clusters,
    then keep the LONGEST member of each cluster (tie: smallest doc_id) —
    the WindowGroupLimit-shaped argmax, integer-exact. The near-dup rows
    the fixture injects are 20-char truncations, so every one of them is
    dropped in favor of its original."""
    corpus = _corpus(spark, sf_dir)
    # feeds the signature and verify stages; built once, it halves the query
    rows = materialize(D.shingle_rows(corpus))
    sigs = D.minhash_signatures(corpus, rows=rows)
    cands = D.lsh_candidate_pairs(D.minhash_band_keys(sigs))
    verified = D.jaccard_pairs(corpus, candidates=cands, rows=rows).filter(
        F.col("jaccard") >= 0.5
    )
    labels = D.connected_components(verified)
    labeled = corpus.join(
        labels.withColumnRenamed("id", "doc_id"), "doc_id", "left"
    ).select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars"),
        F.coalesce("label", F.col("doc_id")).alias("cluster_id"),
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    return (
        labeled.withColumn("rn", F.row_number().over(w))
        .select(
            "doc_id",
            "cluster_id",
            "n_chars",
            (F.col("rn") == 1).cast("int").alias("is_kept"),
        )
        .orderBy("doc_id")
    )


@register(
    "dedup_containment_pairs",
    f"""
WITH corpus AS ({_CORPUS_SQL}),
{_SHINGLES_SQL},
sizes AS (
  SELECT doc_id, count(*) AS n_shingles FROM shingles GROUP BY doc_id
),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
  FROM shingles a JOIN shingles b ON a.shingle = b.shingle
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT i.id_a, i.id_b,
       i.n_inter / sa.n_shingles AS containment_a,
       i.n_inter / sb.n_shingles AS containment_b
FROM inter i
JOIN sizes sa ON sa.doc_id = i.id_a
JOIN sizes sb ON sb.doc_id = i.id_b
WHERE i.n_inter / sa.n_shingles >= 0.9 OR i.n_inter / sb.n_shingles >= 0.9
ORDER BY id_a, id_b
""",
)
def dedup_containment_pairs(spark, sf_dir):
    """Subset/quote detection the symmetric Jaccard tier misses: the
    fixture's truncation near-dups are ~fully CONTAINED in their
    originals even when their Jaccard dips; policy drops the contained
    side. Directional ratios are single exact-int divisions."""
    pairs = D.containment_pairs(_corpus(spark, sf_dir))
    return pairs.filter(
        (F.col("containment_a") >= 0.9) | (F.col("containment_b") >= 0.9)
    ).orderBy("id_a", "id_b")


# --- line-level boilerplate removal (VERDICT r7 #2) ------------------------
#
# The fixture's documents are single-line, so both sides derive the same
# multi-line corpus first: a per-source header on every doc, a per-lang
# footer on even ids. Headers recur in ~25 docs/source and footers in
# 64-218 docs/lang — far above the df>5 boilerplate threshold — while
# bodies are (near-)unique, so the expected output is "body only".

_LINED_SQL = """
  SELECT doc_id,
         '=== ' || source || ' newsletter ===' || chr(10) || text ||
         CASE WHEN doc_id % 2 = 0
              THEN chr(10) || 'unsubscribe to stop these ' || lang || ' mails'
              ELSE '' END AS text
  FROM documents
"""


def _lined(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.concat(
            F.lit("=== "), F.col("source"), F.lit(" newsletter ===\n"),
            F.col("text"),
            F.when(
                F.col("doc_id") % 2 == 0,
                F.concat(
                    F.lit("\nunsubscribe to stop these "),
                    F.col("lang"),
                    F.lit(" mails"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )


@register(
    "line_dedup_boilerplate",
    f"""
WITH lined AS ({_LINED_SQL}),
split AS (
  SELECT doc_id, string_split(text, chr(10)) AS ls FROM lined
),
lines AS (
  SELECT doc_id, unnest(ls) AS line, generate_subscripts(ls, 1) AS pos
  FROM split
),
hashed AS (
  SELECT doc_id, pos, line,
         md5(regexp_replace(line, '^\\s+|\\s+$', '', 'g')) AS lh
  FROM lines
),
freq AS (
  SELECT lh, COUNT(DISTINCT doc_id) AS line_df FROM hashed GROUP BY 1
),
flagged AS (
  SELECT h.doc_id, h.pos, h.line, (f.line_df > 5) AS is_b
  FROM hashed h JOIN freq f ON f.lh = h.lh
)
SELECT doc_id,
       coalesce(string_agg(CASE WHEN NOT is_b THEN line END,
                           chr(10) ORDER BY pos), '') AS text,
       CAST(SUM(CASE WHEN is_b THEN 0 ELSE 1 END) AS BIGINT) AS n_lines_kept,
       CAST(COUNT(*) AS BIGINT) AS n_lines_total
FROM flagged
GROUP BY doc_id
ORDER BY doc_id
""",
)
def line_dedup_boilerplate(spark, sf_dir):
    """CCNet/RefinedWeb-style line-level boilerplate removal: drop lines
    whose normalized form recurs in >5 distinct docs corpus-wide (headers,
    footers), reassemble docs from surviving lines in position order. One
    doc-frequency shuffle + a broadcast flag join + one reassembly groupBy
    (operators/dedup.py:remove_boilerplate_lines)."""
    return D.remove_boilerplate_lines(_lined(spark, sf_dir), max_doc_freq=5).orderBy(
        "doc_id"
    )


# ---------------------------------------------------------------------------
# LSH quality audit: precision/recall of the banded candidate generator
# against exact all-pairs Jaccard ground truth — the dedup twin of the
# ann_*_recall family. The exact half (inverted-index all-pairs) is the
# expensive audit-only path; at 100 TB it runs on a sample while the
# banded pipeline runs on the corpus.
# ---------------------------------------------------------------------------

@register(
    "dedup_lsh_quality",
    f"""
WITH corpus AS ({_CORPUS_SQL}),
{_SHINGLES_SQL},
sigs AS (
  SELECT doc_id,
         {_SIG_COLS_SQL}
  FROM shingles GROUP BY doc_id
),
bands AS (
{_BANDS_SQL}
),
cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a
  JOIN bands b ON a.band_idx = b.band_idx AND a.band_key = b.band_key
  WHERE a.doc_id < b.doc_id
),
sizes AS (
  SELECT doc_id, count(*) AS n_shingles FROM shingles GROUP BY doc_id
),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
  FROM shingles a JOIN shingles b ON a.shingle = b.shingle
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
),
truth AS (
  SELECT i.id_a, i.id_b
  FROM inter i
  JOIN sizes sa ON sa.doc_id = i.id_a
  JOIN sizes sb ON sb.doc_id = i.id_b
  WHERE i.n_inter / (sa.n_shingles + sb.n_shingles - i.n_inter) >= 0.5
),
hits AS (
  SELECT t.id_a, t.id_b FROM truth t JOIN cands c USING (id_a, id_b)
)
SELECT CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_truth,
       CAST((SELECT count(*) FROM cands) AS BIGINT) AS n_candidates,
       CAST((SELECT count(*) FROM hits) AS BIGINT) AS n_hits,
       CAST((SELECT count(*) FROM hits) AS DOUBLE)
         / (SELECT count(*) FROM truth) AS recall,
       CAST((SELECT count(*) FROM hits) AS DOUBLE)
         / (SELECT count(*) FROM cands) AS band_precision
""",
)
def dedup_lsh_quality(spark, sf_dir):
    """Measures what the banded generator trades for sub-quadratic cost:
    recall = truth pairs surfaced as candidates (misses = pairs whose 12
    minhashes never agree on a full band), band_precision = candidate
    pairs that verify (the rest are the Jaccard-verify stage's discard
    work). Counts are exact integers; the two ratios are single divisions
    of exact ints (bit-identical cross-engine)."""
    corpus = _corpus(spark, sf_dir)
    rows = materialize(D.shingle_rows(corpus))
    sigs = D.minhash_signatures(corpus, rows=rows)
    cands = D.lsh_candidate_pairs(D.minhash_band_keys(sigs))
    truth = D.jaccard_pairs(corpus, rows=rows).filter(
        F.col("jaccard") >= 0.5
    ).select("id_a", "id_b")
    hits = truth.join(cands, ["id_a", "id_b"], "left_semi")
    n_truth = truth.agg(F.count(F.lit(1)).alias("c"))
    n_cands = cands.agg(F.count(F.lit(1)).alias("c"))
    n_hits = hits.agg(F.count(F.lit(1)).alias("c"))
    return (
        n_truth.select(F.col("c").alias("n_truth"))
        .crossJoin(n_cands.select(F.col("c").alias("n_candidates")))
        .crossJoin(n_hits.select(F.col("c").alias("n_hits")))
        .select(
            "n_truth",
            "n_candidates",
            "n_hits",
            (F.col("n_hits").cast("double") / F.col("n_truth")).alias("recall"),
            (F.col("n_hits").cast("double") / F.col("n_candidates")).alias(
                "band_precision"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Incremental line-level boilerplate removal: clean a NEW batch against the
# CUMULATIVE line document-frequency state (persisted table at scale). The
# threshold (20) is deliberately above any single batch's per-source header
# count (~12) but below the cumulative (~25): headers are only dropped
# BECAUSE the merged state is consulted — per-batch counting would admit
# them, which is exactly the incrementality being verified.
# ---------------------------------------------------------------------------

@register(
    "line_dedup_incremental",
    """
WITH lined AS (
  SELECT doc_id,
         '=== ' || source || ' newsletter ===' || chr(10) || text ||
         CASE WHEN doc_id % 2 = 0
              THEN chr(10) || 'unsubscribe to stop these ' || lang || ' mails'
              ELSE '' END AS text
  FROM documents
),
split AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM lined),
lines AS (
  SELECT doc_id, unnest(ls) AS line, generate_subscripts(ls, 1) AS pos
  FROM split
),
hashed AS (
  SELECT doc_id, pos, line,
         md5(regexp_replace(line, '^\\s+|\\s+$', '', 'g')) AS lh
  FROM lines
),
-- cumulative df over batch1 (odd ids) + batch2 (even ids) == whole-corpus
-- df, because the doc sets are disjoint
freq AS (
  SELECT lh, COUNT(DISTINCT doc_id) AS line_df FROM hashed GROUP BY 1
),
b2 AS (
  SELECT h.doc_id, h.pos, h.line, (f.line_df > 20) AS is_b
  FROM hashed h JOIN freq f ON f.lh = h.lh
  WHERE h.doc_id % 2 = 0
)
SELECT doc_id,
       coalesce(string_agg(CASE WHEN NOT is_b THEN line END,
                           chr(10) ORDER BY pos), '') AS text,
       CAST(SUM(CASE WHEN is_b THEN 0 ELSE 1 END) AS BIGINT) AS n_lines_kept,
       CAST(COUNT(*) AS BIGINT) AS n_lines_total
FROM b2
GROUP BY doc_id
ORDER BY doc_id
""",
)
def line_dedup_incremental(spark, sf_dir):
    """Incremental-ingest cleaning: batch 1 (odd ids) built the line-df
    state; batch 2 (even ids) merges its own counts in (monoid sum,
    operators/dedup.py:merge_line_doc_freq) and is cleaned against the
    CUMULATIVE table. The oracle computes the same cumulative df directly
    (disjoint batches: sum == whole-corpus count)."""
    lined = _lined(spark, sf_dir)
    b1 = lined.filter(F.col("doc_id") % 2 == 1)
    b2 = lined.filter(F.col("doc_id") % 2 == 0)
    state = D.line_doc_freq(b1)  # yesterday's persisted table
    cum = D.merge_line_doc_freq(state, D.line_doc_freq(b2))
    return D.remove_boilerplate_lines(b2, max_doc_freq=20, line_df=cum).orderBy(
        "doc_id"
    )


# ---------------------------------------------------------------------------
# Edit-distance fuzzy self-join (entity resolution, round 8): q-gram +
# length-bucket blocked candidates, exact levenshtein verify. The ORACLE is
# deliberately blocking-free — the full O(n^2) length-windowed join — so a
# hash match certifies the Spark side's blocking tiers lose no pair at this
# scale, the same truth-vs-blocked pattern dedup_lsh_quality uses.
# Integer distances: no float parity concerns.
# ---------------------------------------------------------------------------

@register(
    "fuzzy_join_titles",
    """
WITH t AS (
  SELECT doc_id, lower(substr(text, 1, 40)) AS title FROM documents
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(levenshtein(a.title, b.title) AS INT) AS dist
FROM t a JOIN t b ON b.doc_id > a.doc_id
WHERE abs(length(a.title) - length(b.title)) <= 2
  AND levenshtein(a.title, b.title) <= 2
ORDER BY id_a, id_b
""",
)
def fuzzy_join_titles(spark, sf_dir):
    """Doc pairs whose 40-char lowered title prefixes are within edit
    distance 2 (operators/fuzzy.py::fuzzy_self_join). Reference has no
    fuzzy matching; this is the record-linkage stage a training-data
    pipeline runs on titles/URLs before exact dedup."""
    from ..operators.fuzzy import fuzzy_self_join

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.lower(F.expr("substring(text, 1, 40)")).alias("title")
    )
    # prefix_filter: the exact one-sided prefix path (10x at sf0.1 — the
    # full-gram join pays df^2 on hot grams; the rarest-(qk+1) probe pays
    # df linearly and mostly avoids hot grams altogether)
    return fuzzy_self_join(
        docs, key_col="title", id_col="doc_id", max_dist=2, q=3,
        prefix_filter=True,
    ).orderBy("id_a", "id_b")


@register(
    "fuzzy_incremental_pairs",
    """
WITH corpus AS (
  SELECT doc_id, lower(substr(text, 1, 40)) AS title FROM documents
),
newb AS (
  SELECT doc_id + 100000 AS doc_id, lower(substr(text, 1, 39)) AS title
  FROM documents WHERE doc_id % 10 = 0
)
SELECT n.doc_id AS new_id, c.doc_id AS existing_id,
       CAST(levenshtein(n.title, c.title) AS INT) AS dist
FROM newb n JOIN corpus c
  ON abs(length(n.title) - length(c.title)) <= 2
 AND levenshtein(n.title, c.title) <= 2
ORDER BY new_id, existing_id
""",
)
def fuzzy_incremental_pairs(spark, sf_dir):
    """Batch-vs-corpus fuzzy matching: a simulated daily batch (every 10th
    doc's title with its last char dropped — edit distance 1 to its
    source) probed against the corpus' gram/length blocking index
    (operators/fuzzy.py::incremental_fuzzy_pairs). The oracle is again the
    blocking-free quadratic truth join, certifying the index loses no
    pair."""
    from ..operators.fuzzy import incremental_fuzzy_pairs

    docs = load(spark, sf_dir, "documents")
    corpus = docs.select(
        "doc_id", F.lower(F.expr("substring(text, 1, 40)")).alias("title")
    )
    new = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.lower(F.expr("substring(text, 1, 39)")).alias("title"),
    )
    return incremental_fuzzy_pairs(
        corpus, new, key_col="title", id_col="doc_id", max_dist=2, q=3,
        prefix_filter=True,
    ).orderBy("new_id", "existing_id")


# ---------------------------------------------------------------------------
# Content-defined chunking dedup (round 10): the STORAGE-tier dedup
# (LBFS/rsync family). Boundaries where the 48-bit md5 of the 16-char
# window is 0 mod 64 — local content only, so the fixture's 20-char
# prefix-trimmed near-copies RE-SYNCHRONIZE at the first surviving
# boundary and every later chunk deduplicates against the original (the
# property fixed-stride chunking lacks). All-integer outputs; the chunk
# hash is md5 (portable), first-owner rank is (doc_id, start)-ordered.
# ---------------------------------------------------------------------------

_CDC_W, _CDC_MASK = 16, 64
# Rabin-Karp boundary hash twin (operators/dedup._cdc_bounds_sql): same
# base/modulus constants, same per-term reduction order, list_extract in
# place of element_at (both 1-based).
from ..operators.dedup import _CDC_B, _CDC_M  # noqa: E402

_CDC_TERMS_SQL = " + ".join(
    f"(list_extract(codes, p + {j})"
    f" * {pow(_CDC_B, _CDC_W - 1 - j, _CDC_M)}) % {_CDC_M}"
    for j in range(_CDC_W)
)


@register(
    "dedup_cdc_chunks",
    f"""
WITH corpus AS ({_CORPUS_SQL}),
coded AS (
  SELECT doc_id, text,
         list_transform(string_split(text, ''),
                        c -> CAST(ascii(c) AS BIGINT)) AS codes
  FROM corpus
),
bounds AS (
  SELECT doc_id, text, unnest(bpos) AS pos FROM (
    SELECT doc_id, text,
           list_filter(range(1, greatest(length(text) - {_CDC_W - 1}, 1) + 1),
                       p -> p = 1 OR (CASE WHEN p + {_CDC_W - 1} <= length(text)
                            THEN (({_CDC_TERMS_SQL}) % {_CDC_M}) % {_CDC_MASK} = 0
                            ELSE false END)) AS bpos
    FROM coded
  )
),
chunks AS (
  SELECT doc_id, pos,
         md5(substr(text, pos,
             coalesce(lead(pos) OVER (PARTITION BY doc_id ORDER BY pos),
                      length(text) + 1) - pos)) AS chunk_md5,
         CAST(coalesce(lead(pos) OVER (PARTITION BY doc_id ORDER BY pos),
                       length(text) + 1) - pos AS BIGINT) AS chunk_len
  FROM bounds
),
occ AS (
  SELECT doc_id, chunk_len,
         row_number() OVER (PARTITION BY chunk_md5
                            ORDER BY doc_id, pos) AS rk
  FROM chunks
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(sum(CASE WHEN rk > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
       CAST(sum(CASE WHEN rk > 1 THEN chunk_len ELSE 0 END) AS BIGINT) AS dup_bytes,
       CAST(sum(CASE WHEN rk > 1 THEN chunk_len ELSE 0 END) * 1000000
            // greatest(CAST(sum(chunk_len) AS BIGINT), 1) AS BIGINT) AS dedup_ratio_u6
FROM occ
GROUP BY doc_id
""",
)
def dedup_cdc_chunks(spark, sf_dir):
    """Per-doc CDC chunk-dedup stats over the dup-injected corpus
    (operators/dedup.cdc_chunk_stats): exact copies dedup every chunk
    against their original; the prefix-trimmed near-copies dedup every
    chunk AFTER their first content-defined boundary — the
    shift-tolerance demonstration. Measured at sf0.01 under the
    Rabin-Karp boundary rule (round 11): exact copies dedup_ratio_u6 =
    1000000 for 72/72, near copies average 686434 (everything past the
    re-sync boundary), base docs ~31000 incidental. ONE Arrow boundary+
    assembly pass (zero shuffles to the chunk table), then one
    (chunk_md5) shuffle for the first-owner ranking."""
    corpus = _corpus(spark, sf_dir)
    return D.cdc_chunk_stats(corpus, window=_CDC_W, mask=_CDC_MASK)


# ---------------------------------------------------------------------------
# Dedup clusters over the k-NN graph (round 11, VERDICT r10 #6's combo):
# SemDeDup's shape — build the blocked k-NN graph once, keep edges above
# the near-dup cosine bar, transitively close. The graph replaces the
# pair-candidate stage: anything the graph connects at cosine >= 0.95
# lands in one cluster, keep-the-min-id is the dedup action.
# ---------------------------------------------------------------------------

_KG_DEDUP_K = 3
_KG_DEDUP_TAU = 0.05  # distance bar == cosine >= 0.95

# Shared by dedup_clusters_knn_graph (inline graph) and
# dedup_clusters_graph_artifact (graph persisted to parquet, then served):
# the oracle recomputes everything from the raw embeddings either way, so
# a hash match on the artifact variant proves persist-then-serve ==
# compute-from-corpus — the same contract bm25_index_topk pins for the
# lexical index.
_KG_CLUSTERS_ORACLE = f"""
WITH RECURSIVE corpus AS ({_EMB_CORPUS_SQL}),
cb0 AS (
  SELECT vec_id, embedding, {_lsh_bucket_sql('embedding')} AS b FROM corpus
),
bc AS (
  SELECT b, CAST((count(*) + 191) // 192 AS BIGINT) AS nsub FROM cb0 GROUP BY b
),
cb AS (
  SELECT cb0.vec_id, cb0.embedding, cb0.b,
         ('0x' || substr(md5(CAST(cb0.vec_id AS VARCHAR)), 1, 4))::BIGINT
           % bc.nsub AS sub
  FROM cb0 JOIN bc USING (b)
),
graph AS (
  SELECT src, dst FROM (
    SELECT a.vec_id AS src, bb.vec_id AS dst,
           1.0 - {dot_sql('a.embedding', 'bb.embedding::DOUBLE[]')} AS distance,
           row_number() OVER (PARTITION BY a.vec_id
             ORDER BY 1.0 - {dot_sql('a.embedding', 'bb.embedding::DOUBLE[]')} ASC,
                      bb.vec_id ASC) AS rk
    FROM cb a JOIN cb bb ON a.b = bb.b AND a.sub = bb.sub
                        AND a.vec_id != bb.vec_id
  ) WHERE rk <= {_KG_DEDUP_K} AND distance <= {_KG_DEDUP_TAU}
),
edges AS (
  SELECT src, dst FROM graph
  UNION
  SELECT dst AS src, src AS dst FROM graph
),
walk(id, label) AS (
  SELECT DISTINCT src AS id, src AS label FROM edges
  UNION
  SELECT e.dst AS id, w.label FROM walk w JOIN edges e ON e.src = w.id
),
comp AS (SELECT id, min(label) AS cluster_id FROM walk GROUP BY id),
labeled AS (
  SELECT c.vec_id, coalesce(p.cluster_id, c.vec_id) AS cluster_id
  FROM corpus c LEFT JOIN comp p ON p.id = c.vec_id
),
csize AS (
  SELECT cluster_id, count(*) AS cluster_size FROM labeled GROUP BY cluster_id
)
SELECT l.vec_id, l.cluster_id,
       CAST(s.cluster_size AS BIGINT) AS cluster_size,
       CAST(l.vec_id = l.cluster_id AS INT) AS is_canonical
FROM labeled l JOIN csize s USING (cluster_id)
"""


_KG_EMB_DIM = 64  # embeddings fixture width (queries/similarity.DIM)


@register("dedup_clusters_knn_graph", _KG_CLUSTERS_ORACLE)
def dedup_clusters_knn_graph(spark, sf_dir):
    """Embedding dedup clusters built FROM the k-NN graph
    (operators/similarity.knn_graph -> near-dup edge filter ->
    operators/dedup.connected_components): the injected exact copies land
    in 2-clusters with their originals (identical vectors share every
    sign bit, are each other's rk-1 neighbors at distance ~0, and the
    transitive closure keeps the min vec_id canonical). The graph is the
    reusable artifact here — the same edges feed ANN bootstrap and
    SemDeDup-style pruning without re-running any pairwise stage."""
    from .similarity import PLANES

    emb = load(spark, sf_dir, "embeddings")
    copies = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding", "label"
    )
    corpus = emb.select("vec_id", "embedding", "label").unionByName(copies)
    from ..operators.similarity import adaptive_planes, knn_graph

    # adaptive plane count == the oracle's 6 PLANES at sf0.01 (550 rows);
    # grows with the corpus so the blocked self-join stays linear
    graph = knn_graph(corpus, adaptive_planes(corpus.count()),
                      k=_KG_DEDUP_K, dim=_KG_EMB_DIM,
                      max_block=192)  # skew cap, inactive at sf0.01
    return _kg_cluster_labels(corpus, graph)


def _kg_cluster_labels(corpus, graph):
    """near-dup edge filter -> connected components -> per-chunk cluster
    labeling — the serving half shared by the inline and persisted-graph
    cluster queries."""
    edges = (
        graph.filter(F.col("distance") <= _KG_DEDUP_TAU)
        .select(F.col("src").alias("id_a"), F.col("dst").alias("id_b"))
    )
    labels = (
        D.connected_components(edges)
        .withColumnRenamed("id", "vec_id")
        .withColumnRenamed("label", "_cc")  # corpus has its own `label`
    )
    labeled = corpus.select("vec_id").join(labels, "vec_id", "left").select(
        "vec_id", F.coalesce("_cc", F.col("vec_id")).alias("cluster_id")
    )
    sizes = labeled.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return labeled.join(sizes, "cluster_id").select(
        "vec_id",
        "cluster_id",
        F.col("cluster_size").cast("bigint").alias("cluster_size"),
        (F.col("vec_id") == F.col("cluster_id")).cast("int").alias("is_canonical"),
    )


def _graph_artifact(spark, sf_dir: str):
    """The dup-injected corpus' k-NN graph PERSISTED to a /tmp parquet
    artifact (fingerprint-keyed like _text_index: pid-tempdir + atomic
    rename, torn caches rebuilt) and read back — so the query downstream
    serves from parquet exactly the way api.duplicate_clusters serves
    from api.build_knn_graph's table, instead of re-deriving the graph
    inline."""
    import os
    import shutil

    from ..operators.similarity import adaptive_planes, knn_graph

    key = sf_dir.strip("/").replace("/", "_")
    root = os.path.join(sf_dir, "embeddings.parquet")
    parts = []
    if os.path.isdir(root):
        for dirpath, _dirs, files in os.walk(root):
            for f in sorted(files):
                p = os.path.join(dirpath, f)
                st = os.stat(p)
                parts.append(
                    f"{os.path.relpath(p, root)}:{st.st_size}:{st.st_mtime_ns}"
                )
    elif os.path.isfile(root):
        st = os.stat(root)
        parts.append(f"file:{st.st_size}:{st.st_mtime_ns}")
    import hashlib

    fp = hashlib.md5("|".join(parts).encode()).hexdigest()[:16]
    dst = f"/tmp/vdl_knn_graph/v1/{key}-{fp}"
    if not os.path.exists(os.path.join(dst, "_SUCCESS")):
        tmp = f"{dst}.tmp.{os.getpid()}"
        corpus = _kg_corpus(spark, sf_dir)
        g = knn_graph(
            corpus, adaptive_planes(corpus.count()), k=_KG_DEDUP_K,
            max_block=192, dim=_KG_EMB_DIM,
        ).withColumn("src_bucket", F.pmod(F.col("src"), F.lit(64)))
        g.write.partitionBy("src_bucket").mode("overwrite").parquet(tmp)
        open(os.path.join(tmp, "_SUCCESS"), "w").close()
        if os.path.isdir(dst) and not os.path.exists(
            os.path.join(dst, "_SUCCESS")
        ):
            shutil.rmtree(dst, ignore_errors=True)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        try:
            os.rename(tmp, dst)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)  # lost the race
    return spark.read.parquet(dst)


def _kg_corpus(spark, sf_dir: str):
    """The dup-injected embedding corpus both graph cluster queries run
    on (matches _EMB_CORPUS_SQL)."""
    emb = load(spark, sf_dir, "embeddings")
    copies = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding", "label"
    )
    return emb.select("vec_id", "embedding", "label").unionByName(copies)


@register("dedup_clusters_graph_artifact", _KG_CLUSTERS_ORACLE)
def dedup_clusters_graph_artifact(spark, sf_dir):
    """SemDeDup clusters served FROM the PERSISTED k-NN graph artifact
    (round 12, VERDICT r11 #1): the graph is built once into a parquet
    artifact (partitioned by src bucket, the api.build_knn_graph layout)
    and this query only READS it — edge filter, transitive closure,
    labeling — while the oracle recomputes everything from the raw
    embeddings table. The hash match is the persist-then-serve fidelity
    proof for the vector-side artifact, the same contract bm25_index_topk
    pins for the lexical index. api.duplicate_clusters is the database-
    facing twin of this serving path."""
    graph = _graph_artifact(spark, sf_dir)
    return _kg_cluster_labels(_kg_corpus(spark, sf_dir), graph)


# ---------------------------------------------------------------------------
# corpus_admission_batch (round 15, VERDICT r14 #4): the batch twin of
# streaming.curation.stream_corpus_admission — the capstone's PRE-DEDUP
# GATE (PII scrub -> C4 line rules -> Gopher word rules, FROZEN
# CORPUS_GATE_GOPHER thresholds) in front of the curation engine's dedup
# stages (in-batch exact min-id, exact vs index, in-batch cluster-canonical
# LSH near-dedup, LSH near-dedup vs index), run as TWO phases: phase 0
# admits the index corpus from empty, phase 1 admits a batch against it —
# exactly one micro-batch step of the streaming path, per-doc manifest out.
# ---------------------------------------------------------------------------


def _adm_mh_ctes(src: str, p: str) -> str:
    """tokens/shingles/sigs/bands CTE chain over table ``src`` with
    prefix ``p`` — the dedup_minhash_lsh oracle machinery, parametrized
    so the three shingle universes (phase 0, phase 1 batch, index) get
    their own instances."""
    bands = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {b} AS band_idx, "
        f"md5(sig_{3 * b}::VARCHAR || '|' || sig_{3 * b + 1}::VARCHAR || '|' "
        f"|| sig_{3 * b + 2}::VARCHAR) AS band_key FROM {p}sig"
        for b in range(D.NUM_BANDS)
    )
    return f"""{p}tok AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                     t -> t != '') AS toks
  FROM {src}
),
{p}sh AS (
  SELECT doc_id, unnest(list_distinct(
           CASE WHEN len(toks) >= 3
                THEN list_transform(range(1, len(toks) - 1),
                                    i -> array_to_string(toks[i:i+2], ' '))
                ELSE []::VARCHAR[] END)) AS shingle
  FROM {p}tok
),
{p}sig AS (
  SELECT doc_id,
         {_SIG_COLS_SQL}
  FROM {p}sh GROUP BY doc_id
),
{p}bands AS (
{bands}
)"""


def _adm_selfdedup_ctes(p: str) -> str:
    """In-batch near-dedup over the ``p``-prefixed shingle universe:
    LSH band candidates -> exact-Jaccard >= 0.5 verify -> transitive
    closure (recursive walk, as dedup_clusters' oracle) -> every doc
    that is not its component's min id is doomed."""
    return f"""{p}size AS (SELECT doc_id, count(*) AS n_shingles FROM {p}sh GROUP BY doc_id),
{p}hotb AS (
  SELECT band_idx, band_key FROM {p}bands
  GROUP BY 1, 2 HAVING count(*) > {D.MAX_BAND_DF}
),
{p}bandsm AS (
  SELECT b.* FROM {p}bands b
  LEFT JOIN {p}hotb h
    ON h.band_idx = b.band_idx AND h.band_key = b.band_key
  WHERE h.band_idx IS NULL
),
{p}cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM {p}bandsm a
  JOIN {p}bandsm b ON a.band_idx = b.band_idx AND a.band_key = b.band_key
  WHERE a.doc_id < b.doc_id
),
{p}pairs AS (
  SELECT i.id_a, i.id_b
  FROM (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
        FROM {p}sh a JOIN {p}sh b ON a.shingle = b.shingle
        WHERE a.doc_id < b.doc_id GROUP BY 1, 2) i
  JOIN {p}cand c ON c.id_a = i.id_a AND c.id_b = i.id_b
  JOIN {p}size sa ON sa.doc_id = i.id_a
  JOIN {p}size sb ON sb.doc_id = i.id_b
  WHERE i.n_inter / (sa.n_shingles + sb.n_shingles - i.n_inter) >= 0.5
),
{p}edges AS (
  SELECT id_a AS src, id_b AS dst FROM {p}pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM {p}pairs
),
{p}walk(id, label) AS (
  SELECT DISTINCT src AS id, src AS label FROM {p}edges
  UNION
  SELECT e.dst AS id, w.label FROM {p}walk w JOIN {p}edges e ON e.src = w.id
),
{p}doomed AS (
  SELECT id AS doc_id FROM (SELECT id, min(label) AS lbl FROM {p}walk GROUP BY id)
  WHERE id != lbl
)"""


def _corpus_admission_oracle() -> str:
    _MAX_BAND_DF = D.MAX_BAND_DF
    from .textstats import (
        _C4_LINE_KEPT_SQL,
        _PII_EMAIL_SQL,
        _PII_IP_SQL,
        _PII_PHONE_SQL,
    )

    return f"""
WITH RECURSIVE tsrc AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                     t -> t != '') AS t
  FROM documents
),
pg AS (
  SELECT doc_id,
         'the ' || array_to_string(t[1:8], ' ') || '.' AS l,
         'the ' || array_to_string(t[1:7], ' ') || ' indeed.' AS lv
  FROM tsrc
),
pages AS (
  SELECT doc_id, CASE
    WHEN doc_id % 13 = 0 THEN base4 || chr(10) ||
      'reach staff at amy.pope@example.net or call 800-555-0142 for the details today.'
    WHEN doc_id % 23 = 0 THEN base4 || chr(10) ||
      'the lorem ipsum dolor sit amet line.'
    WHEN doc_id % 19 = 0 THEN l
    WHEN doc_id % 29 = 0 THEN base4 || chr(10) || rtrim(repeat('### ', 24)) || '.'
    ELSE base4 END AS text
  FROM (SELECT doc_id, l,
               l || chr(10) || l || chr(10) || l || chr(10) || l AS base4
        FROM pg)
),
vpages AS (
  SELECT doc_id, l || chr(10) || l || chr(10) || l || chr(10) || lv AS text
  FROM pg
),
rendered AS (
  SELECT doc_id, 0 AS phase, text FROM pages WHERE doc_id % 2 = 0
  UNION ALL
  SELECT doc_id, 1 AS phase, text FROM pages WHERE doc_id % 2 = 1
  UNION ALL
  SELECT doc_id + 200000 AS doc_id, 1 AS phase, text FROM pages
  WHERE doc_id % 20 = 0
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, 1 AS phase, text FROM vpages
  WHERE doc_id % 20 = 10
  UNION ALL
  SELECT doc_id + 300000 AS doc_id, 1 AS phase, text FROM pages
  WHERE doc_id % 18 = 1
  UNION ALL
  SELECT doc_id + 400000 AS doc_id, 1 AS phase, text FROM vpages
  WHERE doc_id % 22 = 3
),
scrub AS MATERIALIZED (
  SELECT doc_id, phase,
    CAST(len(regexp_extract_all(lower(text), '{_PII_EMAIL_SQL}'))
         + len(regexp_extract_all(lower(text), '{_PII_PHONE_SQL}'))
         + len(regexp_extract_all(lower(text), '{_PII_IP_SQL}'))
         AS BIGINT) AS n_pii,
    regexp_replace(
      regexp_replace(
        regexp_replace(lower(text), '{_PII_EMAIL_SQL}', '[EMAIL]', 'g'),
        '{_PII_PHONE_SQL}', '[PHONE]', 'g'),
      '{_PII_IP_SQL}', '[IP]', 'g') AS text
  FROM rendered
),
c4 AS MATERIALIZED (
  SELECT doc_id,
         CASE WHEN has_brace = 1 THEN 'brace'
              WHEN has_lorem = 1 THEN 'lorem'
              WHEN n_kept_lines < 3 THEN 'few_sentences'
              ELSE 'kept' END AS c4_reason
  FROM (
    SELECT doc_id,
           CAST(len(list_filter(string_split(text, chr(10)),
                l -> {_C4_LINE_KEPT_SQL})) AS BIGINT) AS n_kept_lines,
           CAST(lower(text) LIKE '%lorem ipsum%' AS INT) AS has_lorem,
           CAST(text LIKE '%{{%' AS INT) AS has_brace
    FROM scrub
  )
),
gm AS (
  SELECT s.doc_id, toks,
         CAST(len(toks) AS BIGINT) AS n_words,
         CAST(list_reduce(
             list_prepend(0, list_transform(toks, w -> CAST(length(w) AS BIGINT))),
             (a, b) -> a + b) AS BIGINT) AS tok_chars,
         CAST(length(s.text) - length(replace(s.text, '#', ''))
              + (length(s.text) - length(replace(s.text, '...', ''))) // 3
              AS BIGINT) AS n_symbols,
         CAST(len(list_filter(toks, w -> regexp_matches(w, '[a-z]')))
              AS BIGINT) AS n_alpha_words,
         CAST(len(list_intersect(list_distinct(toks),
              ['the','be','to','of','and','that','have','with']))
              AS BIGINT) AS n_stopwords
  FROM (SELECT s.doc_id, s.text,
               list_filter(regexp_split_to_array(trim(lower(s.text)), '\\s+'),
                           t -> t != '') AS toks
        FROM scrub s JOIN c4 USING (doc_id)
        WHERE c4.c4_reason = 'kept') s
),
gr AS MATERIALIZED (
  SELECT doc_id,
    CASE WHEN NOT (n_words >= 10 AND n_words <= 100000) THEN 'words'
         WHEN NOT (tok_chars >= 3 * n_words AND tok_chars <= 10 * n_words)
           THEN 'mean_len'
         WHEN NOT (n_symbols * 1000 <= 100 * n_words) THEN 'symbol'
         WHEN NOT (n_alpha_words * 1000 >= 800 * n_words) THEN 'alpha'
         WHEN NOT (n_stopwords >= 1) THEN 'stop'
         ELSE 'kept' END AS g_reason
  FROM gm
),
gated AS MATERIALIZED (
  SELECT s.doc_id, s.phase, s.text
  FROM scrub s JOIN gr ON gr.doc_id = s.doc_id
  WHERE gr.g_reason = 'kept'
),
g0 AS (SELECT doc_id, text FROM gated WHERE phase = 0),
ke0 AS (SELECT min(doc_id) AS doc_id FROM g0 GROUP BY sha256(text)),
dd0 AS MATERIALIZED (SELECT g0.* FROM g0 JOIN ke0 USING (doc_id)),
{_adm_mh_ctes('dd0', 'p0')},
{_adm_selfdedup_ctes('p0')},
idx AS MATERIALIZED (
  SELECT * FROM dd0 WHERE doc_id NOT IN (SELECT doc_id FROM p0doomed)
),
g1 AS (SELECT doc_id, text FROM gated WHERE phase = 1),
ke1 AS (SELECT min(doc_id) AS doc_id FROM g1 GROUP BY sha256(text)),
dd1 AS (SELECT g1.* FROM g1 JOIN ke1 USING (doc_id)),
exv AS MATERIALIZED (
  SELECT doc_id FROM dd1
  WHERE sha256(text) IN (SELECT sha256(text) FROM idx)
),
dd1b AS MATERIALIZED (
  SELECT * FROM dd1 WHERE doc_id NOT IN (SELECT doc_id FROM exv)
),
{_adm_mh_ctes('dd1b', 'p1')},
{_adm_selfdedup_ctes('p1')},
{_adm_mh_ctes('idx', 'ix')},
ixsize AS (SELECT doc_id, count(*) AS n_shingles FROM ixsh GROUP BY doc_id),
xhotb AS (
  SELECT band_idx, band_key FROM (
    SELECT doc_id, band_idx, band_key FROM p1bands
    UNION ALL
    SELECT doc_id, band_idx, band_key FROM ixbands
  ) GROUP BY 1, 2 HAVING count(*) > {_MAX_BAND_DF}
),
xdoomed AS MATERIALIZED (
  SELECT DISTINCT i.new_id AS doc_id
  FROM (SELECT n.doc_id AS new_id, x.doc_id AS existing_id,
               count(*) AS n_inter
        FROM p1sh n JOIN ixsh x ON n.shingle = x.shingle
        GROUP BY 1, 2) i
  JOIN (SELECT DISTINCT n.doc_id AS new_id, x.doc_id AS existing_id
        FROM (SELECT nb.* FROM p1bands nb
              LEFT JOIN xhotb xh
                ON xh.band_idx = nb.band_idx AND xh.band_key = nb.band_key
              WHERE xh.band_idx IS NULL) n
        JOIN ixbands x ON n.band_idx = x.band_idx
                      AND n.band_key = x.band_key) c
    ON c.new_id = i.new_id AND c.existing_id = i.existing_id
  JOIN p1size sa ON sa.doc_id = i.new_id
  JOIN ixsize sb ON sb.doc_id = i.existing_id
  WHERE i.n_inter / (sa.n_shingles + sb.n_shingles - i.n_inter) >= 0.5
),
keall AS (SELECT doc_id FROM ke0 UNION ALL SELECT doc_id FROM ke1),
doomedin AS (SELECT doc_id FROM p0doomed UNION ALL SELECT doc_id FROM p1doomed)
SELECT doc_id, phase, n_pii, drop_reason,
       CAST(drop_reason = 'admitted' AS INT) AS admitted
FROM (
  SELECT s.doc_id, s.phase, s.n_pii,
         CASE WHEN c4.c4_reason != 'kept' THEN 'c4:' || c4.c4_reason
              WHEN gr.g_reason != 'kept' THEN 'gopher:' || gr.g_reason
              WHEN ka.doc_id IS NULL THEN 'exact_dup'
              WHEN ex.doc_id IS NOT NULL THEN 'exact_vs_index'
              WHEN di.doc_id IS NOT NULL THEN 'near_dup'
              WHEN xd.doc_id IS NOT NULL THEN 'near_dup_index'
              ELSE 'admitted' END AS drop_reason
  FROM scrub s
  LEFT JOIN c4 ON c4.doc_id = s.doc_id
  LEFT JOIN gr ON gr.doc_id = s.doc_id
  LEFT JOIN keall ka ON ka.doc_id = s.doc_id
  LEFT JOIN exv ex ON ex.doc_id = s.doc_id
  LEFT JOIN doomedin di ON di.doc_id = s.doc_id
  LEFT JOIN xdoomed xd ON xd.doc_id = s.doc_id
)
"""


@register("corpus_admission_batch", _corpus_admission_oracle())
def corpus_admission_batch(spark, sf_dir):
    """Batch twin of ``streaming.curation.stream_corpus_admission``
    (VERDICT r14 #4): one micro-batch step of the streaming admission
    path, as a pure two-phase query with a per-doc manifest. Phase 0
    admits the INDEX corpus from empty (gate -> in-batch exact min-id ->
    in-batch cluster-canonical LSH near-dedup); phase 1 admits a batch
    against it (gate -> in-batch exact -> exact vs index -> in-batch
    near-dedup -> LSH near-dedup vs index) — the exact stage order of
    ``streaming.curation._curate``, with the capstone's FROZEN pre-dedup gate
    (PII scrub -> C4 line rules -> Gopher word rules under
    CORPUS_GATE_GOPHER — the ONE shared definition) in front.
    Pages render each doc's leading tokens as 4 terminally-punctuated
    lines; planted classes: PII line %13 (scrubbed and KEPT, n_pii
    pinned), lorem %23, single-line %19, symbol spam %29, exact
    re-uploads of index docs (+200000), one-word-edited near-variants of
    index docs (+100000), in-batch exact copies (+300000) and in-batch
    near-variants (+400000). The oracle replays every stage including
    the transitive closure (recursive walk CTE, as dedup_clusters).
    tests/test_stream_curation.py pins streamed == batch over the same
    engine; this query pins the engine itself against DuckDB.
    Scale shape: the gate is one narrow map stage; every dedup join is
    banded (LSH) or hash-equi (sha); index-side tables are the persisted
    artifacts at 100 TB (bucketed by band_key/sha), batch sides
    broadcast."""
    from ..operators.textstats import (
        CORPUS_GATE_GOPHER,
        PII_EMAIL_RE,
        PII_IPV4_RE,
        PII_PHONE_RE,
        c4_line_rules,
        gopher_rules,
        pii_scrubbed_text,
    )
    from ..plans.spread import spread

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    toks = D.tokens_expr("text")
    line = F.concat(
        F.lit("the "), F.array_join(F.slice(toks, 1, 8), " "), F.lit(".")
    )
    linev = F.concat(
        F.lit("the "), F.array_join(F.slice(toks, 1, 7), " "), F.lit(" indeed.")
    )
    b = docs.select("doc_id", line.alias("l"), linev.alias("lv"))
    nl = F.lit("\n")
    base4 = F.concat(
        F.col("l"), nl, F.col("l"), nl, F.col("l"), nl, F.col("l")
    )
    page = (
        F.when(
            F.col("doc_id") % 13 == 0,
            F.concat(
                base4, nl,
                F.lit(
                    "reach staff at amy.pope@example.net or call"
                    " 800-555-0142 for the details today."
                ),
            ),
        )
        .when(
            F.col("doc_id") % 23 == 0,
            F.concat(base4, nl, F.lit("the lorem ipsum dolor sit amet line.")),
        )
        .when(F.col("doc_id") % 19 == 0, F.col("l"))
        .when(
            F.col("doc_id") % 29 == 0,
            F.concat(base4, nl, F.expr("rtrim(repeat('### ', 24))"), F.lit(".")),
        )
        .otherwise(base4)
    )
    vpage = F.concat(
        F.col("l"), nl, F.col("l"), nl, F.col("l"), nl, F.col("lv")
    )
    pages = b.select("doc_id", page.alias("text"))
    vpages = b.select("doc_id", vpage.alias("text"))

    def _ph(df, off: int, p: int):
        return df.select(
            (F.col("doc_id") + off).alias("doc_id"),
            F.lit(p).alias("phase"),
            "text",
        )

    rendered = (
        _ph(pages.filter(F.col("doc_id") % 2 == 0), 0, 0)
        .unionByName(_ph(pages.filter(F.col("doc_id") % 2 == 1), 0, 1))
        .unionByName(_ph(pages.filter(F.col("doc_id") % 20 == 0), 200000, 1))
        .unionByName(_ph(vpages.filter(F.col("doc_id") % 20 == 10), 100000, 1))
        .unionByName(_ph(pages.filter(F.col("doc_id") % 18 == 1), 300000, 1))
        .unionByName(_ph(vpages.filter(F.col("doc_id") % 22 == 3), 400000, 1))
    )
    lt = F.lower(F.col("text"))
    n_pii = (
        F.size(F.regexp_extract_all(lt, F.lit(PII_EMAIL_RE), F.lit(0)))
        + F.size(F.regexp_extract_all(lt, F.lit(PII_PHONE_RE), F.lit(0)))
        + F.size(F.regexp_extract_all(lt, F.lit(PII_IPV4_RE), F.lit(0)))
    ).cast("long")
    # the scrubbed table feeds the gate, both phases' sha/shingle stages,
    # and the manifest — the one deliberate materialization (the
    # post-scrub hive table at 100 TB, as in llm_corpus_pipeline). r15:
    # both gate batteries are per-row projections, so they ride the scrub
    # map stage and land IN the checkpoint as reason columns (the
    # llm_corpus_pipeline restructure) — before, the c4->gopher chain
    # re-executed in every consumer of `gated` and both manifest flag
    # joins. Gopher on ALL rows is per-row identical (doc-level rules);
    # the reason CASE checks c4 first, so precedence is unchanged.
    c4f = c4_line_rules(
        spread(rendered, "doc_id").select(
            "doc_id",
            "phase",
            n_pii.alias("n_pii"),
            pii_scrubbed_text("text").alias("text"),
        ),
        carry=("phase", "n_pii", "text"),
    ).select(
        "doc_id",
        "phase",
        "n_pii",
        "text",
        F.col("drop_reason").alias("c4_reason"),
    )
    scrub = materialize(
        gopher_rules(
            c4f,
            carry=("phase", "n_pii", "text", "c4_reason"),
            **CORPUS_GATE_GOPHER,
        )
        .select(
            "doc_id",
            "phase",
            "n_pii",
            "text",
            "c4_reason",
            F.col("drop_reason").alias("g_reason"),
        )
    )
    gated = scrub.filter(
        (F.col("c4_reason") == "kept") & (F.col("g_reason") == "kept")
    ).select("doc_id", "phase", "text")

    def _exact_keep(gp):
        return (
            gp.groupBy(F.sha2("text", 256).alias("_h"))
            .agg(F.min("doc_id").alias("doc_id"))
            .select("doc_id")
        )

    def _self_doomed(dd, rows):
        sigs = D.minhash_signatures(dd, rows=rows)
        # the band table is consumed by the hot-band mask, the anti side,
        # the self-join, and (phase 1) the vs-index mask + join — rule 4:
        # checkpoint once, or every consumer re-runs the 12-hash aggregate
        bands = materialize(D.minhash_band_keys(sigs))
        cands = D.lsh_candidate_pairs(bands, max_band_df=D.MAX_BAND_DF)
        pairs = D.jaccard_pairs(dd, candidates=cands, rows=rows).filter(
            F.col("jaccard") >= 0.5
        )
        return (
            D.connected_components(pairs.select("id_a", "id_b"))
            .filter(F.col("id") != F.col("label"))
            .select(F.col("id").alias("doc_id")),
            bands,
        )

    # phase 0: the index admits itself from empty
    g0 = gated.filter(F.col("phase") == 0).select("doc_id", "text")
    ke0 = _exact_keep(g0)
    dd0 = g0.join(F.broadcast(ke0), "doc_id", "left_semi")
    rows0 = materialize(D.shingle_rows(dd0))
    doomed0, _ = _self_doomed(dd0, rows0)
    doomed0 = materialize(doomed0)  # manifest + idx anti
    # r15: the admitted index corpus is read by the exact-vs-index probe,
    # the index shingle/band builds AND the cross-phase verify union —
    # checkpoint it once (at 100 TB this IS the persisted index table)
    idx = materialize(dd0.join(F.broadcast(doomed0), "doc_id", "left_anti"))

    # phase 1: the batch admits against the index
    g1 = gated.filter(F.col("phase") == 1).select("doc_id", "text")
    ke1 = _exact_keep(g1)
    dd1 = g1.join(F.broadcast(ke1), "doc_id", "left_semi")
    idx_sha = idx.select(F.sha2("text", 256).alias("_h")).distinct()
    exv = (
        dd1.select("doc_id", F.sha2("text", 256).alias("_h"))
        .join(F.broadcast(idx_sha), "_h", "left_semi")
        .select("doc_id")
    )
    # consumed by the shingle build, the in-batch near-dedup and the
    # cross-phase verify union — checkpoint so ke1/exv don't re-derive
    dd1b = materialize(dd1.join(F.broadcast(exv), "doc_id", "left_anti"))
    rows1 = materialize(D.shingle_rows(dd1b))
    doomed1, bands1 = _self_doomed(dd1b, rows1)
    rows_i = materialize(D.shingle_rows(idx))
    bands_i = materialize(
        D.minhash_band_keys(D.minhash_signatures(idx, rows=rows_i))
    )  # union-mask + join sides
    cands_x = (
        D.incremental_lsh_candidates(
            bands_i, bands1, max_band_df=D.MAX_BAND_DF
        )
        .filter(F.col("new_id") != F.col("existing_id"))
        .select(
            F.col("new_id").alias("id_a"), F.col("existing_id").alias("id_b")
        )
    )
    doomed_x = (
        D.jaccard_pairs(
            dd1b.unionByName(idx),
            candidates=cands_x,
            rows=rows1.unionByName(rows_i),
        )
        .filter(F.col("jaccard") >= 0.5)
        .select(F.col("id_a").alias("doc_id"))
        .distinct()
    )

    def _mark(df, name):
        return df.select("doc_id").distinct().withColumn(name, F.lit(1))

    m = (
        scrub.select("doc_id", "phase", "n_pii", "c4_reason", "g_reason")
        .join(F.broadcast(_mark(ke0.unionByName(ke1), "_ka")), "doc_id", "left")
        .join(F.broadcast(_mark(exv, "_ex")), "doc_id", "left")
        .join(
            F.broadcast(_mark(doomed0.unionByName(doomed1), "_di")),
            "doc_id",
            "left",
        )
        .join(F.broadcast(_mark(doomed_x, "_xd")), "doc_id", "left")
    )
    reason = (
        F.when(
            F.col("c4_reason") != "kept",
            F.concat(F.lit("c4:"), F.col("c4_reason")),
        )
        .when(
            F.col("g_reason") != "kept",
            F.concat(F.lit("gopher:"), F.col("g_reason")),
        )
        .when(F.col("_ka").isNull(), F.lit("exact_dup"))
        .when(F.col("_ex").isNotNull(), F.lit("exact_vs_index"))
        .when(F.col("_di").isNotNull(), F.lit("near_dup"))
        .when(F.col("_xd").isNotNull(), F.lit("near_dup_index"))
        .otherwise(F.lit("admitted"))
    )
    return m.select(
        "doc_id",
        "phase",
        "n_pii",
        reason.alias("drop_reason"),
        (reason == F.lit("admitted")).cast("int").alias("admitted"),
    )
