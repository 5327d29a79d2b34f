"""V1 + V2-V4 + J1 end-to-end BY TEXT: the query string is embedded
driver-side (1-row encode, ``vector_db_query.py:151-154``), the corpus via
the mapInPandas stage, and the whole retrieval still hash-matches a pure-SQL
oracle because the surrogate embedder is integer-exact.

The document embedding fold and the oracle's list fold assemble the vector
in the same dim order, so the dot products are bit-identical.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.embedding import HashedFeatureEmbedder, embed_documents
from ..functions.policy import prefixed_query
from ..functions.vector import clip01, dot, vector_lit
from ..operators import text_search as T
from .._registry_core import load_docs, register
from ._sqlutil import vec_sql

QUERY_TEXT = "data batch stream query join"
# V1 instruction-prefix hook (embedding_models.py:27-33,159-162): the query
# is encoded with its model family's instruction prefix ('bge' here). The
# oracle mirrors it for free — the prefixed query vector is inlined as a SQL
# literal below.
QUERY_MODEL = "bge-small-en-v1.5"
_QVEC = HashedFeatureEmbedder().encode_one(prefixed_query(QUERY_MODEL, QUERY_TEXT))
_QVEC_SQL = vec_sql(_QVEC)

_TOKS_SQL = r"list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), t -> t != '')"

# Shared oracle prefix: hashed-feature doc embeddings + query distance
# (mirrors functions/embedding.py exactly). One copy feeds search_by_text,
# search_rerank, and the rag_* oracles, so an embedding-parity fix cannot
# silently diverge between them.
_EMB_SCORED_CTES = f"""toks AS (
  SELECT doc_id, unnest({_TOKS_SQL}) AS t FROM documents
),
counts AS (
  SELECT doc_id, strpos('0123456789abcdef', substr(md5(t), 1, 1)) - 1 AS b,
         count(*) AS c
  FROM toks GROUP BY 1, 2
),
dims AS (SELECT doc_id, unnest(range(0, 16)) AS dim_idx FROM documents),
vecs AS (
  SELECT d.doc_id, d.dim_idx, coalesce(c.c, 0) AS c
  FROM dims d LEFT JOIN counts c ON c.doc_id = d.doc_id AND c.b = d.dim_idx
),
norms AS (SELECT doc_id, sum(c * c) AS sumsq FROM vecs GROUP BY 1),
embs AS (
  SELECT v.doc_id,
         list(CASE WHEN n.sumsq > 0 THEN v.c / sqrt(n.sumsq) ELSE 0.0 END
              ORDER BY v.dim_idx) AS embedding
  FROM vecs v JOIN norms n ON n.doc_id = v.doc_id
  GROUP BY v.doc_id
),
scored AS (
  SELECT doc_id,
         1.0 - list_reduce(list_transform(list_zip(embedding, {_QVEC_SQL}),
                                          s -> s[1] * s[2]), (a, b) -> a + b)
           AS distance
  FROM embs
)"""

def _scored_topk(spark, sf_dir, k: int):
    """Shared stage-1 retrieval: (docs, top-k candidates by query distance,
    tie-broken by doc_id) — the Spark twin of _EMB_SCORED_CTES + topk."""
    docs = load_docs(spark, sf_dir)
    embs = embed_documents(docs, dim=16)
    scored = embs.select(
        "doc_id", (F.lit(1.0) - dot("embedding", _QVEC)).alias("distance")
    )
    cands = scored.orderBy(F.col("distance").asc(), F.col("doc_id").asc()).limit(k)
    return docs, cands



@register(
    "search_by_text",
    f"""
WITH {_EMB_SCORED_CTES},
topk AS (
  SELECT * FROM scored ORDER BY distance ASC, doc_id ASC LIMIT 10
)
SELECT d.doc_id, d.source,
       greatest(0.0, least(1.0, 1.0 - t.distance)) AS similarity
FROM topk t JOIN documents d ON d.doc_id = t.doc_id
ORDER BY similarity DESC, d.doc_id ASC
""",
)
def search_by_text(spark, sf_dir):
    docs = load_docs(spark, sf_dir)
    embs = embed_documents(docs, dim=16)
    scored = embs.select(
        "doc_id", (F.lit(1.0) - dot("embedding", _QVEC)).alias("distance")
    )
    topk = scored.orderBy(F.col("distance").asc(), F.col("doc_id").asc()).limit(10)
    sim = clip01(F.lit(1.0) - F.col("distance"))
    return (
        docs.join(F.broadcast(topk), "doc_id")
        .select("doc_id", "source", sim.alias("similarity"))
        .orderBy(F.col("similarity").desc(), F.col("doc_id").asc())
    )


# ---------------------------------------------------------------------------
# Lexical BM25 ranking (beyond-reference: the keyword complement to vector
# retrieval). Scores round to 6dp on both sides — ln() is the one ~1-ulp
# op in the formula (operators/text_search.py docstring).
# ---------------------------------------------------------------------------

BM25_TERMS = ("spark", "table", "query")
_TERMS_SQL = ", ".join(f"'{t}'" for t in BM25_TERMS)


@register(
    "bm25_topk",
    rf"""
WITH tokens AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
tf AS (
  SELECT doc_id, dl, term, count(*) AS tf FROM (
    SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM tokens
  ) GROUP BY 1, 2, 3
),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n,
         (SELECT avg(dl) FROM (SELECT DISTINCT doc_id, dl FROM tf)) AS avgdl
),
postings AS (SELECT * FROM tf WHERE term IN ({_TERMS_SQL})),
dfs AS (SELECT term, count(*) AS df FROM postings GROUP BY 1),
scored AS (
  SELECT p.doc_id,
         ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5))
         * (p.tf * (1.2 + 1)) / (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * p.dl / s.avgdl))
           AS sc
  FROM postings p JOIN dfs d USING (term) CROSS JOIN stats s
)
SELECT doc_id, round(sum(sc), 6) AS bm25
FROM scored GROUP BY 1
ORDER BY bm25 DESC, doc_id ASC
LIMIT 10
""",
)
def bm25_topk(spark, sf_dir):
    """Top-10 documents by BM25 for a fixed bag of query terms
    (operators/text_search.bm25_topk)."""
    from ..operators.text_search import bm25_topk as _bm25

    docs = load_docs(spark, sf_dir)
    return _bm25(docs, list(BM25_TERMS), k=10)


# ---------------------------------------------------------------------------
# Hybrid retrieval: vector top-20 + BM25 top-20 fused by reciprocal-rank
# fusion (rrf_k=60). RRF is rank-based, so the fused score is a sum of
# exact divisions of small integers — zero float-parity surface.
# ---------------------------------------------------------------------------

RRF_K = 60


@register(
    "hybrid_rrf_search",
    rf"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKS_SQL}) AS t FROM documents
),
counts AS (
  SELECT doc_id, strpos('0123456789abcdef', substr(md5(t), 1, 1)) - 1 AS b,
         count(*) AS c
  FROM toks GROUP BY 1, 2
),
dims AS (SELECT doc_id, unnest(range(0, 16)) AS dim_idx FROM documents),
vecs AS (
  SELECT d.doc_id, d.dim_idx, coalesce(c.c, 0) AS c
  FROM dims d LEFT JOIN counts c ON c.doc_id = d.doc_id AND c.b = d.dim_idx
),
norms AS (SELECT doc_id, sum(c * c) AS sumsq FROM vecs GROUP BY 1),
embs AS (
  SELECT v.doc_id,
         list(CASE WHEN n.sumsq > 0 THEN v.c / sqrt(n.sumsq) ELSE 0.0 END
              ORDER BY v.dim_idx) AS embedding
  FROM vecs v JOIN norms n ON n.doc_id = v.doc_id
  GROUP BY v.doc_id
),
vscored AS (
  SELECT doc_id,
         1.0 - list_reduce(list_transform(list_zip(embedding, {_QVEC_SQL}),
                                          s -> s[1] * s[2]), (a, b) -> a + b)
           AS distance
  FROM embs
),
vr AS (
  SELECT doc_id, rn FROM (
    SELECT doc_id, row_number() OVER (ORDER BY distance ASC, doc_id ASC) AS rn
    FROM vscored
  ) WHERE rn <= 20
),
wtoks AS (SELECT doc_id, {_TOKS_SQL} AS toklist FROM documents),
tf AS (
  SELECT doc_id, dl, term, count(*) AS tf FROM (
    SELECT doc_id, len(toklist) AS dl, unnest(toklist) AS term FROM wtoks
  ) GROUP BY 1, 2, 3
),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n,
         (SELECT avg(dl) FROM (SELECT DISTINCT doc_id, dl FROM tf)) AS avgdl
),
postings AS (SELECT * FROM tf WHERE term IN ({_TERMS_SQL})),
dfs AS (SELECT term, count(*) AS df FROM postings GROUP BY 1),
bmscored AS (
  SELECT p.doc_id,
         ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5))
         * (p.tf * (1.2 + 1)) / (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * p.dl / s.avgdl))
           AS sc
  FROM postings p JOIN dfs d USING (term) CROSS JOIN stats s
),
bm AS (SELECT doc_id, round(sum(sc), 6) AS bm25 FROM bmscored GROUP BY 1),
br AS (
  SELECT doc_id, rn FROM (
    SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS rn
    FROM bm
  ) WHERE rn <= 20
)
SELECT coalesce(v.doc_id, b.doc_id) AS doc_id,
       coalesce(1.0 / ({RRF_K} + v.rn), 0.0)
         + coalesce(1.0 / ({RRF_K} + b.rn), 0.0) AS rrf_score,
       coalesce(v.rn, -1) AS vec_rank,
       coalesce(b.rn, -1) AS bm25_rank
FROM vr v
FULL OUTER JOIN br b ON b.doc_id = v.doc_id
ORDER BY rrf_score DESC, doc_id ASC
LIMIT 10
""",
)
def hybrid_rrf_search(spark, sf_dir):
    """Reciprocal-rank fusion of the vector and BM25 retrievers — the
    hybrid-search capability real vector stores advertise. Both candidate
    lists are tiny top-20s, so the global rank windows and the full-outer
    fuse run on <= 40 rows regardless of corpus size; the expensive parts
    remain the two retrievals, each already in its 100 TB shape."""
    from pyspark.sql.window import Window

    from ..operators.text_search import bm25_topk as _bm25

    docs = load_docs(spark, sf_dir)
    bm = _bm25(docs, list(BM25_TERMS), k=20)
    bmr = bm.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("bm25").desc(), F.col("doc_id").asc()))
        .alias("brn"),
    )
    embs = embed_documents(docs, dim=16)
    scored = embs.select(
        "doc_id", (F.lit(1.0) - dot("embedding", _QVEC)).alias("distance")
    )
    topv = scored.orderBy(F.col("distance").asc(), F.col("doc_id").asc()).limit(20)
    vrr = topv.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("distance").asc(), F.col("doc_id").asc()))
        .alias("vrn"),
    )
    j = vrr.join(bmr, "doc_id", "full_outer")
    rrf = F.coalesce(F.lit(1.0) / (F.lit(RRF_K) + F.col("vrn")), F.lit(0.0)) + F.coalesce(
        F.lit(1.0) / (F.lit(RRF_K) + F.col("brn")), F.lit(0.0)
    )
    return (
        j.select(
            "doc_id",
            rrf.alias("rrf_score"),
            F.coalesce(F.col("vrn"), F.lit(-1)).alias("vec_rank"),
            F.coalesce(F.col("brn"), F.lit(-1)).alias("bm25_rank"),
        )
        .orderBy(F.col("rrf_score").desc(), F.col("doc_id").asc())
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Vocabulary building: global (term, tf, df) stats, top-k by document
# frequency — the tokenizer-training / corpus-profiling pass.
# ---------------------------------------------------------------------------

@register(
    "vocab_top_terms",
    f"""
WITH tokens AS (
  SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
),
terms AS (SELECT doc_id, unnest(toks) AS term FROM tokens),
vocab AS (
  SELECT term, count(*) AS tf, count(DISTINCT doc_id) AS df
  FROM terms GROUP BY term
)
SELECT term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df
FROM vocab
ORDER BY df DESC, tf DESC, term
LIMIT 40
""",
)
def vocab_top_terms(spark, sf_dir):
    """Top-40 corpus terms by (df desc, tf desc, term) — total order, so
    the LIMIT is deterministic on both engines."""
    docs = load_docs(spark, sf_dir).select("doc_id", "text")
    return T.vocabulary(docs, top_k=40).select("term", "tf", "df")


# ---------------------------------------------------------------------------
# Two-stage retrieval: cheap vector top-50 (TakeOrderedAndProject over the
# corpus) -> expensive cross-scorer over ONLY the candidates (mapInPandas;
# candidates are broadcast-scale, so an arbitrarily costly cross-encoder
# slots in without touching the corpus). The surrogate scorer is the
# distinct-token Dice coefficient — integer set sizes + one final double
# division, so the oracle reproduces it exactly.
# ---------------------------------------------------------------------------

_Q_DISTINCT = sorted(set(QUERY_TEXT.lower().split()))
_Q_LIST_SQL = "[" + ", ".join(f"'{t}'" for t in _Q_DISTINCT) + "]"


@register(
    "search_rerank",
    f"""
WITH {_EMB_SCORED_CTES},
cands AS (
  SELECT * FROM scored ORDER BY distance ASC, doc_id ASC LIMIT 50
),
reranked AS (
  SELECT c.doc_id,
         (2 * len(list_filter(
              list_distinct({_TOKS_SQL.replace("text", "d.text")}),
              t -> list_contains({_Q_LIST_SQL}, t))))
           / ({len(_Q_DISTINCT)} + len(list_distinct(
                {_TOKS_SQL.replace("text", "d.text")})))
           AS rerank_score
  FROM cands c JOIN documents d ON d.doc_id = c.doc_id
)
SELECT r.doc_id, d.source, r.rerank_score
FROM reranked r JOIN documents d ON d.doc_id = r.doc_id
ORDER BY r.rerank_score DESC, r.doc_id ASC
LIMIT 10
""",
)
def search_rerank(spark, sf_dir):
    from ..operators.text_search import cross_rerank

    docs, cands = _scored_topk(spark, sf_dir, 50)
    with_text = docs.join(F.broadcast(cands), "doc_id")
    reranked = cross_rerank(with_text, QUERY_TEXT)
    return (
        docs.select("doc_id", "source")
        .join(F.broadcast(reranked), "doc_id")
        .select("doc_id", "source", "rerank_score")
        .orderBy(F.col("rerank_score").desc(), F.col("doc_id").asc())
        .limit(10)
    )


# ---------------------------------------------------------------------------
# L1 prompt assembly, oracle-checked: the REAL rag.assemble_rag_prompt runs
# inside a grouped Pandas stage over the retrieved top-3 contexts (ordered
# exactly like the serving path: distance asc, doc_id asc) and the oracle
# rebuilds the byte-identical prompt with string_agg. Turns the RAG layer's
# only-pytest coverage into a driver-checked query.
# ---------------------------------------------------------------------------

@register(
    "rag_prompt_assembly",
    f"""
WITH {_EMB_SCORED_CTES},
topk AS (
  SELECT * FROM scored ORDER BY distance ASC, doc_id ASC LIMIT 3
),
ctx AS (
  SELECT d.text, t.distance, d.doc_id
  FROM topk t JOIN documents d ON d.doc_id = t.doc_id
)
SELECT 'Use the following contexts to answer:' || chr(10) || chr(10)
       || string_agg(text, chr(10) || chr(10) || '---' || chr(10) || chr(10)
                     ORDER BY distance ASC, doc_id ASC)
       || chr(10) || chr(10) || 'Question: ' || '{QUERY_TEXT}' AS prompt,
       count(*) AS n_contexts
FROM ctx
HAVING count(*) > 0
""",
)
def rag_prompt_assembly(spark, sf_dir):
    import pandas as pd

    from ..rag import assemble_rag_prompt

    docs, cands = _scored_topk(spark, sf_dir, 3)
    with_text = docs.join(F.broadcast(cands), "doc_id").select(
        "doc_id", "text", "distance"
    )

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["distance", "doc_id"])
        prompt = assemble_rag_prompt(list(pdf["text"]), QUERY_TEXT)
        return pd.DataFrame({"prompt": [prompt], "n_contexts": [len(pdf)]})

    return (
        with_text.withColumn("_g", F.lit(1))
        .groupBy("_g")
        .applyInPandas(build, "prompt string, n_contexts bigint")
        .select("prompt", "n_contexts")
    )


# ---------------------------------------------------------------------------
# L4 chunks-only banners, oracle-checked: the REAL rag.format_chunks runs
# over the retrieved rows (banner per hit + blank-line collapse); newlines
# are injected deterministically first so the F9 collapse actually fires.
# ---------------------------------------------------------------------------

@register(
    "rag_chunk_banners",
    f"""
WITH {_EMB_SCORED_CTES},
topk AS (
  SELECT * FROM scored ORDER BY distance ASC, doc_id ASC LIMIT 3
),
ctx AS (
  SELECT row_number() OVER (ORDER BY t.distance ASC, t.doc_id ASC) AS i,
         'doc_' || CAST(d.doc_id AS VARCHAR) || '.txt' AS file_name,
         regexp_replace(replace(d.text, '. ', '.' || chr(10) || ' ' || chr(10)),
                        '\\n\\s*\\n+', chr(10) || chr(10), 'g') AS collapsed
  FROM topk t JOIN documents d ON d.doc_id = t.doc_id
)
SELECT string_agg('CONTEXT ' || CAST(i AS VARCHAR) || ' | ' || file_name
                    || chr(10) || chr(10) || collapsed,
                  chr(10) || chr(10) || '---' || chr(10) || chr(10)
                  ORDER BY i) AS banners,
       count(*) AS n_chunks
FROM ctx
HAVING count(*) > 0
""",
)
def rag_chunk_banners(spark, sf_dir):
    import pandas as pd

    from ..rag import format_chunks

    docs, cands = _scored_topk(spark, sf_dir, 3)
    with_text = docs.join(F.broadcast(cands), "doc_id").select(
        "doc_id",
        # inject '.\n \n' after sentence ends so the F9 blank-line collapse
        # in format_chunks has something real to do (fixture text is 1-line)
        F.regexp_replace("text", r"\. ", ".\n \n").alias("chunk_text"),
        F.concat(F.lit("doc_"), F.col("doc_id").cast("string"), F.lit(".txt")).alias(
            "file_name"
        ),
        "distance",
    )

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["distance", "doc_id"])
        banners = format_chunks(pdf.to_dict("records"))
        return pd.DataFrame({"banners": [banners], "n_chunks": [len(pdf)]})

    return (
        with_text.withColumn("_g", F.lit(1))
        .groupBy("_g")
        .applyInPandas(build, "banners string, n_chunks bigint")
        .select("banners", "n_chunks")
    )


# ---------------------------------------------------------------------------
# Pseudo-relevance feedback (Rocchio-style) query expansion: seed BM25
# top-5 -> feedback terms (integer-ranked: in >=2 feedback docs, by total
# feedback tf) -> second BM25 pass over seed+feedback terms. The classic
# IR recall lever, fully relational on the inverted-index layout.
# ---------------------------------------------------------------------------

def _bm25_scored_sql(postings: str, dfs: str) -> str:
    return f"""
  SELECT p.doc_id,
         ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5))
         * (p.tf * (1.2 + 1)) / (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * p.dl / s.avgdl))
           AS sc
  FROM {postings} p JOIN {dfs} d USING (term) CROSS JOIN stats s
"""


@register(
    "search_prf_expansion",
    rf"""
WITH tokens AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
tf AS (
  SELECT doc_id, dl, term, count(*) AS tf FROM (
    SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM tokens
  ) GROUP BY 1, 2, 3
),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n,
         (SELECT avg(dl) FROM (SELECT DISTINCT doc_id, dl FROM tf)) AS avgdl
),
postings1 AS (SELECT * FROM tf WHERE term IN ({_TERMS_SQL})),
dfs1 AS (SELECT term, count(*) AS df FROM postings1 GROUP BY 1),
scored1 AS ({_bm25_scored_sql('postings1', 'dfs1')}),
fb_docs AS (
  SELECT doc_id FROM (
    SELECT doc_id, round(sum(sc), 6) AS bm25
    FROM scored1 GROUP BY 1
    ORDER BY bm25 DESC, doc_id ASC
    LIMIT 5
  )
),
fb_terms AS (
  SELECT term FROM (
    SELECT t.term, count(*) AS fb_df, sum(t.tf) AS fb_tf
    FROM tf t JOIN fb_docs f USING (doc_id)
    WHERE t.term NOT IN ({_TERMS_SQL})
    GROUP BY 1
  ) WHERE fb_df >= 2
  ORDER BY fb_tf DESC, term ASC
  LIMIT 3
),
all_terms AS (
  SELECT unnest([{_TERMS_SQL}]) AS term
  UNION
  SELECT term FROM fb_terms
),
postings2 AS (SELECT * FROM tf WHERE term IN (SELECT term FROM all_terms)),
dfs2 AS (SELECT term, count(*) AS df FROM postings2 GROUP BY 1),
scored2 AS ({_bm25_scored_sql('postings2', 'dfs2')})
SELECT doc_id, round(sum(sc), 6) AS bm25
FROM scored2 GROUP BY 1
ORDER BY bm25 DESC, doc_id ASC
LIMIT 10
""",
)
def search_prf_expansion(spark, sf_dir):
    """Two-pass PRF retrieval: the feedback-term pick is pure integer
    ordering (float-free), both BM25 passes keep the 6-decimal rounding
    contract; expansion terms reach the second pass as a broadcast
    semi-join (bm25_topk_terms_df), never a driver round-trip."""
    docs = load_docs(spark, sf_dir)
    expanded = T.prf_expansion_terms(docs, list(BM25_TERMS))
    return T.bm25_topk_terms_df(docs, expanded, k=10)


# ---------------------------------------------------------------------------
# Positional phrase search (operators/text_search.positional_postings +
# phrase_match): the exact-phrase capability bag-of-words BM25 cannot
# express. The oracle finds the same matches scanning token positions
# per document directly — the chain-join == direct-scan equivalence is
# the check.
# ---------------------------------------------------------------------------

_PHRASE = ["slow", "hash", "batch"]


@register(
    "phrase_search_positions",
    rf"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                     t -> t != '') AS t
  FROM documents
),
hits AS (
  SELECT doc_id,
         unnest(list_filter(range(1, len(t) - 1),
                i -> t[i] = '{_PHRASE[0]}' AND t[i + 1] = '{_PHRASE[1]}'
                     AND t[i + 2] = '{_PHRASE[2]}')) AS p
  FROM toks WHERE len(t) >= 3
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_matches,
       CAST(min(p) - 1 AS BIGINT) AS first_pos
FROM hits
GROUP BY doc_id
ORDER BY doc_id
""",
)
def phrase_search_positions(spark, sf_dir):
    """Exact 3-token phrase over the positional inverted index: each
    phrase term's postings are a partition-pruned read, the chain join is
    (id, pos+offset)-keyed, and the result carries match counts + first
    offset — proportional to posting-list sizes, never the corpus."""
    from ..operators.text_search import phrase_match, positional_postings

    docs = load_docs(spark, sf_dir)
    postings = positional_postings(docs)
    return phrase_match(postings, _PHRASE).orderBy("doc_id")


_NEAR_A, _NEAR_B, _NEAR_SLOP = "slow", "batch", 4


@register(
    "proximity_search_near",
    rf"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                     t -> t != '') AS t
  FROM documents
),
pa AS (
  SELECT doc_id, unnest(list_filter(range(1, len(t) + 1),
                        i -> t[i] = '{_NEAR_A}')) AS p
  FROM toks
),
pb AS (
  SELECT doc_id, unnest(list_filter(range(1, len(t) + 1),
                        i -> t[i] = '{_NEAR_B}')) AS p
  FROM toks
)
SELECT pa.doc_id,
       CAST(count(*) AS BIGINT) AS n_matches,
       CAST(min(abs(pa.p - pb.p)) AS BIGINT) AS min_span
FROM pa JOIN pb ON pa.doc_id = pb.doc_id
WHERE abs(pa.p - pb.p) <= {_NEAR_SLOP}
GROUP BY pa.doc_id
ORDER BY pa.doc_id
""",
)
def proximity_search_near(spark, sf_dir):
    """NEAR/{_NEAR_SLOP} over the positional index: '{_NEAR_A}' within
    {_NEAR_SLOP} tokens of '{_NEAR_B}' in either order — match counts and
    the tightest span per doc. Work bounded by the two posting lists."""
    from ..operators.text_search import positional_postings, proximity_match

    docs = load_docs(spark, sf_dir)
    postings = positional_postings(docs)
    return proximity_match(
        postings, _NEAR_A, _NEAR_B, _NEAR_SLOP
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# WAND / max-score pruned BM25 (VERDICT r9 #6): the classic IR serving
# lever — per-term (df, tf_max, dl_min) index metadata upper-bounds every
# posting's score, a k-seed pass sets the floor θ, and only docs whose
# upper bound can reach θ are exactly scored. The oracle is FULL scoring
# (bm25_topk's own SQL, same terms, same 6-dp rounding): a hash match IS
# the proof that pruning changed the work, not the result.
# tests/test_text_search.py additionally pins wand == bm25_topk row-for-row
# and measures the scored-postings reduction.
# ---------------------------------------------------------------------------


@register(
    "bm25_wand_topk",
    rf"""
WITH tokens AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
tf AS (
  SELECT doc_id, dl, term, count(*) AS tf FROM (
    SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM tokens
  ) GROUP BY 1, 2, 3
),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n,
         (SELECT avg(dl) FROM (SELECT DISTINCT doc_id, dl FROM tf)) AS avgdl
),
postings AS (SELECT * FROM tf WHERE term IN ({_TERMS_SQL})),
dfs AS (SELECT term, count(*) AS df FROM postings GROUP BY 1),
scored AS (
  SELECT p.doc_id,
         ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5))
         * (p.tf * (1.2 + 1)) / (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * p.dl / s.avgdl))
           AS sc
  FROM postings p JOIN dfs d USING (term) CROSS JOIN stats s
)
SELECT doc_id, round(sum(sc), 6) AS bm25
FROM scored GROUP BY 1
ORDER BY bm25 DESC, doc_id ASC
LIMIT 10
""",
)
def bm25_wand_topk(spark, sf_dir):
    """Top-10 BM25 for BM25_TERMS via WAND upper-bound pruning
    (operators/text_search.bm25_wand_topk). The oracle fully scores every
    posting; the Spark side exactly scores only the θ-surviving docs —
    identical output proves the prune is lossless."""
    from ..operators.text_search import bm25_wand_topk as _wand

    docs = load_docs(spark, sf_dir)
    return _wand(docs, list(BM25_TERMS), k=10)


# ---------------------------------------------------------------------------
# Persisted lexical index serving (round 11, VERDICT r10 #2): the Spark
# side answers from the PERSISTED index artifact (api.build_text_index's
# table trio, cached per fixture content-fingerprint like the media
# corpus), while the oracle recomputes BM25 from the raw documents table
# — a hash match proves build-artifact-then-serve == compute-from-corpus
# across engines, which is the whole index contract.
# ---------------------------------------------------------------------------

BM25_IDX_TERMS = ("data", "model", "search", "index")
_IDX_TERMS_SQL = ", ".join(f"'{t}'" for t in BM25_IDX_TERMS)

_TEXT_INDEX_CACHE_VERSION = 3  # v2: + blocks sidecar; v3: + positions


def _text_index(spark, sf_dir: str):
    """(postings, term_meta, stats, blocks, positions) for sf_dir's
    documents table (operators/text_search.build_text_index), built
    once per fixture content into a /tmp artifact cache (the
    _media_fixture pattern: fingerprint-keyed, pid-tempdir + atomic
    rename, torn caches rebuilt)."""
    import os
    import shutil

    from .pipeline import _docs_fingerprint

    key = sf_dir.strip("/").replace("/", "_")
    fp = _docs_fingerprint(sf_dir)
    dst = f"/tmp/vdl_text_index/v{_TEXT_INDEX_CACHE_VERSION}/{key}-{fp}"
    tables = ("postings", "terms", "stats", "blocks", "positions")
    if not os.path.exists(os.path.join(dst, "_SUCCESS")):
        tmp = f"{dst}.tmp.{os.getpid()}"
        for df, t in zip(T.build_text_index(load_docs(spark, sf_dir)), tables):
            writer = df.write.mode("overwrite")
            if "term_bucket" in df.columns:
                writer = writer.partitionBy("term_bucket")
            writer.parquet(f"{tmp}/{t}")
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
    return tuple(spark.read.parquet(f"{dst}/{t}") for t in tables)


@register(
    "bm25_index_topk",
    rf"""
WITH tokens AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
tf AS (
  SELECT doc_id, dl, term, count(*) AS tf FROM (
    SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM tokens
  ) GROUP BY 1, 2, 3
),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n,
         (SELECT avg(dl) FROM (SELECT DISTINCT doc_id, dl FROM tf)) AS avgdl
),
postings AS (SELECT * FROM tf WHERE term IN ({_IDX_TERMS_SQL})),
dfs AS (SELECT term, count(*) AS df FROM postings GROUP BY 1),
scored AS (
  SELECT p.doc_id,
         ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5))
         * (p.tf * (1.2 + 1)) / (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * p.dl / s.avgdl))
           AS sc
  FROM postings p JOIN dfs d USING (term) CROSS JOIN stats s
)
SELECT doc_id, round(sum(sc), 6) AS bm25
FROM scored GROUP BY 1
ORDER BY bm25 DESC, doc_id ASC
LIMIT 12
""",
)
def bm25_index_topk(spark, sf_dir):
    """Top-12 BM25 served from the PERSISTED text index
    (operators/text_search.bm25_topk_from_index): the postings scan is
    partition-pruned to the query terms' md5 buckets (PartitionFilters
    pinned by test_plans), df/N/avgdl come from the sidecars, and the
    corpus text is never touched at query time. The oracle recomputes
    from the raw documents table — hash match == artifact fidelity."""
    from ..operators.text_search import bm25_topk_from_index

    postings, term_meta, stats = _text_index(spark, sf_dir)[:3]
    return bm25_topk_from_index(
        postings, term_meta, stats, list(BM25_IDX_TERMS), k=12
    )


@register(
    "bm25_index_wand_topk",
    rf"""
WITH tokens AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
tf AS (
  SELECT doc_id, dl, term, count(*) AS tf FROM (
    SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM tokens
  ) GROUP BY 1, 2, 3
),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n,
         (SELECT avg(dl) FROM (SELECT DISTINCT doc_id, dl FROM tf)) AS avgdl
),
postings AS (SELECT * FROM tf WHERE term IN ({_IDX_TERMS_SQL})),
dfs AS (SELECT term, count(*) AS df FROM postings GROUP BY 1),
scored AS (
  SELECT p.doc_id,
         ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5))
         * (p.tf * (1.2 + 1)) / (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * p.dl / s.avgdl))
           AS sc
  FROM postings p JOIN dfs d USING (term) CROSS JOIN stats s
)
SELECT doc_id, round(sum(sc), 6) AS bm25
FROM scored GROUP BY 1
ORDER BY bm25 DESC, doc_id ASC
LIMIT 8
""",
)
def bm25_index_wand_topk(spark, sf_dir):
    """Top-8 BM25 served ENTIRELY from the persisted index artifacts:
    postings partition-pruned by term bucket, per-term upper bounds from
    the term sidecar, BLOCK-MAX extrema from the persisted block sidecar
    (operators/text_search.bm25_wand_topk_from_index + the
    build_text_block_meta table) — zero corpus tokenization AND zero
    query-time extrema computation. The oracle fully scores from raw
    documents; hash match == (artifact fidelity AND lossless prune)."""
    from ..operators.text_search import bm25_wand_topk_from_index

    postings, term_meta, stats, blocks = _text_index(spark, sf_dir)[:4]
    return bm25_wand_topk_from_index(
        postings, term_meta, stats, list(BM25_IDX_TERMS), k=8,
        block_meta=blocks,
    )


# ---------------------------------------------------------------------------
# Block-max WAND on the long-tail corpus (round 11, VERDICT r10 #9): the
# skewed fixture variant — every 50th doc is a SHORT stacked-terms doc,
# the rest are long docs mentioning 'spark' once — is exactly the shape
# where term-global bounds collapse (global dl_min comes from the short
# heavy docs, so every tail doc's bound is inflated) and per-(term,
# id-block) maxima recover the prune: 3180 -> 558 exactly-scored docs at
# block 8 (and NO gain at block 64, which straddles the every-50th heavy
# docs — the BM-WAND block-sizing rule, measured not assumed). The oracle
# fully scores the same corpus: hash match == the block-max prune is
# lossless on this shape.
# ---------------------------------------------------------------------------

_SKEW_STACK = "spark query table spark query table spark query spark table "
_BMX_BLOCK = 8

_SKEW_CORPUS_SQL = f"""
  SELECT doc_id,
         CASE WHEN doc_id % 50 = 0 THEN repeat('{_SKEW_STACK}', 3)
              ELSE text || ' spark' END AS text
  FROM documents
"""


@register(
    "bm25_blockmax_skewed_topk",
    rf"""
WITH corpus AS ({_SKEW_CORPUS_SQL}),
tokens AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM corpus),
tf AS (
  SELECT doc_id, dl, term, count(*) AS tf FROM (
    SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM tokens
  ) GROUP BY 1, 2, 3
),
stats AS (
  SELECT (SELECT count(*) FROM corpus) AS n,
         (SELECT avg(dl) FROM (SELECT DISTINCT doc_id, dl FROM tf)) AS avgdl
),
postings AS (SELECT * FROM tf WHERE term IN ({_TERMS_SQL})),
dfs AS (SELECT term, count(*) AS df FROM postings GROUP BY 1),
scored AS (
  SELECT p.doc_id,
         ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5))
         * (p.tf * (1.2 + 1)) / (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * p.dl / s.avgdl))
           AS sc
  FROM postings p JOIN dfs d USING (term) CROSS JOIN stats s
)
SELECT doc_id, round(sum(sc), 6) AS bm25
FROM scored GROUP BY 1
ORDER BY bm25 DESC, doc_id ASC
LIMIT 10
""",
)
def bm25_blockmax_skewed_topk(spark, sf_dir):
    """Top-10 BM25 on the long-tail skewed corpus via BLOCK-MAX WAND
    (operators/text_search.bm25_wand_topk with block_size=8). The oracle
    fully scores every posting of the same derived corpus; identical
    output proves the per-(term, block) bound never prunes a true top-k
    doc. wand_pruning_stats(block_size=8) measures the depth
    (SCALE.md)."""
    from ..operators.text_search import bm25_wand_topk as _wand

    docs = load_docs(spark, sf_dir)
    skew = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 50 == 0, F.expr(f"repeat('{_SKEW_STACK}', 3)")
        )
        .otherwise(F.concat(F.col("text"), F.lit(" spark")))
        .alias("text"),
    )
    return _wand(skew, list(BM25_TERMS), k=10, block_size=_BMX_BLOCK)


# ---------------------------------------------------------------------------
# Positional index serving (round 11): phrase search answered from the
# PERSISTED positional artifact (text_index_positions — per-doc
# (term, pos) rows bucketed by md5(term), pure-append maintenance), not a
# per-query corpus re-tokenize. The oracle recomputes from raw
# documents: hash match == positional-artifact fidelity.
# ---------------------------------------------------------------------------

_IDX_PHRASE = ("window", "fast", "query")


@register(
    "phrase_search_indexed",
    rf"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                     t -> t != '') AS t
  FROM documents
),
hits AS (
  SELECT doc_id,
         unnest(list_filter(range(1, len(t) - 1),
                i -> t[i] = '{_IDX_PHRASE[0]}' AND t[i + 1] = '{_IDX_PHRASE[1]}'
                     AND t[i + 2] = '{_IDX_PHRASE[2]}')) AS p
  FROM toks WHERE len(t) >= 3
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_matches,
       CAST(min(p) - 1 AS BIGINT) AS first_pos
FROM hits
GROUP BY doc_id
""",
)
def phrase_search_indexed(spark, sf_dir):
    """Exact 3-token phrase served from the persisted positional index
    (operators/text_search.build_text_positions + positions_for_terms +
    phrase_match): the postings scan is partition-pruned to the phrase
    terms' buckets and the chain join touches only their posting lists —
    zero corpus tokenization at query time. Oracle recomputes from raw
    documents; hash match == artifact fidelity for the positional tier."""
    from ..operators.text_search import phrase_match, positions_for_terms

    positions = _text_index(spark, sf_dir)[4]
    return phrase_match(
        positions_for_terms(positions, list(_IDX_PHRASE)), list(_IDX_PHRASE)
    )
