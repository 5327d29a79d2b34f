"""Family-combo queries: one driver-checkable row per §2 operator family.

The driver records CORRECTNESS for only the FIRST 50 registered queries, so
each combo here packs a whole family of proven granular queries (which stay
registered after the 50-slot window) into a single oracle-checked row:

  * knn_metrics_topk  — V2/V3/V4: all five metric variants, labeled+unioned.
  * filters_labeled   — F1/F2/F3: the three filter kinds, labeled+unioned.
  * doc_profile       — F7/F8/X1/X6 + the four textstats operators in ONE
                        documents scan (also the plan you'd want at 100 TB:
                        one pass, not seven).
  * citations_pages   — A2/A3: citation aggregate left-joined to the
                        gaps-and-islands page ranges on file_path.
  * set_ops_labeled   — §2.7 INTERSECT + EXCEPT, labeled+unioned.

Every combo reuses the identical Spark callables / oracle-SQL fragments of
its granular parts, so parity is inherited, not re-derived.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..obs import materialize
from ..operators import knn as K
from ..operators import textstats as T
from ..operators.dedup import shingles_from_tokens, tokens_expr
from .._registry_core import ORACLES, load, register
from ._sqlutil import QUERY_VEC

# ---------------------------------------------------------------------------
# V2+V3+V4: all five knn metric variants in one row (vector_db_query.py:
# 158-202 — the full distance->similarity conversion matrix).
# ---------------------------------------------------------------------------

_METRICS = ("cosine", "l2", "sum_of_squares", "inner_product", "unknown")

_KNN_COMBO_SQL = (
    "\nUNION ALL\n".join(
        f"SELECT '{m}' AS metric, t.* FROM ({ORACLES[f'knn_{m}_topk']}) t"
        for m in _METRICS
    )
    + "\nORDER BY metric, similarity DESC, vec_id ASC"
)


@register("knn_metrics_topk", _KNN_COMBO_SQL)
def knn_metrics_topk(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings")
    parts = [
        K.knn(emb, QUERY_VEC, k=6, metric=m).withColumn("metric", F.lit(m))
        for m in _METRICS
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select("metric", "vec_id", "distance", "similarity").orderBy(
        "metric", F.col("similarity").desc(), F.col("vec_id").asc()
    )


# ---------------------------------------------------------------------------
# F1+F2+F3: threshold / keyword / doctype filters, labeled into one schema
# (kind, id, score, payload). Score is -1.0 for the non-scored kinds.
# ---------------------------------------------------------------------------

_FILTERS_COMBO_SQL = f"""
SELECT 'threshold' AS kind, vec_id AS id, similarity AS score, '' AS payload
FROM ({ORACLES["filter_threshold"]}) t
UNION ALL
SELECT 'keyword' AS kind, doc_id AS id, -1.0 AS score, source AS payload
FROM ({ORACLES["filter_keyword"]}) k
UNION ALL
SELECT 'doctype' AS kind, doc_id AS id, -1.0 AS score, document_type AS payload
FROM ({ORACLES["filter_doctype"]}) d
ORDER BY kind, id
"""


@register("filters_labeled", _FILTERS_COMBO_SQL)
def filters_labeled(spark, sf_dir):
    from .retrieval import filter_doctype, filter_keyword, filter_threshold

    th = filter_threshold(spark, sf_dir).select(
        F.lit("threshold").alias("kind"),
        F.col("vec_id").alias("id"),
        F.col("similarity").alias("score"),
        F.lit("").alias("payload"),
    )
    kw = filter_keyword(spark, sf_dir).select(
        F.lit("keyword").alias("kind"),
        F.col("doc_id").alias("id"),
        F.lit(-1.0).alias("score"),
        F.col("source").alias("payload"),
    )
    dt = filter_doctype(spark, sf_dir).select(
        F.lit("doctype").alias("kind"),
        F.col("doc_id").alias("id"),
        F.lit(-1.0).alias("score"),
        F.col("document_type").alias("payload"),
    )
    return th.unionByName(kw).unionByName(dt).orderBy("kind", "id")


# ---------------------------------------------------------------------------
# F7+F8+X1+X6 + textstats (lang-ID, quality, token counts, fingerprint) in a
# single documents scan: tokenize once, shingle once, derive everything.
# ---------------------------------------------------------------------------

_TOKS_SQL = r"list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), t -> t != '')"
_CLEAN_SQL = (
    r"coalesce(nullif(trim(regexp_replace(text, '[^\x20-\x7E\n\t]', '', 'g')), ''), ' ')"
)


def _lang_score_on_toks(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in T.STOPWORDS[lang])
    return f"len(list_filter(toks, t -> list_contains([{words}], t)))"


_PROFILE_BEST = "greatest(" + ", ".join(f"score_{l}" for l in T.LANG_ORDER) + ")"
_PROFILE_PRED = (
    "CASE WHEN " + _PROFILE_BEST + " = 0 THEN 'unknown' "
    + " ".join(f"WHEN score_{l} = {_PROFILE_BEST} THEN '{l}'" for l in T.LANG_ORDER)
    + " END"
)

_DOC_PROFILE_SQL = rf"""
WITH base AS (
  SELECT doc_id, text, {_TOKS_SQL} AS toks FROM documents
),
sh AS (
  SELECT *, list_distinct(CASE WHEN len(toks) >= 5
      THEN list_transform(range(1, len(toks) - 3),
                          i -> array_to_string(toks[i:i+4], ' '))
      ELSE []::VARCHAR[] END) AS shingles
  FROM base
),
scored AS (
  SELECT *,
         {", ".join(f"{_lang_score_on_toks(l)} AS score_{l}" for l in T.LANG_ORDER)}
  FROM sh
)
SELECT doc_id,
       {_CLEAN_SQL} AS clean_text,
       length({_CLEAN_SQL}) AS clean_len,
       sha256(text) AS text_sha256,
       md5(text) AS text_md5,
       score_de, score_en, score_es, score_fr,
       {_PROFILE_PRED} AS predicted_lang,
       CAST(length(text) AS BIGINT) AS n_chars,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       CASE WHEN length(text) > 0
            THEN CAST(length(text) - length(regexp_replace(text, '[a-zA-Z]', '', 'g')) AS DOUBLE) / length(text)
            ELSE 0.0 END AS alpha_ratio,
       CASE WHEN length(text) > 0
            THEN CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) / length(text)
            ELSE 0.0 END AS digit_ratio,
       CASE WHEN length(text) > 0
            THEN CAST(length(text) - length(regexp_replace(text, '[ \t\n]', '', 'g')) AS DOUBLE) / length(text)
            ELSE 0.0 END AS space_ratio,
       CASE WHEN len(toks) > 0
            THEN CAST(list_reduce(list_prepend(0, list_transform(toks, t -> length(t))),
                                  (a, b) -> a + b) AS DOUBLE) / len(toks)
            ELSE 0.0 END AS mean_token_len,
       len(toks) AS ws_tokens,
       len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS bpe_ish_tokens,
       len(shingles) AS n_shingles,
       list_min(list_transform(shingles, s -> md5(s))) AS fingerprint
FROM scored
ORDER BY doc_id
"""


@register("doc_profile", _DOC_PROFILE_SQL)
def doc_profile(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    # Materialize tokens and shingles FIRST (Catalyst does not CSE through
    # higher-order functions), then the language scores, then everything else.
    base = docs.select(
        "doc_id", "text", tokens_expr("text").alias("_toks")
    ).withColumn("_sh", shingles_from_tokens(F.col("_toks"), 5))
    scores = T.lang_hit_counts(F.col("_toks"))
    scored = base.select(
        "doc_id",
        "text",
        "_toks",
        "_sh",
        *[scores[l].alias(f"score_{l}") for l in T.LANG_ORDER],
    )
    best = F.greatest(*[F.col(f"score_{l}") for l in T.LANG_ORDER])
    pred = F.when(best == 0, "unknown")
    for lang in T.LANG_ORDER:
        pred = pred.when(F.col(f"score_{lang}") == best, lang)
    stripped = F.regexp_replace("text", r"[^\x20-\x7E\n\t]", "")
    cleaned = F.coalesce(F.nullif(F.trim(stripped), F.lit("")), F.lit(" "))
    m = T.quality_metrics("text", toks=F.col("_toks"))
    return scored.select(
        "doc_id",
        cleaned.alias("clean_text"),
        F.length(cleaned).alias("clean_len"),
        F.sha2("text", 256).alias("text_sha256"),
        F.md5("text").alias("text_md5"),
        *[F.col(f"score_{l}") for l in T.LANG_ORDER],
        pred.alias("predicted_lang"),
        m["n_chars"].alias("n_chars"),
        m["n_tokens"].alias("n_tokens"),
        m["alpha_ratio"].alias("alpha_ratio"),
        m["digit_ratio"].alias("digit_ratio"),
        m["space_ratio"].alias("space_ratio"),
        m["mean_token_len"].alias("mean_token_len"),
        F.size("_toks").alias("ws_tokens"),
        T.token_count_bpe_ish("text").cast("int").alias("bpe_ish_tokens"),
        F.size("_sh").alias("n_shingles"),
        F.array_min(F.transform(F.col("_sh"), lambda s: F.md5(s))).alias("fingerprint"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# A2+A3: citation aggregate joined to page-range compaction per file_path.
# ---------------------------------------------------------------------------


def _citations_pages_sql() -> str:
    return f"""
SELECT c.file_path, c.min_score, c.max_score, c.n_hits, c.file_type, c.pages,
       coalesce(p.page_ranges, '') AS page_ranges
FROM ({ORACLES["citations_agg"]}) c
LEFT JOIN ({ORACLES["page_ranges"]}) p ON c.file_path = p.file_path
ORDER BY c.file_path
"""


@register("citations_pages", _citations_pages_sql())
def citations_pages(spark, sf_dir):
    from .retrieval import citations_agg, page_ranges

    c = citations_agg(spark, sf_dir)
    p = page_ranges(spark, sf_dir)
    return (
        c.join(F.broadcast(p), "file_path", "left")
        .withColumn("page_ranges", F.coalesce("page_ranges", F.lit("")))
        .orderBy("file_path")
    )


# ---------------------------------------------------------------------------
# §2.7 set operations: INTERSECT + EXCEPT, labeled into (op, key).
# ---------------------------------------------------------------------------

_SET_OPS_SQL = f"""
SELECT 'intersect' AS op, nationkey AS key FROM ({ORACLES["nations_with_both"]}) i
UNION ALL
SELECT 'except' AS op, custkey AS key FROM ({ORACLES["customers_never_f_status"]}) e
ORDER BY op, key
"""


@register("set_ops_labeled", _SET_OPS_SQL)
def set_ops_labeled(spark, sf_dir):
    from .relational import customers_never_f_status, nations_with_both

    i = nations_with_both(spark, sf_dir).select(
        F.lit("intersect").alias("op"), F.col("nationkey").alias("key")
    )
    e = customers_never_f_status(spark, sf_dir).select(
        F.lit("except").alias("op"), F.col("custkey").alias("key")
    )
    return i.unionByName(e).orderBy("op", "key")


# ---------------------------------------------------------------------------
# Curation-mix manifest (round 11 capstone): the per-document KEEP/DROP
# ledger a training-data pipeline actually ships — three curation stages
# with strict precedence, each already oracle-proven standalone, now
# integrated with exact accounting:
#   1. exact dedup      (sha256 groups, min-id canonical) -> 'duplicate'
#   2. KN-bigram fluency (trained on the CANONICAL corpus, floor 33000
#      micro-units ~= the p10 of the fixture)             -> 'disfluent'
#   3. stopword lang-ID  (content-derived, not the lang label)
#                                                         -> 'non_english'
# Everything downstream (token counts, reasons) is integer-exact; the
# manifest rows ARE the accounting (sum of n_tokens by drop_reason is
# the mix report). Pipeline order matters and is the tested contract:
# the LM trains on the post-dedup corpus, not the raw one — duplicated
# text would otherwise inflate its own bigram counts and score itself
# fluent (the self-reinforcement failure data-curation papers warn
# about).
# ---------------------------------------------------------------------------

from .textstats import _KN_FLU_P_SQL as _CMX_KN_SQL  # noqa: E402
from .textstats import _LANG_SCORES_SQL as _CMX_LANG_SQL  # noqa: E402
from .textstats import _PRED_SQL as _CMX_PRED_SQL  # noqa: E402
from .sampling import _DSIR_DOM, _DSIR_NB, _dsir_feat_sql  # noqa: E402
from ..operators import sampling as SM  # noqa: E402

_CMX_FLU_FLOOR = 33_000
_CMX_DSIR_K = 60


@register(
    "curation_mix_manifest",
    rf"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 200000 AS doc_id, text FROM documents WHERE doc_id % 7 = 0
),
ranked AS (
  SELECT doc_id, text,
         row_number() OVER (PARTITION BY sha256(text)
                            ORDER BY doc_id) AS dup_rn
  FROM corpus
),
canon AS (SELECT doc_id, text FROM ranked WHERE dup_rn = 1),
toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                     t -> t != '') AS t
  FROM canon
),
seq AS (
  SELECT doc_id, unnest(t) AS w, generate_subscripts(t, 1) AS pos
  FROM toks WHERE len(t) >= 2
),
bg AS MATERIALIZED (
  SELECT a.doc_id, a.w AS w1, b.w AS w2
  FROM seq a JOIN seq b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
),
c AS MATERIALIZED (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_ab FROM bg GROUP BY 1, 2
),
w1s AS (
  SELECT w1, CAST(sum(c_ab) AS BIGINT) AS c_w1,
         CAST(count(*) AS BIGINT) AS n_fanout
  FROM c GROUP BY 1
),
w2s AS (SELECT w2, CAST(count(*) AS BIGINT) AS n_cont FROM c GROUP BY 1),
nt AS (SELECT CAST(count(*) AS BIGINT) AS n_types FROM c),
flu AS (
  SELECT b.doc_id,
         CAST(sum({_CMX_KN_SQL}) AS BIGINT) // count(*) AS fluency_u6
  FROM bg b
  LEFT JOIN c   ON c.w1 = b.w1 AND c.w2 = b.w2
  LEFT JOIN w1s s1 ON s1.w1 = b.w1
  LEFT JOIN w2s s2 ON s2.w2 = b.w2
  CROSS JOIN nt
  GROUP BY 1
),
lang AS (
  SELECT doc_id, {_CMX_PRED_SQL} AS predicted_lang FROM (
    SELECT doc_id,
       {_CMX_LANG_SQL}
    FROM canon
  )
),
manifest AS (
  SELECT r.doc_id, r.text,
         CAST(len(list_filter(regexp_split_to_array(trim(lower(r.text)), '\s+'),
                              t -> t != '')) AS BIGINT) AS n_tokens,
         COALESCE(f.fluency_u6, CAST(-1 AS BIGINT)) AS fluency_u6,
         COALESCE(l.predicted_lang, 'none') AS predicted_lang,
         CASE
           WHEN r.dup_rn > 1 THEN 'duplicate'
           WHEN COALESCE(f.fluency_u6, CAST(-1 AS BIGINT)) < {_CMX_FLU_FLOOR}
             THEN 'disfluent'
           WHEN COALESCE(l.predicted_lang, 'none') != 'en' THEN 'non_english'
           ELSE 'kept'
         END AS drop_reason
  FROM ranked r
  LEFT JOIN flu f ON f.doc_id = r.doc_id
  LEFT JOIN lang l ON l.doc_id = r.doc_id
),
src AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0 THEN text || '{_DSIR_DOM}' ELSE text END AS text
  FROM manifest WHERE drop_reason = 'kept'
),
tgt AS (
  SELECT doc_id, repeat('genome dna rna protein sequencing ', 8) AS text
  FROM documents WHERE doc_id % 17 = 0
),
sseq AS MATERIALIZED (
  SELECT doc_id, unnest(t) AS w, generate_subscripts(t, 1) AS pos
  FROM (SELECT doc_id, {{_toks}} AS t FROM src)
),
tseq AS MATERIALIZED (
  SELECT doc_id, unnest(t) AS w, generate_subscripts(t, 1) AS pos
  FROM (SELECT doc_id, {{_toks}} AS t FROM tgt)
),
sfeat AS MATERIALIZED ({_dsir_feat_sql('sseq')}),
tfeat AS MATERIALIZED ({_dsir_feat_sql('tseq')}),
cs AS (SELECT bucket, CAST(count(*) AS BIGINT) AS c_s FROM sfeat GROUP BY 1),
ct AS (SELECT bucket, CAST(count(*) AS BIGINT) AS c_t FROM tfeat GROUP BY 1),
stot AS (SELECT CAST(count(*) + {_DSIR_NB} AS BIGINT) AS s_tot FROM sfeat),
ttot AS (SELECT CAST(count(*) + {_DSIR_NB} AS BIGINT) AS t_tot FROM tfeat),
bkt AS (SELECT unnest(range(0, {_DSIR_NB})) AS bucket),
ratios AS (
  SELECT bkt.bucket,
         CAST(((coalesce(ct.c_t, CAST(0 AS BIGINT)) + 1) * 1000000 * stot.s_tot)
              // ((coalesce(cs.c_s, CAST(0 AS BIGINT)) + 1) * ttot.t_tot)
              AS BIGINT) AS r_u6
  FROM bkt
  LEFT JOIN cs ON cs.bucket = bkt.bucket
  LEFT JOIN ct ON ct.bucket = bkt.bucket
  CROSS JOIN stot CROSS JOIN ttot
),
weighted AS MATERIALIZED (
  SELECT f.doc_id,
         CAST(count(*) AS BIGINT) AS n_feats,
         CAST(greatest(sum(r.r_u6) // count(*), 1) AS BIGINT) AS weight_u6
  FROM sfeat f JOIN ratios r USING (bucket)
  GROUP BY 1
),
smp AS (
{SM.pps_systematic_sample_sql('weighted', 'weight_u6', _CMX_DSIR_K, 'd.doc_id')}
)
SELECT m.doc_id, m.n_tokens, m.fluency_u6, m.predicted_lang, m.drop_reason,
       CAST(m.drop_reason = 'kept' AS INT) AS keep,
       COALESCE(w.weight_u6, CAST(0 AS BIGINT)) AS weight_u6,
       CAST(s.doc_id IS NOT NULL AS INT) AS sample_keep
FROM manifest m
LEFT JOIN weighted w ON w.doc_id = m.doc_id
LEFT JOIN smp s ON s.doc_id = m.doc_id
""".replace("{_toks}", _TOKS_SQL),
)
def curation_mix_manifest(spark, sf_dir):
    """Per-document curation manifest over the dup-injected corpus:
    exact-dedup -> KN-fluency floor (LM trained on the POST-DEDUP
    canonicals — order is the contract) -> content-derived lang-ID ->
    DSIR domain weighting + PPS selection over the SURVIVORS (round 12,
    VERDICT r11 #8 — production mixes end in domain weighting, and the
    precedence is strict: a doc must clear every drop stage before it can
    earn a weight or a sample slot; dropped docs carry weight_u6 = 0,
    sample_keep = 0). Composition of operators/dedup.exact tier +
    textstats.kn_fluency_scores + textstats.lang_id +
    sampling.dsir_* + pps_systematic_sample; sum(n_tokens) grouped by
    drop_reason is the mix report a 100 TB curation run publishes
    (sf0.01: kept 427 docs / 25238 tokens, duplicate 72/4287,
    non_english 39/886, disfluent 34/1041; DSIR planted shift: the 88
    genomics-suffixed survivors average weight_u6 1.90M vs 0.79M — 2.4x
    — and take 17/60 sample slots, 1.37x their 20.6% base rate). Shape:
    one sha256 shuffle, one bigram shuffle over canonicals + dictionary
    joins, one tokenize scan, one feature shuffle over survivors + a
    64-row broadcast ratio dimension + the two-level PPS prefix sum —
    nothing quadratic."""
    from pyspark.sql.window import Window

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.unionByName(
        docs.filter(F.col("doc_id") % 7 == 0).select(
            (F.col("doc_id") + 200000).alias("doc_id"), "text"
        )
    )
    # r16 (VERDICT r15 #3): the token array is materialized INTO the
    # ranked checkpoint (computed post-shuffle in the checkpoint job, so
    # the sha256 exchange still carries only doc_id+text) — the old shape
    # re-tokenized the corpus in each of the checkpoint's three consumers
    # (fluency variants, lang-ID, manifest n_tokens).
    ranked = materialize(  # consumed by canon + manifest join
        corpus.withColumn(
            "dup_rn",
            F.row_number().over(
                Window.partitionBy(F.sha2("text", 256)).orderBy("doc_id")
            ),
        )
        .select("doc_id", "text", tokens_expr("text").alias("_toks"), "dup_rn")
    )
    canon = ranked.filter(F.col("dup_rn") == 1)
    variants = canon.select(
        "doc_id",
        F.lit("orig").alias("variant"),
        F.col("_toks").alias("toks"),
    ).filter(F.size("toks") >= 2)
    flu = (
        T.kn_fluency_scores(variants, materialize_bigrams=False)
        .select("doc_id", "fluency_u6")
    )
    # lang-ID over the stored token array (same scores/pred CASE as
    # T.lang_id, minus its re-tokenize — the doc_profile pattern; scores
    # materialize as columns first so each HOF filter evaluates once).
    # NOT folded into the ranked checkpoint: re-probed per VERDICT r15 #3
    # at matched canary with the re-tokenize already gone — the HOF
    # hit-count pass over ALL corpus rows inside the checkpoint job
    # (4.36 s) still loses to this join shape (3.81 s); second rejection,
    # recorded in OPTIMIZATION_r16.md.
    _scores = T.lang_hit_counts(F.col("_toks"))
    _scored = canon.select(
        "doc_id", *[_scores[l].alias(f"score_{l}") for l in T.LANG_ORDER]
    )
    _best = F.greatest(*[F.col(f"score_{l}") for l in T.LANG_ORDER])
    _pred = F.when(_best == 0, "unknown")
    for _l in T.LANG_ORDER:
        _pred = _pred.when(F.col(f"score_{_l}") == _best, _l)
    lang = _scored.select("doc_id", _pred.alias("predicted_lang"))
    flu_v = F.coalesce(F.col("fluency_u6"), F.lit(-1).cast("long"))
    lang_v = F.coalesce(F.col("predicted_lang"), F.lit("none"))
    reason = (
        F.when(F.col("dup_rn") > 1, "duplicate")
        .when(flu_v < _CMX_FLU_FLOOR, "disfluent")
        .when(lang_v != "en", "non_english")
        .otherwise("kept")
    )
    man = materialize(  # consumed by output AND DSIR source
        ranked.join(flu, "doc_id", "left")
        .join(lang, "doc_id", "left")
        .select(
            "doc_id",
            "text",
            F.size("_toks").cast("long").alias("n_tokens"),
            flu_v.alias("fluency_u6"),
            lang_v.alias("predicted_lang"),
            reason.alias("drop_reason"),
            (reason == "kept").cast("int").alias("keep"),
        )
    )
    # DSIR domain-weighting stage over the SURVIVORS only (drop precedence:
    # a doc must clear dedup+fluency+langid before it can earn a weight or
    # a sample slot — weight_u6 = 0 and sample_keep = 0 for every dropped
    # doc). The domain shift is planted the dsir_importance_sample way:
    # doc_id % 5 survivors carry a genomics suffix, the target sample is
    # pure in-domain text.
    src = man.filter(F.col("keep") == 1).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.col("text"), F.lit(_DSIR_DOM)),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    tgt = docs.filter(F.col("doc_id") % 17 == 0).select(
        "doc_id",
        F.expr("repeat('genome dna rna protein sequencing ', 8)").alias("text"),
    )
    # counts, totals and weights all consume it
    sfeat = materialize(SM.dsir_feature_rows(src, n_buckets=_DSIR_NB))
    tfeat = materialize(SM.dsir_feature_rows(tgt, n_buckets=_DSIR_NB))
    ratios = SM.dsir_bucket_ratios(sfeat, tfeat, n_buckets=_DSIR_NB)
    # consumed by the PPS sampler AND the output join — checkpoint so the
    # ratio join + per-doc aggregation run once per pass (r15)
    weighted = materialize(SM.dsir_doc_weights(sfeat, ratios))
    smp = SM.pps_systematic_sample(
        weighted, "weight_u6", _CMX_DSIR_K, "doc_id"
    ).select("doc_id", F.lit(1).alias("_s"))
    return (
        # weighted is per-surviving-doc (corpus-sized at scale) — plain
        # equi-join, NOT broadcast; smp is K rows, broadcast
        man.join(weighted.select("doc_id", "weight_u6"), "doc_id", "left")
        .join(F.broadcast(smp), "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            "fluency_u6",
            "predicted_lang",
            "drop_reason",
            "keep",
            F.coalesce("weight_u6", F.lit(0).cast("long")).alias("weight_u6"),
            F.coalesce("_s", F.lit(0)).cast("int").alias("sample_keep"),
        )
    )
