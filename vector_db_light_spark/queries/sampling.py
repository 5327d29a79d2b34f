"""Sampling / dataset-split / sequence-packing queries — training-data
pipeline operators over the documents table (beyond-reference surface,
operators/sampling.py). All deterministic via md5 hex prefixes, so every
query hash-matches its oracle with zero RNG or float involvement.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..obs import materialize
from ..operators import sampling as SM
from ..operators.dedup import tokens_expr
from .._registry_core import load, register

# Downsample the dominant language, keep the tail — the canonical
# rebalancing move before training-data mixing.
_RATES = {"en": 0.25, "de": 0.6, "fr": 0.6, "es": 0.6}
_DEFAULT_RATE = 0.5  # zh + anything unexpected

_TOKS_SQL = r"list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), t -> t != '')"


@register(
    "sample_stratified_lang",
    f"""
SELECT doc_id, lang
FROM documents
WHERE {SM.stratified_sample_sql('lang', _RATES, 'doc_id', _DEFAULT_RATE)}
ORDER BY doc_id
""",
)
def sample_stratified_lang(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    kept = SM.stratified_sample(
        docs, "lang", _RATES, key_col="doc_id", default_rate=_DEFAULT_RATE
    )
    return kept.select("doc_id", "lang").orderBy("doc_id")


@register(
    "split_train_val_test",
    f"""
SELECT doc_id, {SM.split_case_sql('doc_id')} AS split
FROM documents
ORDER BY doc_id
""",
)
def split_train_val_test(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    out = SM.train_val_test_split(docs, key_col="doc_id")
    return out.select("doc_id", "split").orderBy("doc_id")


@register(
    "pack_sequences_bins",
    f"""
WITH toks AS (
  SELECT doc_id, CAST(len({_TOKS_SQL}) AS BIGINT) AS n_tokens FROM documents
),
sharded AS (
  SELECT doc_id, n_tokens, CAST(doc_id % 32 AS INT) AS shard FROM toks
),
packed AS (
  SELECT doc_id, shard, n_tokens,
         CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              - n_tokens AS BIGINT) AS tokens_before
  FROM sharded
)
SELECT doc_id, shard, n_tokens, tokens_before // 512 AS bin_id
FROM packed
ORDER BY doc_id
""",
)
def pack_sequences_bins(spark, sf_dir):
    """Sequence packing into 512-token context bins, shard-local (32
    shards): running token sum in doc_id order per shard; integer division
    only, so both engines agree exactly."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.size(tokens_expr("text")).cast("bigint").alias("n_tokens")
    )
    packed = SM.pack_sequences(
        docs, token_col="n_tokens", capacity=512, key_col="doc_id", num_shards=32
    )
    return packed.select("doc_id", "shard", "n_tokens", "bin_id").orderBy("doc_id")


# ---------------------------------------------------------------------------
# Per-source quota: cap every origin at 20 docs, chosen by deterministic
# md5 order — no single domain dominates the mix.
# ---------------------------------------------------------------------------

@register(
    "quota_per_source",
    """
WITH ranked AS (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY substr(md5(CAST(doc_id AS VARCHAR) || 'quota'), 1, 4),
                    doc_id) AS rk
  FROM documents
)
SELECT doc_id, source FROM ranked WHERE rk <= 20
ORDER BY doc_id
""",
)
def quota_per_source(spark, sf_dir):
    """Domain-quota subsample: at most 20 docs per source, md5-ordered
    (reproducible under any partitioning; WindowGroupLimit pre-filters hot
    sources map-side)."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "source")
    return SM.cap_per_key(docs, "source", 20, id_col="doc_id", salt="quota").orderBy(
        "doc_id"
    )


@register(
    "sample_mixture_temperature",
    f"""
WITH kept AS (
{SM.temperature_mixture_sql('documents', 'lang', 'd.doc_id', 0.5)}
),
before AS (
  SELECT lang, COUNT(*) AS n_before FROM documents GROUP BY 1
)
SELECT b.lang, CAST(b.n_before AS BIGINT) AS n_before,
       CAST(COALESCE(COUNT(k.doc_id), 0) AS BIGINT) AS n_after,
       CAST(COALESCE(SUM(k.doc_id), 0) AS BIGINT) AS kept_id_sum
FROM before b LEFT JOIN kept k ON k.lang = b.lang
GROUP BY b.lang, b.n_before
ORDER BY b.lang
""",
)
def sample_mixture_temperature(spark, sf_dir):
    """Data-driven alpha=1/2 temperature mixing (operators/sampling.py::
    temperature_mixture): dominant langs downsampled toward a flat
    mixture, total ~= 50% of the corpus; per-lang before/after counts +
    kept-id checksum, all integer-exact."""
    docs = load(spark, sf_dir, "documents")
    kept = SM.temperature_mixture(docs, "lang", key_col="doc_id")
    before = docs.groupBy("lang").agg(F.count("*").alias("n_before"))
    after = kept.groupBy("lang").agg(
        F.count("*").alias("n_after"),
        F.sum("doc_id").alias("kept_id_sum"),
    )
    return (
        before.join(after, "lang", "left")
        .select(
            "lang",
            F.col("n_before").cast("long").alias("n_before"),
            F.coalesce(F.col("n_after"), F.lit(0)).cast("long").alias("n_after"),
            F.coalesce(F.col("kept_id_sum"), F.lit(0))
            .cast("long")
            .alias("kept_id_sum"),
        )
        .orderBy("lang")
    )


@register(
    "sample_weighted_pps",
    f"""
WITH kept AS (
{SM.pps_systematic_sample_sql('documents', 'n_chars', 60, 'd.doc_id')}
)
SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars, lang
FROM kept
ORDER BY doc_id
""",
)
def sample_weighted_pps(spark, sf_dir):
    """PPS systematic sampling by document length (~60 picks): long docs
    proportionally more likely, pure BIGINT arithmetic end to end, no
    global sort (two-level cumulative construction)."""
    docs = load(spark, sf_dir, "documents")
    kept = SM.pps_systematic_sample(docs, "n_chars", 60, "doc_id")
    return kept.select(
        "doc_id", F.col("n_chars").cast("long").alias("n_chars"), "lang"
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# DSIR importance resampling (round 11, VERDICT r10 #8): hashed-n-gram
# bucket ratios (target sample vs source corpus) -> integer importance
# weights -> PPS systematic selection. The domain shift is PLANTED: every
# doc_id % 5 == 0 source doc carries a genomics-token suffix, and the
# target sample is genomics-suffixed — DSIR must up-weight exactly those
# source docs, and the selection must overrepresent them.
# ---------------------------------------------------------------------------

_DSIR_DOM = " genome dna rna protein sequencing genome dna"
_DSIR_NB = 64
_DSIR_K = 40
_DSIR_BUCKET = "('0x' || substr(md5({f}), 1, 2))::BIGINT % " + str(_DSIR_NB)


def _dsir_feat_sql(seq: str) -> str:
    uni = _DSIR_BUCKET.format(f="w")
    bi = _DSIR_BUCKET.format(f="a.w || ' ' || b.w")
    return f"""
  SELECT doc_id, {uni} AS bucket FROM {seq}
  UNION ALL
  SELECT a.doc_id, {bi} AS bucket
  FROM {seq} a JOIN {seq} b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
"""


@register(
    "dsir_importance_sample",
    rf"""
WITH source AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0 THEN text || '{_DSIR_DOM}' ELSE text END AS text
  FROM documents
),
target AS (
  SELECT doc_id, repeat('genome dna rna protein sequencing ', 8) AS text
  FROM documents WHERE doc_id % 17 = 0
),
sseq AS MATERIALIZED (
  SELECT doc_id, unnest(t) AS w, generate_subscripts(t, 1) AS pos
  FROM (SELECT doc_id, {_TOKS_SQL} AS t FROM source)
),
tseq AS MATERIALIZED (
  SELECT doc_id, unnest(t) AS w, generate_subscripts(t, 1) AS pos
  FROM (SELECT doc_id, {_TOKS_SQL} AS t FROM target)
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
kept AS (
{SM.pps_systematic_sample_sql('weighted', 'weight_u6', _DSIR_K, 'd.doc_id')}
)
SELECT doc_id, n_feats, weight_u6,
       CAST(doc_id % 5 = 0 AS INT) AS is_target_like
FROM kept
""",
)
def dsir_importance_sample(spark, sf_dir):
    """DSIR-style data selection end to end
    (operators/sampling.dsir_feature_rows / dsir_bucket_ratios /
    dsir_doc_weights -> pps_systematic_sample): hashed unigram+bigram
    bucket distributions of a genomics-suffixed TARGET sample vs the
    source corpus give per-bucket importance ratios; source docs are
    weighted by their occurrence-mean ratio and PPS-selected (~40).
    Planted-shift check, measured at sf0.01: target-like source docs
    (doc_id % 5 == 0, 20% of corpus) average weight_u6 3.5x the rest
    (2.79M vs 0.80M) and take 18/40 sample slots — 2.25x their base
    rate; the numbers are re-derivable from the query output.
    All-integer weights, the PPS two-level construction, and a 64-row
    broadcast ratio dimension."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    source = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0, F.concat(F.col("text"), F.lit(_DSIR_DOM))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    # the target SAMPLE is in-domain text (the DSIR shape: a specialist
    # corpus, not the source corpus with a marker appended — a diluted
    # target flattens every ratio toward 1)
    target = docs.filter(F.col("doc_id") % 17 == 0).select(
        "doc_id",
        F.expr("repeat('genome dna rna protein sequencing ', 8)").alias("text"),
    )
    # consumed by the count, total and weight branches
    sfeat = materialize(SM.dsir_feature_rows(source, n_buckets=_DSIR_NB))
    tfeat = materialize(SM.dsir_feature_rows(target, n_buckets=_DSIR_NB))
    ratios = SM.dsir_bucket_ratios(sfeat, tfeat, n_buckets=_DSIR_NB)
    weighted = SM.dsir_doc_weights(sfeat, ratios)
    kept = SM.pps_systematic_sample(weighted, "weight_u6", _DSIR_K, "doc_id")
    return kept.select(
        "doc_id",
        "n_feats",
        "weight_u6",
        (F.col("doc_id") % 5 == 0).cast("int").alias("is_target_like"),
    )
