"""Text-analysis queries: lang-ID, quality scoring, token counts,
fingerprinting (build-plan §7 Phase 4)."""

from __future__ import annotations

from pyspark.sql import functions as F

from ..obs import materialize
from ..operators import textstats as T
from .._registry_core import load_docs, register

_TOKS_SQL = r"list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), t -> t != '')"


def _lang_score_sql(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in T.STOPWORDS[lang])
    return f"len(list_filter({_TOKS_SQL}, t -> list_contains([{words}], t)))"


_LANG_SCORES_SQL = ",\n       ".join(
    f"{_lang_score_sql(lang)} AS score_{lang}" for lang in T.LANG_ORDER
)
_BEST_SQL = "greatest(" + ", ".join(f"score_{l}" for l in T.LANG_ORDER) + ")"
_PRED_SQL = (
    "CASE WHEN " + _BEST_SQL + " = 0 THEN 'unknown' "
    + " ".join(
        f"WHEN score_{l} = {_BEST_SQL} THEN '{l}'" for l in T.LANG_ORDER
    )
    + " END"
)


@register(
    "text_lang_id",
    f"""
WITH scored AS (
  SELECT doc_id,
       {_LANG_SCORES_SQL}
  FROM documents
)
SELECT doc_id, score_de, score_en, score_es, score_fr,
       {_PRED_SQL} AS predicted_lang
FROM scored
ORDER BY doc_id
""",
)
def text_lang_id(spark, sf_dir):
    docs = load_docs(spark, sf_dir)
    return T.lang_id(docs).orderBy("doc_id")


@register(
    "text_quality_score",
    r"""
WITH m AS (
  SELECT doc_id,
         length(text) AS n,
         length(text) - length(regexp_replace(text, '[a-zA-Z]', '', 'g')) AS alpha,
         length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS digit,
         length(text) - length(regexp_replace(text, '[ \t\n]', '', 'g')) AS space,
         list_reduce(list_prepend(0, list_transform(
           list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), t -> t != ''),
           t -> length(t))), (a, b) -> a + b) AS tok_chars,
         len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), t -> t != ''))
           AS n_toks
  FROM documents
)
SELECT doc_id,
       CAST(n AS BIGINT) AS n_chars,
       CAST(n_toks AS BIGINT) AS n_tokens,
       CASE WHEN n > 0 THEN CAST(alpha AS DOUBLE) / n ELSE 0.0 END AS alpha_ratio,
       CASE WHEN n > 0 THEN CAST(digit AS DOUBLE) / n ELSE 0.0 END AS digit_ratio,
       CASE WHEN n > 0 THEN CAST(space AS DOUBLE) / n ELSE 0.0 END AS space_ratio,
       CASE WHEN n_toks > 0 THEN CAST(tok_chars AS DOUBLE) / n_toks ELSE 0.0 END
         AS mean_token_len
FROM m
ORDER BY doc_id
""",
)
def text_quality_score(spark, sf_dir):
    # No final orderBy: the driver's compare is order-insensitive, and a
    # global range sort's sampling pass re-executes the whole expression
    # pipeline (measured 0.57 s of the query's 0.9 s at sf0.1 — VERDICT r8
    # watch #1). The oracle keeps ORDER BY only for human readability.
    docs = load_docs(spark, sf_dir).select(
        "doc_id", "text", T.tokens_expr("text").alias("_toks")
    )
    m = T.quality_metrics("text", toks=F.col("_toks"))
    return docs.select(
        "doc_id",
        m["n_chars"].alias("n_chars"),
        m["n_tokens"].alias("n_tokens"),
        m["alpha_ratio"].alias("alpha_ratio"),
        m["digit_ratio"].alias("digit_ratio"),
        m["space_ratio"].alias("space_ratio"),
        m["mean_token_len"].alias("mean_token_len"),
    )


@register(
    "text_token_counts",
    rf"""
SELECT doc_id,
       len({_TOKS_SQL}) AS ws_tokens,
       len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]'))
         AS bpe_ish_tokens
FROM documents
ORDER BY doc_id
""",
)
def text_token_counts(spark, sf_dir):
    docs = load_docs(spark, sf_dir)
    return docs.select(
        "doc_id",
        F.size(T.tokens_expr("text")).alias("ws_tokens"),
        T.token_count_bpe_ish("text").cast("int").alias("bpe_ish_tokens"),
    ).orderBy("doc_id")


@register(
    "text_repetition",
    rf"""
WITH corpus AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 5 != 0
  UNION ALL
  SELECT doc_id, text || ' ' || substr(text, 1, 120) AS text
  FROM documents WHERE doc_id % 5 = 0
),
tokens AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM corpus),
totals AS (
  SELECT doc_id,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         CAST(list_reduce(list_prepend(0, list_transform(toks, t -> length(t))),
                          (a, b) -> a + b) AS BIGINT) AS tok_chars,
         CASE WHEN len(toks) > 0
              THEN CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
              ELSE 0.0 END AS unique_token_ratio
  FROM tokens
),
g2 AS (
  SELECT doc_id, unnest(CASE WHEN len(toks) >= 2
           THEN list_transform(range(1, len(toks)),
                               i -> array_to_string(toks[i:i+1], ' '))
           ELSE []::VARCHAR[] END) AS g
  FROM tokens
),
g2c AS (SELECT doc_id, g, count(*) AS cnt FROM g2 GROUP BY 1, 2),
top2 AS (
  SELECT doc_id,
         CAST(max(cnt * length(replace(g, ' ', ''))) AS BIGINT) AS top_chars
  FROM g2c GROUP BY 1
),
g5p AS (
  SELECT doc_id,
         unnest(CASE WHEN len(toks) >= 5
           THEN list_transform(range(1, len(toks) - 3),
                               i -> {{'pos': i, 'g': array_to_string(toks[i:i+4], ' ')}})
           ELSE []::STRUCT(pos BIGINT, g VARCHAR)[] END) AS x
  FROM tokens
),
g5 AS (SELECT doc_id, x.pos AS pos, x.g AS g FROM g5p),
dupg AS (SELECT doc_id, g FROM g5 GROUP BY 1, 2 HAVING count(*) > 1),
covered AS (
  SELECT DISTINCT doc_id, tp FROM (
    SELECT p.doc_id, unnest(range(p.pos, p.pos + 5)) AS tp
    FROM g5 p JOIN dupg d USING (doc_id, g)
  )
),
tokpos AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(toks) + 1),
                               i -> {{'tp': i, 'tlen': length(toks[i])}})) AS x
  FROM tokens
),
dup5 AS (
  SELECT c.doc_id, CAST(sum(t.x.tlen) AS BIGINT) AS dup_chars
  FROM covered c JOIN tokpos t ON t.doc_id = c.doc_id AND t.x.tp = c.tp
  GROUP BY 1
)
SELECT t.doc_id, t.n_tokens, t.unique_token_ratio,
       CASE WHEN t.tok_chars > 0
            THEN CAST(coalesce(top_chars, 0) AS DOUBLE) / t.tok_chars
            ELSE 0.0 END AS top2_char_frac,
       CASE WHEN t.tok_chars > 0
            THEN CAST(coalesce(dup_chars, 0) AS DOUBLE) / t.tok_chars
            ELSE 0.0 END AS dup5_char_frac
FROM totals t
LEFT JOIN top2 USING (doc_id)
LEFT JOIN dup5 USING (doc_id)
ORDER BY t.doc_id
""",
)
def text_repetition(spark, sf_dir):
    """Gopher-style repetition filters over a corpus where every 5th doc has
    its first 120 chars re-appended (so duplicated 5-grams actually occur —
    the raw fixture is repetition-free at n=5)."""
    docs = load_docs(spark, sf_dir)
    mutated = docs.filter(F.col("doc_id") % 5 != 0).select("doc_id", "text").unionByName(
        docs.filter(F.col("doc_id") % 5 == 0).select(
            "doc_id",
            F.concat("text", F.lit(" "), F.substring("text", 1, 120)).alias("text"),
        )
    )
    return T.repetition_metrics(mutated).orderBy("doc_id")


@register(
    "text_fingerprint",
    r"""
WITH tokens AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                     t -> t != '') AS toks
  FROM documents
),
sh AS (
  SELECT doc_id,
         list_distinct(CASE WHEN len(toks) >= 5
           THEN list_transform(range(1, len(toks) - 3),
                               i -> array_to_string(toks[i:i+4], ' '))
           ELSE []::VARCHAR[] END) AS shingles
  FROM tokens
)
SELECT doc_id,
       len(shingles) AS n_shingles,
       list_min(list_transform(shingles, s -> md5(s))) AS fingerprint
FROM sh
ORDER BY doc_id
""",
)
def text_fingerprint(spark, sf_dir):
    docs = load_docs(spark, sf_dir)
    return T.fingerprint(docs, n=5).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Count-min heavy hitters: top-10 corpus terms, exact count vs sketch
# estimate, with the CM overestimate bound pinned TRUE (same
# verified-bound pattern as approx_distinct_users — the exact numbers
# hash-match as real columns, the boolean flips on sketch drift).
# ---------------------------------------------------------------------------

_CM_DEPTH, _CM_WIDTH = 4, 256
_CM_ROWS_SQL = "unnest([" + ", ".join(str(r) for r in range(_CM_DEPTH)) + "]) AS t(r)"
_CM_BUCKET_SQL = (
    "('0x' || substr(md5(term || '#' || r::VARCHAR), 1, 8))::BIGINT"
    f" % {_CM_WIDTH}"
)


@register(
    "heavy_hitters_cms",
    f"""
WITH toks AS (
  SELECT unnest({_TOKS_SQL}) AS term FROM documents
),
cells AS (
  SELECT r, {_CM_BUCKET_SQL} AS bucket, count(*) AS cell
  FROM toks, {_CM_ROWS_SQL}
  GROUP BY 1, 2
),
exact AS (
  SELECT term, count(*) AS exact_count FROM toks GROUP BY 1
),
probes AS (
  SELECT term, r, {_CM_BUCKET_SQL} AS bucket
  FROM exact, {_CM_ROWS_SQL}
),
est AS (
  SELECT p.term, min(c.cell) AS cm_estimate
  FROM probes p JOIN cells c ON c.r = p.r AND c.bucket = p.bucket
  GROUP BY 1
),
tot AS (SELECT count(*) AS n FROM toks)
SELECT e.term, CAST(x.exact_count AS BIGINT) AS exact_count,
       CAST(e.cm_estimate AS BIGINT) AS cm_estimate,
       (e.cm_estimate >= x.exact_count AND
        CAST(e.cm_estimate - x.exact_count AS DOUBLE)
          <= 4.0 * t.n / {_CM_WIDTH}) AS within_bound
FROM est e JOIN exact x USING (term), tot t
ORDER BY exact_count DESC, term ASC
LIMIT 10
""",
)
def heavy_hitters_cms(spark, sf_dir):
    """Hot-term detection with a mergeable count-min sketch: the exact
    per-term counts here are the ground truth the sketch is audited
    against (cm_estimate >= exact always; overestimate bounded by 4N/width
    — ~4x the expected single-row collision mass, several sigma of
    headroom against fixture regeneration). At 100 TB the exact half of
    this query is the expensive path and the sketch replaces it wherever a
    bounded estimate suffices (hot-key salting decisions, quota
    pre-screening, vocabulary pruning)."""
    from ..operators import sketches as SK
    from ..operators.dedup import tokens_expr

    docs = load_docs(spark, sf_dir)
    toks = docs.select(F.explode(tokens_expr("text")).alias("term"))
    exact = toks.groupBy("term").agg(F.count(F.lit(1)).alias("exact_count"))
    cells = SK.count_min_cells(toks, "term", _CM_DEPTH, _CM_WIDTH)
    est = SK.count_min_estimates(
        exact.select("term"), cells, "term", _CM_DEPTH, _CM_WIDTH
    )
    total = toks.agg(F.count(F.lit(1)).alias("_n"))
    return (
        exact.join(est, "term")
        .crossJoin(F.broadcast(total))
        .select(
            "term",
            F.col("exact_count").cast("bigint").alias("exact_count"),
            F.col("cm_estimate").cast("bigint").alias("cm_estimate"),
            (
                (F.col("cm_estimate") >= F.col("exact_count"))
                & (
                    (F.col("cm_estimate") - F.col("exact_count")).cast("double")
                    <= F.lit(4.0) * F.col("_n") / _CM_WIDTH
                )
            ).alias("within_bound"),
        )
        .orderBy(F.col("exact_count").desc(), F.col("term").asc())
        .limit(10)
    )


@register(
    "bpe_pair_counts",
    f"""
WITH words AS (
  SELECT unnest({_TOKS_SQL}) AS w FROM documents
),
pairs AS (
  SELECT unnest(list_transform(generate_series(1, len(w) - 1),
                               i -> substr(w, i, 2))) AS pair
  FROM words WHERE len(w) >= 2
)
SELECT pair, CAST(COUNT(*) AS BIGINT) AS cnt
FROM pairs GROUP BY 1
ORDER BY cnt DESC, pair ASC
LIMIT 20
""",
)
def bpe_pair_counts(spark, sf_dir):
    """The BPE trainer's inner-loop statistic: corpus-wide adjacent
    symbol-pair (character-bigram) frequencies at the initial alphabet,
    i.e. the counts whose argmax picks the next merge. Double fan-out
    (tokens, then in-word positions) is narrow — no shuffle before the
    final pair aggregation, which partial-aggregates map-side; the full
    merge loop would re-run this with the merged symbol table applied
    (mapInPandas), each round reading the same layout."""
    from ..operators.dedup import tokens_expr

    docs = load_docs(spark, sf_dir)
    words = docs.select(F.explode(tokens_expr("text")).alias("w")).filter(
        F.length("w") >= 2
    )
    pairs = words.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - F.lit(1)),
                lambda i: F.col("w").substr(i, F.lit(2)),
            )
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count("*").cast("long").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("pair").asc())
        .limit(20)
    )


@register(
    "bigram_coverage_score",
    f"""
WITH words AS (
  SELECT doc_id, unnest({_TOKS_SQL}) AS w,
         generate_subscripts({_TOKS_SQL}, 1) AS pos
  FROM documents
),
bigrams AS (
  SELECT a.doc_id, a.w || ' ' || b.w AS bg
  FROM words a JOIN words b
    ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
),
freq AS (
  SELECT bg, COUNT(*) AS n FROM bigrams GROUP BY 1
),
scored AS (
  SELECT g.doc_id,
         COUNT(*) AS n_bigrams,
         SUM(CASE WHEN f.n >= 5 THEN 1 ELSE 0 END) AS n_common
  FROM bigrams g JOIN freq f ON f.bg = g.bg
  GROUP BY 1
)
SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
       CAST(n_common AS BIGINT) AS n_common,
       CAST(n_common AS DOUBLE) / n_bigrams AS coverage
FROM scored
ORDER BY doc_id
""",
)
def bigram_coverage_score(spark, sf_dir):
    """Model-free fluency/quality proxy (the KenLM-perplexity stand-in a
    no-libm engine can oracle-check): the fraction of a document's word
    bigrams that occur >= 5 times corpus-wide. Natural prose reuses
    common bigrams; gibberish and mangled extractions don't. Two shuffles
    (bigram count, per-doc agg), both partial-aggregated map-side; the
    per-doc ratio is one exact-integer division. At 100 TB the freq table
    prunes to >=5 BEFORE the join (a broadcast for real vocabularies)."""
    from ..operators.dedup import tokens_expr

    docs = load_docs(spark, sf_dir)
    toks = docs.select("doc_id", tokens_expr("text").alias("toks"))
    # Docs with <2 tokens have no bigrams: the oracle simply emits no rows
    # for them, and F.slice(toks, 1, size-1) throws INVALID_PARAMETER_VALUE
    # on a length of -1 (ADVICE r6: reproduced on a whitespace-only doc) —
    # filter them out before slicing, like shingles_from_tokens does.
    toks = toks.filter(F.size("toks") >= 2)
    # adjacent pairs zipped inside the array — a narrow map, unlike the
    # oracle's positional self-join (same strings either way)
    bigrams = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.slice(F.col("toks"), 1, F.size("toks") - 1),
                lambda t, i: F.concat(
                    t, F.lit(" "), F.element_at(F.col("toks"), i + 2)
                ),
            )
        ).alias("bg"),
    )
    freq = bigrams.groupBy("bg").agg(F.count("*").alias("n"))
    scored = (
        bigrams.join(freq, "bg")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum(F.when(F.col("n") >= 5, 1).otherwise(0)).alias("n_common"),
        )
    )
    return scored.select(
        "doc_id",
        F.col("n_bigrams").cast("long").alias("n_bigrams"),
        F.col("n_common").cast("long").alias("n_common"),
        (F.col("n_common").cast("double") / F.col("n_bigrams")).alias("coverage"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# BPE trainer (VERDICT r7 #7): N-merge iterative loop, fixed-point exact.
# The oracle unrolls every round into CTEs (the kmeans_lloyd pattern):
# integer pair counts -> lexicographic-tie argmax -> greedy left-to-right
# merge. The symbol table mirrors the operator's WRAPPED representation
# (operators/textstats.py: each symbol as chr(9)||sym||chr(10)), so the
# merge replace is positional — it can only match a full adjacent symbol
# pair, never a substring spanning a multi-character symbol's boundary
# (ADVICE r7 high: the old space-joined replace merged [c,at,h,e] +
# 't h' into [c,ath,e] on BOTH engines, masking the defect).
# ---------------------------------------------------------------------------

_BPE_MERGES = 3
# SQL fragments for the wrapped-symbol representation (chr(9)=\t opens a
# symbol, chr(10)=\n closes it; tokens come from a \s+ split so neither
# can occur inside a symbol).
# wrapped merge pattern / replacement built from the external 'L R' pair:
_BPE_PAT = "(chr(9) || replace({pair}, ' ', chr(10) || chr(9)) || chr(10))"
_BPE_REP = "(chr(9) || replace({pair}, ' ', '') || chr(10))"
# symbol list back out of the wrapped string:
_BPE_SYMS = "string_split(substr({s}, 2, len({s}) - 2), chr(10) || chr(9))"


def _bpe_ctes(
    n_merges: int, materialized: bool = False, docs_src: str = "documents"
) -> str:
    """Shared WITH-body: word frequencies, initial symbol table, and one
    (pair-counts, argmax, merged-symbols) CTE triple per round.

    ``materialized`` MUST be True past a handful of rounds: each round
    references its predecessor twice (p{r} and sym{r} both read
    sym{prev}), so plain CTEs inline ~2^rounds base scans (the
    kcore_peel_trajectory lesson, CLAUDE.md iterative-CTE rule). Left
    False only for the pre-existing 3-merge oracles, which predate the
    flag. ``docs_src`` lets a sampled trainer replay the sample filter."""
    mat = " MATERIALIZED" if materialized else ""
    pair_cte = f"""
p{{r}} AS{mat} (
  SELECT pair, CAST(SUM(n) AS BIGINT) AS cnt FROM (
    SELECT n,
           unnest(list_transform(generate_series(1, len(ls) - 1),
                                 i -> ls[i] || ' ' || ls[i + 1])) AS pair
    FROM (SELECT n, {_BPE_SYMS.format(s='s')} AS ls FROM sym{{prev}})
    WHERE len(ls) >= 2
  ) GROUP BY 1
),
m{{r}} AS{mat} (SELECT pair, cnt FROM p{{r}} ORDER BY cnt DESC, pair ASC LIMIT 1),
sym{{r}} AS{mat} (
  SELECT n, replace(s,
      {_BPE_PAT.format(pair='(SELECT pair FROM m{r})')},
      {_BPE_REP.format(pair='(SELECT pair FROM m{r})')}) AS s
  FROM sym{{prev}}
)"""
    ctes = [
        f"""words AS{mat} (
  SELECT w, CAST(count(*) AS BIGINT) AS n
  FROM (SELECT unnest({_TOKS_SQL}) AS w FROM {docs_src}) GROUP BY 1
),
sym0 AS{mat} (
  SELECT n, chr(9) || array_to_string(
      list_transform(generate_series(1, len(w)), i -> substr(w, i, 1)),
      chr(10) || chr(9)) || chr(10)
      AS s
  FROM words
)"""
    ]
    for r in range(1, n_merges + 1):
        ctes.append(pair_cte.format(r=r, prev=r - 1))
    return ", ".join(ctes)


def _bpe_oracle_sql(n_merges: int) -> str:
    unions = "\nUNION ALL ".join(
        f"SELECT {r} AS merge_round, pair, cnt FROM m{r}"
        for r in range(1, n_merges + 1)
    )
    return (
        f"WITH {_bpe_ctes(n_merges)}\n{unions}\nORDER BY merge_round"
    )


@register("bpe_train_merges", _bpe_oracle_sql(_BPE_MERGES))
def bpe_train_merges(spark, sf_dir):
    """The tokenizer-training loop bpe_pair_counts previews: three greedy
    merges over the corpus word-frequency table, each round one integer
    pair-count shuffle + a 1-row argmax probe + a narrow merge map
    (operators/textstats.py:bpe_train)."""
    docs = load_docs(spark, sf_dir)
    return T.bpe_train(docs, n_merges=_BPE_MERGES).orderBy("merge_round")


_BPE_SAMPLE_MERGES = 16


def _bpe_sample_oracle_sql(n_merges: int) -> str:
    """Replays the production-shape sampled trainer: the portable md5
    doc sample, then n materialized unrolled merge rounds over the
    SAMPLE's word-frequency table."""
    unions = "\nUNION ALL ".join(
        f"SELECT {r} AS merge_round, pair, cnt FROM m{r}"
        for r in range(1, n_merges + 1)
    )
    sample = (
        "sdocs AS MATERIALIZED (SELECT doc_id, text FROM documents"
        " WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))"
        "::BIGINT % 4 < 2)"
    )
    return (
        f"WITH {sample}, "
        f"{_bpe_ctes(n_merges, materialized=True, docs_src='sdocs')}"
        f"\n{unions}\nORDER BY merge_round"
    )


@register("bpe_sample_train_merges", _bpe_sample_oracle_sql(_BPE_SAMPLE_MERGES))
def bpe_sample_train_merges(spark, sf_dir):
    """Production-shape BPE training (r13, VERDICT r12 #1): train on a
    deterministic md5 HALF-SAMPLE of the corpus with the single-job
    driver-side trainer (operators/textstats.bpe_train_sampled — one
    vocabulary-sized word-count collect + an exact local Sennrich loop,
    instead of one Spark job per merge), 16 merges. The oracle replays
    the identical sample predicate and retrains with 16 materialized
    unrolled CTE rounds, so the hash match externally pins BOTH the
    portable sample cut AND the local trainer's bit-parity with the
    engine loop — how real pipelines train tokenizers (bounded sample,
    then freeze)."""
    docs = load_docs(spark, sf_dir)
    return T.bpe_train_sampled(
        docs, n_merges=_BPE_SAMPLE_MERGES, sample_mod=4, sample_keep=2
    ).orderBy("merge_round")


def _bpe_tokenize_oracle_sql(n_merges: int) -> str:
    applied = "s"
    for r in range(1, n_merges + 1):
        pair = f"(SELECT pair FROM m{r})"
        applied = (
            f"replace({applied}, {_BPE_PAT.format(pair=pair)},"
            f" {_BPE_REP.format(pair=pair)})"
        )
    n_after = f"len({_BPE_SYMS.format(s='s2')})"
    return f"""
WITH {_bpe_ctes(n_merges)},
dwords AS (
  SELECT doc_id, unnest({_TOKS_SQL}) AS w FROM documents
),
dsym AS (
  SELECT doc_id, length(w) AS nb,
         chr(9) || array_to_string(
           list_transform(generate_series(1, len(w)), i -> substr(w, i, 1)),
           chr(10) || chr(9)) || chr(10) AS s
  FROM dwords
),
applied AS (SELECT doc_id, nb, {applied} AS s2 FROM dsym)
SELECT doc_id,
       CAST(sum(nb) AS BIGINT) AS n_symbols_before,
       CAST(sum({n_after}) AS BIGINT) AS n_tokens_after,
       CAST(sum({n_after}) AS DOUBLE) / sum(nb) AS compression
FROM applied
GROUP BY doc_id
ORDER BY doc_id
"""


@register("bpe_tokenize_counts", _bpe_tokenize_oracle_sql(_BPE_MERGES))
def bpe_tokenize_counts(spark, sf_dir):
    """Tokenizer application: train the 3-merge BPE table, then tokenize
    every document with it and report per-doc symbol counts before/after —
    the corpus token-budget estimate a training-data pipeline needs. The
    merge table is a tiny collected list (N rows); application is a narrow
    chained-replace map + one groupBy(doc_id)."""
    docs = load_docs(spark, sf_dir)
    merges = [r["pair"] for r in T.bpe_train(docs, n_merges=_BPE_MERGES).collect()]
    out = T.bpe_tokenize_counts(docs, merges)
    return out.select(
        "doc_id",
        "n_symbols_before",
        "n_tokens_after",
        (F.col("n_tokens_after").cast("double") / F.col("n_symbols_before")).alias(
            "compression"
        ),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Kneser-Ney bigram statistics (round 8): the count tables an n-gram LM
# trainer ships — raw bigram counts, left-context totals, continuation
# counts (distinct left contexts per right word, the KN innovation) and
# right fan-outs (distinct right types per left word, the lambda weight's
# numerator). All exact integers; the float smoothing formula is a
# client-side fold over these tables, so the engine artifact stays
# bit-exact.
# ---------------------------------------------------------------------------

@register(
    "collocations_pmi",
    # log-free PMI ranking: PMI = log(c_ab*N / (c_a*c_b)) is monotone in
    # the integer micro-unit score (c_ab*N*1e6) // (c_a*c_b), so the
    # classic collocation ranking needs no engine log() (the parity
    # rules ban transcendentals on data-dependent args); worst case
    # c_ab*N*1e6 ~ 1e16 stays inside BIGINT
    f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKS_SQL}) AS w,
         generate_subscripts({_TOKS_SQL}, 1) AS pos
  FROM documents
),
uni AS (SELECT w, CAST(count(*) AS BIGINT) AS cu FROM toks GROUP BY 1),
n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM toks),
bg AS (
  SELECT a.w AS w1, b.w AS w2
  FROM toks a JOIN toks b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
),
c AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c FROM bg GROUP BY 1, 2)
SELECT w1, w2, c.c AS n_cooccur,
       CAST((c.c * n.n * 1000000) // (ua.cu * ub.cu) AS BIGINT) AS pmi_u6
FROM c, n
JOIN uni ua ON ua.w = c.w1
JOIN uni ub ON ub.w = c.w2
WHERE c.c >= 5
ORDER BY pmi_u6 DESC, w1, w2
LIMIT 20
""",
)
def collocations_pmi(spark, sf_dir):
    """Top-20 collocations by pointwise mutual information, ranked with
    an exact integer micro-unit score (PMI's log is order-preserving, so
    the rank never needs it). Scale shape: the bigram count table is the
    one corpus-sized shuffle (shared construction with kn_bigram_stats);
    unigram counts and the 1-row token total are vocabulary-scale joins
    downstream."""
    from ..operators.dedup import tokens_expr

    docs = load_docs(spark, sf_dir)
    toks = docs.select("doc_id", tokens_expr("text").alias("toks"))
    uni = (
        toks.select(F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("cu"))
    )
    n = toks.select(F.explode("toks").alias("w")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    bg = (
        toks.filter(F.size("toks") >= 2)
        .select(
            F.explode(
                F.transform(
                    F.slice(F.col("toks"), 1, F.size("toks") - 1),
                    lambda t, i: F.struct(
                        t.alias("w1"),
                        F.element_at(F.col("toks"), i + 2).alias("w2"),
                    ),
                )
            ).alias("b")
        )
        .select("b.w1", "b.w2")
    )
    c = (
        bg.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .filter(F.col("c") >= 5)
    )
    ua = uni.select(F.col("w").alias("w1"), F.col("cu").alias("ca"))
    ub = uni.select(F.col("w").alias("w2"), F.col("cu").alias("cb"))
    return (
        c.join(ua, "w1")
        .join(ub, "w2")
        .crossJoin(n)  # 1-row token total
        .select(
            "w1",
            "w2",
            F.col("c").alias("n_cooccur"),
            F.expr("(c * n * 1000000) div (ca * cb)")
            .cast("long")
            .alias("pmi_u6"),
        )
        .orderBy(F.desc("pmi_u6"), "w1", "w2")
        .limit(20)
    )


@register(
    "kn_bigram_stats",
    f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKS_SQL}) AS w,
         generate_subscripts({_TOKS_SQL}, 1) AS pos
  FROM documents
),
bg AS (
  SELECT a.w AS w1, b.w AS w2
  FROM toks a JOIN toks b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
),
c AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c FROM bg GROUP BY 1, 2)
SELECT w1, w2, c,
       CAST(sum(c) OVER (PARTITION BY w1) AS BIGINT) AS c_w1,
       CAST(count(*) OVER (PARTITION BY w2) AS BIGINT) AS n_cont,
       CAST(count(*) OVER (PARTITION BY w1) AS BIGINT) AS n_fanout
FROM c
ORDER BY c DESC, w1, w2
LIMIT 30
""",
)
def kn_bigram_stats(spark, sf_dir):
    """Top-30 corpus bigrams with the four Kneser-Ney count statistics.
    Scale shape: one narrow in-array zip for bigrams (no positional
    self-join — same strings as the oracle's), one (w1, w2) count shuffle,
    then TWO window passes over that vocabulary-sized table (the w1
    window computes the left total AND the fan-out in one exchange; the
    w2 window the continuation count) — at 100 TB the count table is the
    only corpus-sized shuffle and everything downstream is
    dictionary-scale. The initial join-back formulation cost 11 shuffles
    (PLANS.md audit); windows cost 3."""
    from pyspark.sql.window import Window

    from ..operators.dedup import tokens_expr

    docs = load_docs(spark, sf_dir)
    toks = docs.select("doc_id", tokens_expr("text").alias("toks")).filter(
        F.size("toks") >= 2
    )
    bg = toks.select(
        F.explode(
            F.transform(
                F.slice(F.col("toks"), 1, F.size("toks") - 1),
                lambda t, i: F.struct(
                    t.alias("w1"),
                    F.element_at(F.col("toks"), i + 2).alias("w2"),
                ),
            )
        ).alias("b")
    ).select("b.w1", "b.w2")
    c = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).cast("long").alias("c"))
    w1w, w2w = Window.partitionBy("w1"), Window.partitionBy("w2")
    return (
        c.select(
            "w1",
            "w2",
            "c",
            F.sum("c").over(w1w).cast("long").alias("c_w1"),
            F.count(F.lit(1)).over(w2w).cast("long").alias("n_cont"),
            F.count(F.lit(1)).over(w1w).cast("long").alias("n_fanout"),
        )
        .orderBy(F.col("c").desc(), "w1", "w2")
        .limit(30)
    )


# ---------------------------------------------------------------------------
# Kneser-Ney fluency scoring (VERDICT r9 #7): the natural consumer of the
# kn_bigram_stats count tables — a per-document fluency score (integer
# mean of micro-unit interpolated-KN bigram probabilities, d = 3/4 exact)
# that separates fluent from disfluent text, the quality axis Gopher-style
# surface rules (length/punct/stopword ratios) cannot see. The disfluency
# is PLANTED, perceptron-style: every document gets a corrupted twin with
# every 3rd token OOV'd ('zq' || token), scored against the LM trained on
# the ORIGINAL corpus only.
# ---------------------------------------------------------------------------

_KN_FLU_P_SQL = """
CASE WHEN s1.c_w1 IS NOT NULL
     THEN (greatest(4 * COALESCE(c.c_ab, CAST(0 AS BIGINT)) - 3,
                    CAST(0 AS BIGINT)) * 1000000) // (4 * s1.c_w1)
     ELSE CAST(0 AS BIGINT) END
+ ((CASE WHEN s1.c_w1 IS NOT NULL
        THEN (3 * s1.n_fanout * 1000000) // (4 * s1.c_w1)
        ELSE CAST(1000000 AS BIGINT) END)
   * ((COALESCE(s2.n_cont, CAST(0 AS BIGINT)) * 1000000) // nt.n_types))
  // 1000000
"""


@register(
    "kn_fluency_score",
    _KN_FLU_ORACLE := rf"""
WITH toks AS (
  SELECT doc_id, {_TOKS_SQL} AS t FROM documents
),
seq AS (
  SELECT doc_id, unnest(t) AS w, generate_subscripts(t, 1) AS pos
  FROM toks WHERE len(t) >= 2
),
var AS (
  SELECT doc_id, 'orig' AS variant, w, pos FROM seq
  UNION ALL
  SELECT doc_id, 'corrupt' AS variant,
         CASE WHEN pos % 3 = 0 THEN 'zq' || w ELSE w END AS w, pos
  FROM seq
),
bg AS MATERIALIZED (
  SELECT a.doc_id, a.variant, a.w AS w1, b.w AS w2
  FROM var a JOIN var b
    ON b.doc_id = a.doc_id AND b.variant = a.variant AND b.pos = a.pos + 1
),
c AS MATERIALIZED (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_ab
  FROM bg WHERE variant = 'orig' GROUP BY 1, 2
),
w1s AS (
  SELECT w1, CAST(sum(c_ab) AS BIGINT) AS c_w1,
         CAST(count(*) AS BIGINT) AS n_fanout
  FROM c GROUP BY 1
),
w2s AS (SELECT w2, CAST(count(*) AS BIGINT) AS n_cont FROM c GROUP BY 1),
nt AS (SELECT CAST(count(*) AS BIGINT) AS n_types FROM c),
scored AS (
  SELECT b.doc_id, b.variant, ({_KN_FLU_P_SQL}) AS p_u6
  FROM bg b
  LEFT JOIN c   ON c.w1 = b.w1 AND c.w2 = b.w2
  LEFT JOIN w1s s1 ON s1.w1 = b.w1
  LEFT JOIN w2s s2 ON s2.w2 = b.w2
  CROSS JOIN nt
),
per AS (
  SELECT doc_id, variant,
         CAST(count(*) AS BIGINT) AS nb,
         CAST(sum(p_u6) AS BIGINT) // count(*) AS flu
  FROM scored GROUP BY 1, 2
)
SELECT doc_id,
       MAX(CASE WHEN variant = 'orig' THEN nb END) AS n_bigrams,
       MAX(CASE WHEN variant = 'orig' THEN flu END) AS fluency_u6,
       MAX(CASE WHEN variant = 'corrupt' THEN flu END) AS fluency_corrupt_u6
FROM per GROUP BY 1
""",
)
def kn_fluency_score(spark, sf_dir):
    """Per-document KN-bigram fluency vs a planted-disfluency twin
    (operators/textstats.kn_fluency_scores). The LM trains on the original
    corpus; each doc is scored twice — original tokens and a twin with
    every 3rd token OOV'd — and a fluency filter keeps docs whose score
    clears a floor. Planted-quality correlation, measured at sf0.01:
    original > corrupted twin on 500/500 documents (mean fluency_u6
    34562 vs 22459), and thresholding at the pooled-score median
    classifies the planted classes PERFECTLY (100% of originals above,
    0% of corrupted twins)."""
    # (the orig and corrupt branches re-tokenize independently — measured
    # CHEAPER than checkpointing the token arrays once: 1.9 s vs 2.1 s at
    # sf0.1, the WAND full-TF-table lesson again)
    docs = load_docs(spark, sf_dir).select(
        "doc_id", T.tokens_expr("text").alias("toks")
    ).filter(F.size("toks") >= 2)
    corrupt = F.transform(
        F.col("toks"),
        lambda t, i: F.when(
            (i + 1) % 3 == 0, F.concat(F.lit("zq"), t)
        ).otherwise(t),
    )
    variants = docs.select(
        "doc_id", F.lit("orig").alias("variant"), "toks"
    ).unionByName(
        docs.select("doc_id", F.lit("corrupt").alias("variant"), corrupt.alias("toks"))
    )
    per = T.kn_fluency_scores(variants, materialize_bigrams=False)
    return _kn_variant_pivot(per)


def _kn_variant_pivot(per):
    flu = lambda v, c: F.max(  # noqa: E731 — 1-row-per-variant pivot
        F.when(F.col("variant") == v, F.col(c))
    )
    return per.groupBy("doc_id").agg(
        flu("orig", "n_bigrams").alias("n_bigrams"),
        flu("orig", "fluency_u6").alias("fluency_u6"),
        flu("corrupt", "fluency_u6").alias("fluency_corrupt_u6"),
    )


def _kn_variants(spark, sf_dir):
    """The (doc_id, variant, toks) frame kn_fluency_score and its
    artifact-serving twin both score (orig + every-3rd-token-OOV twin)."""
    docs = load_docs(spark, sf_dir).select(
        "doc_id", T.tokens_expr("text").alias("toks")
    ).filter(F.size("toks") >= 2)
    corrupt = F.transform(
        F.col("toks"),
        lambda t, i: F.when(
            (i + 1) % 3 == 0, F.concat(F.lit("zq"), t)
        ).otherwise(t),
    )
    return docs.select(
        "doc_id", F.lit("orig").alias("variant"), "toks"
    ).unionByName(
        docs.select(
            "doc_id", F.lit("corrupt").alias("variant"), corrupt.alias("toks")
        )
    )


def _lm_count_artifact(spark, sf_dir: str):
    """The bigram-KN count table PERSISTED to a /tmp parquet artifact
    (fingerprint-keyed, pid-tempdir + atomic rename — the _text_index
    pattern) and read back, so the downstream query scores from parquet
    exactly the way api.score_fluency serves from api.build_lm's table."""
    import os
    import shutil

    from ..operators.textstats import kn_bigram_counts
    from .pipeline import _docs_fingerprint

    key = sf_dir.strip("/").replace("/", "_")
    fp = _docs_fingerprint(sf_dir)
    dst = f"/tmp/vdl_lm_counts/v1/{key}-{fp}"
    if not os.path.exists(os.path.join(dst, "_SUCCESS")):
        tmp = f"{dst}.tmp.{os.getpid()}"
        train = load_docs(spark, sf_dir).select(
            "doc_id", T.tokens_expr("text").alias("toks")
        ).filter(F.size("toks") >= 2)
        kn_bigram_counts(train).write.mode("overwrite").parquet(tmp)
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


@register("kn_fluency_from_artifact", _KN_FLU_ORACLE)
def kn_fluency_from_artifact(spark, sf_dir):
    """kn_fluency_score SERVED FROM THE PERSISTED LM ARTIFACT (round 12,
    VERDICT r11 #7): the bigram count table — the one persistable piece
    of the KN model, a sum monoid that api.build_lm/_merge_lm maintain
    incrementally in both directions — is written to parquet once and
    this query only READS it; every backoff table derives from the read
    counts at scoring time (operators/textstats.kn_score_bigrams). The
    oracle retrains from the raw documents, so the hash match proves
    persist-then-serve == train-from-corpus — the LM's bm25_index_topk
    contract. api.score_fluency is the database-facing twin."""
    from ..operators.textstats import bigram_structs, kn_score_bigrams

    counts = _lm_count_artifact(spark, sf_dir)
    bg = (
        _kn_variants(spark, sf_dir)
        .select(
            "doc_id",
            "variant",
            F.explode(bigram_structs(F.col("toks"))).alias("b"),
        )
        .select("doc_id", "variant", "b.w1", "b.w2")
    )
    return _kn_variant_pivot(kn_score_bigrams(bg, counts))


# ---------------------------------------------------------------------------
# Distributed model training, oracle-exact (operators/classifier.py): a
# batch perceptron learns a PLANTED linear stopword-density rule over
# integer token-count features. Labels y = +1 iff f_the + f_and >= f_of +
# f_a are linearly separable IN the features (w = (2, 2, -2, -2), b = 1
# separates with margin >= 1), and the features share a 0-8 scale, so the
# aggregate-update batch perceptron reaches ZERO training errors in 7
# rounds on the fixture (500 -> 88 -> ... -> 0). Feature conditioning is
# part of the lesson: an early draft mixed 0-8 counts with a
# hundreds-scale char count and the same algorithm oscillated forever
# (mistake bound scales with R^2/margin^2). Every weight/count is a
# BIGINT, so the whole curve hash-matches a DuckDB replay exactly: the
# kmeans/pagerank fixed-point discipline applied to model training.
# ---------------------------------------------------------------------------

_PCT_FEATS = ["f_the", "f_of", "f_and", "f_a"]
_PCT_ITERS = 7

_PCT_FEATS_SQL = rf"""
  SELECT doc_id,
         CAST(len(list_filter({_TOKS_SQL}, t -> t = 'the')) AS BIGINT) AS f_the,
         CAST(len(list_filter({_TOKS_SQL}, t -> t = 'of')) AS BIGINT) AS f_of,
         CAST(len(list_filter({_TOKS_SQL}, t -> t = 'and')) AS BIGINT) AS f_and,
         CAST(len(list_filter({_TOKS_SQL}, t -> t = 'a')) AS BIGINT) AS f_a
  FROM documents
"""


def _pct_labeled(spark, sf_dir):
    """(doc_id, f_the, f_of, f_and, f_a, y): the stopword-count features
    and the planted label, twin of the oracles' ``feats`` CTE."""
    docs = load_docs(spark, sf_dir).select(
        "doc_id", "text", T.tokens_expr("text").alias("_toks")
    )
    cnt = lambda w: (  # noqa: E731 — local shorthand
        F.size(F.filter(F.col("_toks"), lambda t: t == F.lit(w))).cast("long")
    )
    return docs.select(
        "doc_id",
        cnt("the").alias("f_the"),
        cnt("of").alias("f_of"),
        cnt("and").alias("f_and"),
        cnt("a").alias("f_a"),
    ).withColumn(
        "y",
        F.when(
            F.col("f_the") + F.col("f_and") >= F.col("f_of") + F.col("f_a"), 1
        )
        .otherwise(-1)
        .cast("long"),
    )


def _pct_round_sql(t: int) -> str:
    margin = "w.b + " + " + ".join(
        f"w.w{j} * f.{c}" for j, c in enumerate(_PCT_FEATS)
    )
    upd = ",\n         ".join(
        f"CAST(w.w{j} + SUM(CASE WHEN f.y * ({margin}) <= 0"
        f" THEN f.y * f.{c} ELSE 0 END) AS BIGINT) AS w{j}"
        for j, c in enumerate(_PCT_FEATS)
    )
    return f"""
wt{t} AS MATERIALIZED (
  SELECT {upd},
         CAST(w.b + SUM(CASE WHEN f.y * ({margin}) <= 0 THEN f.y ELSE 0 END)
              AS BIGINT) AS b,
         CAST(SUM(CASE WHEN f.y * ({margin}) <= 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_mis
  FROM feats f, wt{t - 1} w
  GROUP BY w.w0, w.w1, w.w2, w.w3, w.b
)"""


_PCT_ROUND_ROWS = "\nUNION ALL\n".join(
    f"SELECT {t} AS round, n_mis, w0, w1, w2, w3, b FROM wt{t}"
    for t in range(1, _PCT_ITERS + 1)
)


@register(
    "perceptron_quality_train",
    f"""
WITH raw AS ({_PCT_FEATS_SQL}),
feats AS MATERIALIZED (
  SELECT doc_id, f_the, f_of, f_and, f_a,
         CASE WHEN f_the + f_and >= f_of + f_a THEN 1 ELSE -1 END AS y
  FROM raw
),
wt0 AS (SELECT CAST(0 AS BIGINT) AS w0, CAST(0 AS BIGINT) AS w1,
               CAST(0 AS BIGINT) AS w2, CAST(0 AS BIGINT) AS w3,
               CAST(0 AS BIGINT) AS b),
{",".join(_pct_round_sql(t) for t in range(1, _PCT_ITERS + 1))}
SELECT CAST(round AS INT) AS round, n_mis, w0, w1, w2, w3, b
FROM ({_PCT_ROUND_ROWS})
ORDER BY round
""",
)
def perceptron_quality_train(spark, sf_dir):
    """Train a stopword-density quality classifier: one aggregate job
    collects the distinct (features, label) rows with their counts, and
    the 7 integer rounds run on the driver over that bounded table
    (operators/classifier.py) — the (sample -> train -> broadcast-score)
    loop every training-data pipeline runs, demonstrated with an
    all-integer batch perceptron whose training curve is bit-exact on any
    engine. At 100 TB: the aggregate is one map-side-combined scan, and
    the corpus is scored once with linear_score's literal weights (a
    narrow no-shuffle map)."""
    from ..operators.classifier import count_examples, train_perceptron

    curve = train_perceptron(
        count_examples(_pct_labeled(spark, sf_dir), _PCT_FEATS), _PCT_ITERS
    )
    return spark.createDataFrame(
        curve,
        "round INT, n_mis BIGINT, "
        + ", ".join(f"w{j} BIGINT" for j in range(len(_PCT_FEATS)))
        + ", b BIGINT",
    )


# ---------------------------------------------------------------------------
# Training-sequence packing (operators/packing.py): concat-and-chunk the
# corpus into 256-token bins in deterministic doc_id order. The Spark side
# computes the global token prefix sum with the scalable two-level scheme
# (deterministic doc_id-div chunks; no single-partition window over the
# corpus); the oracle checks the identical numbers with the plain
# window cumsum — the equivalence IS the point.
# ---------------------------------------------------------------------------

_PACK_BUDGET = 256


@register(
    "pack_training_sequences",
    rf"""
WITH toks AS (
  SELECT doc_id, CAST(len({_TOKS_SQL}) AS BIGINT) AS n_tok
  FROM documents
),
pos AS (
  SELECT doc_id, n_tok,
         CAST(COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS tok_start
  FROM toks
)
SELECT doc_id, n_tok, tok_start,
       CAST(tok_start // {_PACK_BUDGET} AS BIGINT) AS first_bin,
       CAST(greatest(tok_start // {_PACK_BUDGET},
                     (tok_start + n_tok - 1) // {_PACK_BUDGET})
            AS BIGINT) AS last_bin,
       CAST(greatest(tok_start // {_PACK_BUDGET},
                     (tok_start + n_tok - 1) // {_PACK_BUDGET})
            - tok_start // {_PACK_BUDGET} + 1 AS BIGINT) AS n_bins
FROM pos
ORDER BY doc_id
""",
)
def pack_training_sequences(spark, sf_dir):
    """Per-doc packing layout for 256-token training sequences — which bin
    each document starts/ends in when the corpus concatenates in doc_id
    order. At 100 TB the two-level prefix sum replaces the unscalable
    global-order window: chunk windows run in parallel, the top level is
    corpus/chunk rows, and the layout is a pure function of the data
    (partitioning-independent, hash-pinned here)."""
    from ..operators.packing import pack_spans

    docs = load_docs(spark, sf_dir).select(
        "doc_id", F.size(T.tokens_expr("text")).cast("long").alias("n_tok")
    )
    return pack_spans(docs, _PACK_BUDGET).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Classifier-curation capstone: train the quality perceptron (7 integer
# rounds), score the WHOLE corpus with the trained weights, and report the
# survivor split vs the planted truth — the (sample -> train -> broadcast-
# score -> filter) loop a production quality-filter pipeline runs, in one
# DAG. The oracle replays training AND scoring arithmetically; with the
# fixture separable and 7 rounds reaching zero errors, pred == y on every
# row — and the oracle would catch any divergence if it ever stopped
# being true.
# ---------------------------------------------------------------------------

@register(
    "classifier_curation_pipeline",
    f"""
WITH raw AS ({_PCT_FEATS_SQL}),
feats AS MATERIALIZED (
  SELECT doc_id, f_the, f_of, f_and, f_a,
         CASE WHEN f_the + f_and >= f_of + f_a THEN 1 ELSE -1 END AS y
  FROM raw
),
wt0 AS (SELECT CAST(0 AS BIGINT) AS w0, CAST(0 AS BIGINT) AS w1,
               CAST(0 AS BIGINT) AS w2, CAST(0 AS BIGINT) AS w3,
               CAST(0 AS BIGINT) AS b),
{",".join(_pct_round_sql(t) for t in range(1, _PCT_ITERS + 1))},
scored AS (
  SELECT f.doc_id, f.y,
         CASE WHEN w.b + w.w0 * f.f_the + w.w1 * f.f_of
                   + w.w2 * f.f_and + w.w3 * f.f_a > 0
              THEN 1 ELSE -1 END AS pred
  FROM feats f, wt{_PCT_ITERS} w
)
SELECT CAST(pred AS INT) AS pred,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_label_pos,
       CAST(SUM(CASE WHEN y = pred THEN 1 ELSE 0 END) AS BIGINT) AS n_agree
FROM scored
GROUP BY pred
ORDER BY pred
""",
)
def classifier_curation_pipeline(spark, sf_dir):
    """Train (one aggregate job + 7 driver rounds over the bounded
    counted-example table) -> broadcast-score the corpus (linear_score: a
    narrow no-shuffle map with the model as plan literals) -> survivor
    split vs the planted truth. The feature table has exactly two
    consumers — the training aggregate and the scoring scan — which is
    the 100 TB train-then-score shape: the model leaves the cluster as
    kilobytes, and scoring is one scan."""
    from ..operators.classifier import (
        count_examples,
        linear_score,
        train_perceptron,
    )

    labeled = _pct_labeled(spark, sf_dir)
    curve = train_perceptron(count_examples(labeled, _PCT_FEATS), _PCT_ITERS)
    # an empty corpus trains no rounds; any weights score it to the
    # oracle's empty split
    final = curve[-1] if curve else (0, 0, *[0] * len(_PCT_FEATS), 0)
    scored = linear_score(labeled, list(final[2:-1]), final[-1], _PCT_FEATS)
    return (
        scored.groupBy(F.col("pred").cast("int").alias("pred"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.when(F.col("y") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_label_pos"),
            F.sum(F.when(F.col("y") == F.col("pred"), 1).otherwise(0))
            .cast("long")
            .alias("n_agree"),
        )
        .orderBy("pred")
    )


# ---------------------------------------------------------------------------
# Trigram interpolated KN (round 11, VERDICT r10 #7): one backoff level up
# — trigram term discounts regular trigram counts (d = 3/4 exact) and
# interpolates into the full bigram score, which interpolates into the KN
# continuation unigram. All BIGINT micro-units. The bigram tables are
# derived from the trigram table (c(w2,w3) = Σ_w1 c3), so the oracle and
# the operator state ONE model definition.
# ---------------------------------------------------------------------------

_KN3_FLU_P_SQL = f"""
CASE WHEN h.c_w12 IS NOT NULL
     THEN (greatest(4 * COALESCE(c3.c_abc, CAST(0 AS BIGINT)) - 3,
                    CAST(0 AS BIGINT)) * 1000000) // (4 * h.c_w12)
     ELSE CAST(0 AS BIGINT) END
+ ((CASE WHEN h.c_w12 IS NOT NULL
        THEN (3 * h.n_fanout12 * 1000000) // (4 * h.c_w12)
        ELSE CAST(1000000 AS BIGINT) END)
   * ({_KN_FLU_P_SQL}))
  // 1000000
"""


@register(
    "kn_trigram_fluency",
    rf"""
WITH toks AS (
  SELECT doc_id, {_TOKS_SQL} AS t FROM documents
),
seq AS (
  SELECT doc_id, unnest(t) AS w, generate_subscripts(t, 1) AS pos
  FROM toks WHERE len(t) >= 3
),
var AS (
  SELECT doc_id, 'orig' AS variant, w, pos FROM seq
  UNION ALL
  SELECT doc_id, 'corrupt' AS variant,
         CASE WHEN pos % 3 = 0 THEN 'zq' || w ELSE w END AS w, pos
  FROM seq
),
tg AS MATERIALIZED (
  SELECT a.doc_id, a.variant, a.w AS w1, b.w AS w2, cc.w AS w3
  FROM var a
  JOIN var b  ON b.doc_id = a.doc_id AND b.variant = a.variant
             AND b.pos = a.pos + 1
  JOIN var cc ON cc.doc_id = a.doc_id AND cc.variant = a.variant
             AND cc.pos = a.pos + 2
),
c3t AS MATERIALIZED (
  SELECT w1, w2, w3, CAST(count(*) AS BIGINT) AS c_abc
  FROM tg WHERE variant = 'orig' GROUP BY 1, 2, 3
),
c12 AS (
  SELECT w1, w2, CAST(sum(c_abc) AS BIGINT) AS c_w12,
         CAST(count(*) AS BIGINT) AS n_fanout12
  FROM c3t GROUP BY 1, 2
),
cbt AS MATERIALIZED (
  SELECT w2, w3, CAST(sum(c_abc) AS BIGINT) AS c_ab FROM c3t GROUP BY 1, 2
),
w1s AS (
  SELECT w2, CAST(sum(c_ab) AS BIGINT) AS c_w1,
         CAST(count(*) AS BIGINT) AS n_fanout
  FROM cbt GROUP BY 1
),
w2s AS (SELECT w3, CAST(count(*) AS BIGINT) AS n_cont FROM cbt GROUP BY 1),
nt AS (SELECT CAST(count(*) AS BIGINT) AS n_types FROM cbt),
scored AS (
  SELECT b.doc_id, b.variant, ({_KN3_FLU_P_SQL}) AS p_u6
  FROM tg b
  LEFT JOIN c3t c3 ON c3.w1 = b.w1 AND c3.w2 = b.w2 AND c3.w3 = b.w3
  LEFT JOIN c12 h  ON h.w1 = b.w1 AND h.w2 = b.w2
  LEFT JOIN cbt c  ON c.w2 = b.w2 AND c.w3 = b.w3
  LEFT JOIN w1s s1 ON s1.w2 = b.w2
  LEFT JOIN w2s s2 ON s2.w3 = b.w3
  CROSS JOIN nt
),
per AS (
  SELECT doc_id, variant,
         CAST(count(*) AS BIGINT) AS ntr,
         CAST(sum(p_u6) AS BIGINT) // count(*) AS flu
  FROM scored GROUP BY 1, 2
)
SELECT doc_id,
       MAX(CASE WHEN variant = 'orig' THEN ntr END) AS n_trigrams,
       MAX(CASE WHEN variant = 'orig' THEN flu END) AS fluency_u6,
       MAX(CASE WHEN variant = 'corrupt' THEN flu END) AS fluency_corrupt_u6
FROM per GROUP BY 1
""",
)
def kn_trigram_fluency(spark, sf_dir):
    """Per-document TRIGRAM interpolated-KN fluency vs the planted-
    disfluency twin (operators/textstats.kn_trigram_fluency_scores) —
    the kn_fluency_score experiment one order up. Same corrupt twin
    (every 3rd token OOV'd), LM trained on originals only. Separation
    measured at sf0.01: mean fluency_u6 60078 (orig) vs 22141 (corrupt)
    — a 2.71x margin ratio vs the bigram scorer's 1.54x (34562 vs
    22460), exactly as predicted: one OOV token breaks three trigram
    contexts instead of two bigram ones. Both scorers separate the
    planted classes 500/500 per-doc and 100%/0% at the pooled median;
    the trigram margin is what survives noisier real corpora."""
    docs = load_docs(spark, sf_dir).select(
        "doc_id", T.tokens_expr("text").alias("toks")
    ).filter(F.size("toks") >= 3)
    corrupt = F.transform(
        F.col("toks"),
        lambda t, i: F.when(
            (i + 1) % 3 == 0, F.concat(F.lit("zq"), t)
        ).otherwise(t),
    )
    variants = docs.select(
        "doc_id", F.lit("orig").alias("variant"), "toks"
    ).unionByName(
        docs.select("doc_id", F.lit("corrupt").alias("variant"), corrupt.alias("toks"))
    )
    per = T.kn_trigram_fluency_scores(variants)
    flu = lambda v, c: F.max(  # noqa: E731 — 1-row-per-variant pivot
        F.when(F.col("variant") == v, F.col(c))
    )
    return per.groupBy("doc_id").agg(
        flu("orig", "n_trigrams").alias("n_trigrams"),
        flu("orig", "fluency_u6").alias("fluency_u6"),
        flu("corrupt", "fluency_u6").alias("fluency_corrupt_u6"),
    )


# ---------------------------------------------------------------------------
# Gopher doc-level quality battery (round 12): every rule an exact integer
# comparison (cross-multiplied permille, never a float division), planted
# violators per rule, natural stop-word split.
# ---------------------------------------------------------------------------

_GOPHER_LONG = "pneumonoultramicroscopicsilicovolcanoconiosis"


def _gopher_corpus_sql() -> str:
    return f"""
corpus AS (
  SELECT doc_id, text FROM documents
  WHERE doc_id % 13 != 0 AND doc_id % 17 != 0
    AND doc_id % 19 != 0 AND doc_id % 23 != 0
  UNION ALL
  SELECT doc_id, text || repeat(' x#', 30) FROM documents
  WHERE doc_id % 13 = 0
  UNION ALL
  SELECT doc_id, substr(text, 1, 30) FROM documents
  WHERE doc_id % 17 = 0 AND doc_id % 13 != 0
  UNION ALL
  SELECT doc_id, regexp_replace(text, '[a-z]+', '123', 'g') FROM documents
  WHERE doc_id % 19 = 0 AND doc_id % 13 != 0 AND doc_id % 17 != 0
  UNION ALL
  SELECT doc_id, text || repeat(' {_GOPHER_LONG}', 12) FROM documents
  WHERE doc_id % 23 = 0 AND doc_id % 13 != 0 AND doc_id % 17 != 0
    AND doc_id % 19 != 0
)"""


def _gopher_corpus_ext_sql() -> str:
    """The battery corpus EXTENDED with the r13 line-rule violators
    (bullet line-starts % 29, ellipsis line-ends % 31; the line
    mutations are token-shape-safe: '-item' glues the bullet to an
    alphabetic token so only rule_bullet trips, and the ellipsis lines
    carry 16 words per '...' so rule_symbol stays under 100 permille) —
    used only by gopher_quality_battery; curation_gopher_ccnet keeps the
    original 4-violator corpus."""
    return f"""
corpus AS (
  SELECT doc_id, text FROM documents
  WHERE doc_id % 13 != 0 AND doc_id % 17 != 0
    AND doc_id % 19 != 0 AND doc_id % 23 != 0
    AND doc_id % 29 != 0 AND doc_id % 31 != 0
  UNION ALL
  SELECT doc_id, text || repeat(' x#', 30) FROM documents
  WHERE doc_id % 13 = 0
  UNION ALL
  SELECT doc_id, substr(text, 1, 30) FROM documents
  WHERE doc_id % 17 = 0 AND doc_id % 13 != 0
  UNION ALL
  SELECT doc_id, regexp_replace(text, '[a-z]+', '123', 'g') FROM documents
  WHERE doc_id % 19 = 0 AND doc_id % 13 != 0 AND doc_id % 17 != 0
  UNION ALL
  SELECT doc_id, text || repeat(' {_GOPHER_LONG}', 12) FROM documents
  WHERE doc_id % 23 = 0 AND doc_id % 13 != 0 AND doc_id % 17 != 0
    AND doc_id % 19 != 0
  UNION ALL
  SELECT doc_id, text || repeat(chr(10) || '-item', 50) FROM documents
  WHERE doc_id % 29 = 0 AND doc_id % 13 != 0 AND doc_id % 17 != 0
    AND doc_id % 19 != 0 AND doc_id % 23 != 0
  UNION ALL
  SELECT doc_id, text || repeat(chr(10) || repeat('word ', 15) || 'end...', 25)
  FROM documents
  WHERE doc_id % 31 = 0 AND doc_id % 13 != 0 AND doc_id % 17 != 0
    AND doc_id % 19 != 0 AND doc_id % 23 != 0 AND doc_id % 29 != 0
)"""


@register(
    "gopher_quality_battery",
    f"""
WITH {_gopher_corpus_ext_sql()},
t AS (SELECT doc_id, text, {_TOKS_SQL} AS toks FROM corpus),
m AS (
  SELECT doc_id,
         CAST(len(toks) AS BIGINT) AS n_words,
         CAST(list_reduce(
             list_prepend(0, list_transform(toks, w -> CAST(length(w) AS BIGINT))),
             (a, b) -> a + b) AS BIGINT) AS tok_chars,
         CAST(length(text) - length(replace(text, '#', ''))
              + (length(text) - length(replace(text, '...', ''))) // 3
              AS BIGINT) AS n_symbols,
         CAST(len(list_filter(toks, w -> regexp_matches(w, '[a-z]')))
              AS BIGINT) AS n_alpha_words,
         CAST(len(list_intersect(list_distinct(toks),
              ['the','be','to','of','and','that','have','with']))
              AS BIGINT) AS n_stopwords,
         CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
         CAST(len(list_filter(string_split(text, chr(10)),
              l -> l LIKE '-%' OR l LIKE '*%')) AS BIGINT) AS n_bullet_lines,
         CAST(len(list_filter(string_split(text, chr(10)),
              l -> l LIKE '%...')) AS BIGINT) AS n_ellipsis_lines
  FROM t
),
r AS (
  SELECT *,
    CAST(n_words >= 10 AND n_words <= 100000 AS INT) AS rule_words,
    CAST(tok_chars >= 3 * n_words AND tok_chars <= 10 * n_words AS INT)
      AS rule_mean_len,
    CAST(n_symbols * 1000 <= 100 * n_words AS INT) AS rule_symbol,
    CAST(n_alpha_words * 1000 >= 800 * n_words AS INT) AS rule_alpha,
    CAST(n_stopwords >= 1 AS INT) AS rule_stop,
    CAST(n_bullet_lines * 1000 <= 900 * n_lines AS INT) AS rule_bullet,
    CAST(n_ellipsis_lines * 1000 <= 300 * n_lines AS INT) AS rule_ellipsis
  FROM m
)
SELECT *,
       CAST(rule_words = 1 AND rule_mean_len = 1 AND rule_symbol = 1
            AND rule_alpha = 1 AND rule_stop = 1
            AND rule_bullet = 1 AND rule_ellipsis = 1 AS INT) AS keep,
       CASE WHEN rule_words = 0 THEN 'words'
            WHEN rule_mean_len = 0 THEN 'mean_len'
            WHEN rule_symbol = 0 THEN 'symbol'
            WHEN rule_alpha = 0 THEN 'alpha'
            WHEN rule_stop = 0 THEN 'stop'
            WHEN rule_bullet = 0 THEN 'bullet'
            WHEN rule_ellipsis = 0 THEN 'ellipsis'
            ELSE 'kept' END AS drop_reason
FROM r
""",
)
def gopher_quality_battery(spark, sf_dir):
    """Gopher doc-level quality battery (Rae et al. 2021 table A1,
    operators/textstats.gopher_rules) with one planted violator class per
    rule — symbol (' x#' * 30 appended, doc_id % 13), word-count floor
    (truncation to ~5 words, % 17), alphabetic-word floor (every word
    digitized, % 19), mean-token-length ceiling (12 45-char words
    appended, % 23), and the r13 LINE rules: bullet line-starts (50
    '-item' lines appended, % 29 — the bullet glued to an alphabetic
    token so ONLY rule_bullet trips) and ellipsis line-ends (25
    16-word '...'-terminated lines, % 31 — long lines keep rule_symbol
    under its permille) — plus the fixture's NATURAL stop-word split
    (min_stopwords=1: 382 of 500 docs contain a Gopher stop word). Every
    rule bit is an exact integer comparison on both engines; sf0.01
    funnel: kept 283, stop 91, symbol 32, words 27, alpha 23,
    mean_len 20, ellipsis 13, bullet 11. drop_reason precedence (words >
    mean_len > symbol > alpha > stop > bullet > ellipsis) is part of the
    contract."""
    # planted mutations as ONE CASE projection over a single scan (a
    # union of filtered branches replays the loader's spread shuffle per
    # branch — 5 exchanges for what is one map; found by plan_audit).
    # CASE precedence 13 > 17 > 19 > 23 > 29 > 31 mirrors the oracle's
    # exclusions.
    docs = load_docs(spark, sf_dir)
    mutated = (
        F.when(
            F.col("doc_id") % 13 == 0,
            F.concat("text", F.expr("repeat(' x#', 30)")),
        )
        .when(F.col("doc_id") % 17 == 0, F.substring("text", 1, 30))
        .when(
            F.col("doc_id") % 19 == 0,
            F.regexp_replace("text", "[a-z]+", "123"),
        )
        .when(
            F.col("doc_id") % 23 == 0,
            F.concat("text", F.expr(f"repeat(' {_GOPHER_LONG}', 12)")),
        )
        .when(
            F.col("doc_id") % 29 == 0,
            F.concat("text", F.expr("repeat(concat(char(10), '-item'), 50)")),
        )
        .when(
            F.col("doc_id") % 31 == 0,
            F.concat(
                "text",
                F.expr(
                    "repeat(concat(char(10), repeat('word ', 15), 'end...'),"
                    " 25)"
                ),
            ),
        )
        .otherwise(F.col("text"))
    )
    corpus = docs.select("doc_id", mutated.alias("text"))
    return T.gopher_rules(corpus, min_stopwords=1)


# ---------------------------------------------------------------------------
# CCNet-style perplexity bucketing (round 12): LM-score the corpus, split
# into head/middle/tail by exact rank terciles, sample per bucket.
# ---------------------------------------------------------------------------

@register(
    "ccnet_perplexity_buckets",
    rf"""
WITH toks AS (
  SELECT doc_id, {_TOKS_SQL} AS t FROM documents
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
scored AS (
  SELECT b.doc_id, ({_KN_FLU_P_SQL}) AS p_u6
  FROM bg b
  LEFT JOIN c   ON c.w1 = b.w1 AND c.w2 = b.w2
  LEFT JOIN w1s s1 ON s1.w1 = b.w1
  LEFT JOIN w2s s2 ON s2.w2 = b.w2
  CROSS JOIN nt
),
per AS (
  SELECT doc_id, CAST(sum(p_u6) AS BIGINT) // count(*) AS fluency_u6
  FROM scored GROUP BY 1
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM per),
ranked AS (
  SELECT doc_id, fluency_u6,
         row_number() OVER (ORDER BY fluency_u6 DESC, doc_id ASC) AS rk
  FROM per
)
SELECT doc_id, fluency_u6,
       CASE WHEN rk * 3 <= n THEN 'head'
            WHEN rk * 3 <= 2 * n THEN 'middle'
            ELSE 'tail' END AS bucket,
       CAST(CASE WHEN rk * 3 <= n THEN 1
            WHEN rk * 3 <= 2 * n
              THEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % 2 = 0 AS INT)
            ELSE
              CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % 8 = 0 AS INT)
            END AS INT) AS keep
FROM ranked CROSS JOIN tot
""",
)
def ccnet_perplexity_buckets(spark, sf_dir):
    """CCNet's LM-quality bucketing (Wenzek et al. 2019): score every doc
    with the corpus bigram KN LM (integer micro-unit fluency — monotone
    in perplexity, chosen over perplexity itself because log() on
    data-dependent args is banned by the parity rules), cut the corpus
    into head/middle/tail at EXACT rank terciles (rk*3 <= n / <= 2n —
    integer cuts, fluency-desc + doc_id tie-break), then sample per
    bucket at CCNet's decreasing rates (head keep all, middle 1/2 by
    md5 residue % 2, tail 1/8 by residue % 8 — the portable-hash
    sampling rule). The global rank window is fixture-scale
    bookkeeping; at 100 TB the tercile THRESHOLDS come from the
    two-level rank/quantile pass (the packing pattern) and bucket
    assignment becomes a broadcast compare — the per-doc rule is
    already map-side. sf0.01 funnel: head 166/166 kept, middle 75/167,
    tail 23/167."""
    from pyspark.sql.window import Window

    orig = (
        load_docs(spark, sf_dir)
        .select("doc_id", T.tokens_expr("text").alias("toks"))
        .filter(F.size("toks") >= 2)
        .select("doc_id", F.lit("orig").alias("variant"), "toks")
    )
    per = T.kn_fluency_scores(orig).select("doc_id", "fluency_u6")
    cnt = per.agg(F.count(F.lit(1)).cast("long").alias("_n"))
    w = Window.orderBy(F.col("fluency_u6").desc(), F.col("doc_id").asc())
    ranked = (
        per.withColumn("rk", F.row_number().over(w))
        .crossJoin(F.broadcast(cnt))
    )
    res = F.expr(
        "cast(conv(substr(md5(cast(doc_id as string)), 1, 4), 16, 10)"
        " as bigint)"
    )
    bucket = (
        F.when(F.col("rk") * 3 <= F.col("_n"), F.lit("head"))
        .when(F.col("rk") * 3 <= 2 * F.col("_n"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    keep = (
        F.when(F.col("rk") * 3 <= F.col("_n"), F.lit(1))
        .when(
            F.col("rk") * 3 <= 2 * F.col("_n"),
            (res % 2 == 0).cast("int"),
        )
        .otherwise((res % 8 == 0).cast("int"))
    )
    return ranked.select(
        "doc_id",
        "fluency_u6",
        bucket.alias("bucket"),
        keep.cast("int").alias("keep"),
    )


@register(
    "ccnet_perplexity_buckets_approx",
    rf"""
WITH toks AS (
  SELECT doc_id, {_TOKS_SQL} AS t FROM documents
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
scored AS (
  SELECT b.doc_id, ({_KN_FLU_P_SQL}) AS p_u6
  FROM bg b
  LEFT JOIN c   ON c.w1 = b.w1 AND c.w2 = b.w2
  LEFT JOIN w1s s1 ON s1.w1 = b.w1
  LEFT JOIN w2s s2 ON s2.w2 = b.w2
  CROSS JOIN nt
),
per AS MATERIALIZED (
  SELECT doc_id, CAST(sum(p_u6) AS BIGINT) // count(*) AS fluency_u6
  FROM scored GROUP BY 1
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM per),
ranked AS (
  SELECT doc_id, fluency_u6,
         row_number() OVER (ORDER BY fluency_u6 DESC, doc_id ASC) AS rk
  FROM per
),
samp AS MATERIALIZED (
  SELECT doc_id, fluency_u6 FROM per
  WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 5, 4))::BIGINT % 4 < 3
),
sn AS (SELECT CAST(count(*) AS BIGINT) AS ns FROM samp),
sranked AS MATERIALIZED (
  SELECT fluency_u6,
         row_number() OVER (ORDER BY fluency_u6 DESC, doc_id ASC) AS srk
  FROM samp
),
th AS (
  SELECT
    (SELECT fluency_u6 FROM sranked, sn
     WHERE srk = greatest(ns // 3, 1)) AS t_head,
    (SELECT fluency_u6 FROM sranked, sn
     WHERE srk = greatest((2 * ns) // 3, 1)) AS t_mid
)
SELECT r.doc_id, r.fluency_u6,
       CASE WHEN r.rk * 3 <= t.n THEN 'head'
            WHEN r.rk * 3 <= 2 * t.n THEN 'middle'
            ELSE 'tail' END AS bucket_exact,
       CASE WHEN r.fluency_u6 >= th.t_head THEN 'head'
            WHEN r.fluency_u6 >= th.t_mid THEN 'middle'
            ELSE 'tail' END AS bucket_approx,
       CAST((CASE WHEN r.rk * 3 <= t.n THEN 'head'
                  WHEN r.rk * 3 <= 2 * t.n THEN 'middle'
                  ELSE 'tail' END) =
            (CASE WHEN r.fluency_u6 >= th.t_head THEN 'head'
                  WHEN r.fluency_u6 >= th.t_mid THEN 'middle'
                  ELSE 'tail' END) AS INT) AS agree
FROM ranked r CROSS JOIN tot t CROSS JOIN th
""",
)
def ccnet_perplexity_buckets_approx(spark, sf_dir):
    """CCNet bucketing with the documented 100 TB swap-out (r13, VERDICT
    r12 #4): tercile THRESHOLDS estimated from a bounded deterministic
    md5 THREE-QUARTER-SAMPLE's exact ranks, bucket assignment becomes a
    broadcast compare against the two threshold values — no corpus-wide
    rank window. The sampled-quantile estimator is chosen over the
    engine GK sketch for the REGISTERED query because its thresholds are
    bit-portable (integer fluency value at an integer sample rank on
    both engines), while percentile_approx's merge order is not; the GK
    variant's agreement is measured separately in
    test_ccnet_gk_thresholds_agree and SCALE.md. Output carries BOTH
    cuts per doc plus an agree flag, so the driver hash pins the exact
    cut, the sampled cut, AND their measured agreement (sf0.01: 480/500
    = 96.0% at the 3/4 sample; a 1/4 sample measured 91.6% — the error
    is the expected ~1/sqrt(ns) quantile-estimation noise of a
    125-doc sample, so at production sample sizes (millions of docs) the
    cut converges; every disagreement is a doc whose fluency sits
    between the sample threshold and the exact rank boundary)."""
    from pyspark.sql.window import Window

    orig = (
        load_docs(spark, sf_dir)
        .select("doc_id", T.tokens_expr("text").alias("toks"))
        .filter(F.size("toks") >= 2)
        .select("doc_id", F.lit("orig").alias("variant"), "toks")
    )
    per = materialize(  # scored once; ranked + sampled reuse it
        T.kn_fluency_scores(orig)
        .select("doc_id", "fluency_u6")
    )
    cnt = per.agg(F.count(F.lit(1)).cast("long").alias("_n"))
    w = Window.orderBy(F.col("fluency_u6").desc(), F.col("doc_id").asc())
    ranked = (
        per.withColumn("rk", F.row_number().over(w))
        .crossJoin(F.broadcast(cnt))
    )
    qres = F.expr(
        "cast(conv(substr(md5(cast(doc_id as string)), 5, 4), 16, 10)"
        " as bigint)"
    )
    samp = per.filter(qres % 4 < 3)
    sn = samp.agg(F.count(F.lit(1)).cast("long").alias("ns"))
    sranked = samp.withColumn("srk", F.row_number().over(w)).crossJoin(
        F.broadcast(sn)
    )
    th = (
        sranked.select(
            F.when(
                F.col("srk") == F.greatest(
                    F.expr("ns div 3"), F.lit(1).cast("long")
                ),
                F.col("fluency_u6"),
            ).alias("_th"),
            F.when(
                F.col("srk") == F.greatest(
                    F.expr("(2 * ns) div 3"), F.lit(1).cast("long")
                ),
                F.col("fluency_u6"),
            ).alias("_tm"),
        )
        .agg(
            F.max("_th").alias("t_head"),
            F.max("_tm").alias("t_mid"),
        )
    )
    b_exact = (
        F.when(F.col("rk") * 3 <= F.col("_n"), F.lit("head"))
        .when(F.col("rk") * 3 <= 2 * F.col("_n"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    b_approx = (
        F.when(F.col("fluency_u6") >= F.col("t_head"), F.lit("head"))
        .when(F.col("fluency_u6") >= F.col("t_mid"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return ranked.crossJoin(F.broadcast(th)).select(
        "doc_id",
        "fluency_u6",
        b_exact.alias("bucket_exact"),
        b_approx.alias("bucket_approx"),
        (b_exact == b_approx).cast("int").alias("agree"),
    )


def _bpe_merges_artifact(
    spark, sf_dir: str, n_merges: int = _BPE_MERGES
) -> list[str]:
    """The trained BPE merge table PERSISTED to a /tmp json artifact
    (fingerprint-keyed, pid-tempfile + atomic rename — the
    _lm_count_artifact pattern) and read back, so the downstream query
    tokenizes from the frozen artifact exactly the way
    api.tokenize_counts serves from api.build_tokenizer's sidecar.

    Past the toy merge count the trainer is the production-shape sampled
    one (full-corpus sample here — bit-identical to bpe_train by the
    pinned property, one Spark job instead of one per merge)."""
    import json
    import os

    from .pipeline import _docs_fingerprint

    key = sf_dir.strip("/").replace("/", "_")
    fp = _docs_fingerprint(sf_dir)
    dst = f"/tmp/vdl_bpe_merges/v1/{key}-{fp}-m{n_merges}.json"
    if not os.path.exists(dst):
        docs = load_docs(spark, sf_dir)
        trainer = T.bpe_train if n_merges <= 8 else T.bpe_train_sampled
        rows = sorted(
            (int(r["merge_round"]), r["pair"])
            for r in trainer(docs, n_merges=n_merges).collect()
        )
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        tmp = f"{dst}.tmp.{os.getpid()}"
        with open(tmp, "w") as fh:
            json.dump([{"round": r, "pair": p} for r, p in rows], fh)
        os.replace(tmp, dst)  # atomic; last writer wins with equal bytes
    with open(dst) as fh:
        return [m["pair"] for m in json.load(fh)]


@register("bpe_tokenize_from_artifact", _bpe_tokenize_oracle_sql(_BPE_MERGES))
def bpe_tokenize_from_artifact(spark, sf_dir):
    """bpe_tokenize_counts SERVED FROM THE PERSISTED TOKENIZER ARTIFACT
    (round 12): the ordered merge table is trained once, frozen to disk,
    and this query only READS it before the narrow chained-replace apply.
    The oracle retrains from the raw documents, so the hash match proves
    frozen-tokenizer serving == train-then-tokenize — the LM/text-index
    serving contract applied to the tokenizer (api.build_tokenizer /
    api.tokenize_counts are the database-facing twins; production
    pipelines pin tokenizers exactly this way because a drifting merge
    table silently changes every downstream token budget)."""
    merges = _bpe_merges_artifact(spark, sf_dir)
    docs = load_docs(spark, sf_dir)
    out = T.bpe_tokenize_counts(docs, merges)
    return out.select(
        "doc_id",
        "n_symbols_before",
        "n_tokens_after",
        (F.col("n_tokens_after").cast("double") / F.col("n_symbols_before")).alias(
            "compression"
        ),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Composite curation (round 12): Gopher rule battery first, CCNet LM
# bucketing on the survivors — the LM trains on post-filter docs only
# (training the quality LM on unfiltered text would let the violators
# shape the fluency scale; order is the contract, like the capstone's
# dedup-then-LM).
# ---------------------------------------------------------------------------

@register(
    "curation_gopher_ccnet",
    rf"""
WITH {_gopher_corpus_sql()},
gt AS (SELECT doc_id, text, {_TOKS_SQL} AS toks FROM corpus),
gm AS (
  SELECT doc_id, text, toks,
         CAST(len(toks) AS BIGINT) AS n_words,
         CAST(list_reduce(
             list_prepend(0, list_transform(toks, w -> CAST(length(w) AS BIGINT))),
             (a, b) -> a + b) AS BIGINT) AS tok_chars,
         CAST(length(text) - length(replace(text, '#', ''))
              + (length(text) - length(replace(text, '...', ''))) // 3
              AS BIGINT) AS n_symbols,
         CAST(len(list_filter(toks, w -> regexp_matches(w, '[a-z]')))
              AS BIGINT) AS n_alpha_words,
         CAST(len(list_intersect(list_distinct(toks),
              ['the','be','to','of','and','that','have','with']))
              AS BIGINT) AS n_stopwords
  FROM gt
),
gr AS (
  SELECT doc_id, toks,
    CASE WHEN NOT (n_words >= 10 AND n_words <= 100000) THEN 'words'
         WHEN NOT (tok_chars >= 3 * n_words AND tok_chars <= 10 * n_words)
           THEN 'mean_len'
         WHEN NOT (n_symbols * 1000 <= 100 * n_words) THEN 'symbol'
         WHEN NOT (n_alpha_words * 1000 >= 800 * n_words) THEN 'alpha'
         WHEN NOT (n_stopwords >= 1) THEN 'stop'
         ELSE 'kept' END AS g_reason
  FROM gm
),
surv AS (SELECT doc_id, toks FROM gr WHERE g_reason = 'kept' AND len(toks) >= 2),
seq AS (
  SELECT doc_id, unnest(toks) AS w, generate_subscripts(toks, 1) AS pos
  FROM surv
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
scored AS (
  SELECT b.doc_id, ({_KN_FLU_P_SQL}) AS p_u6
  FROM bg b
  LEFT JOIN c   ON c.w1 = b.w1 AND c.w2 = b.w2
  LEFT JOIN w1s s1 ON s1.w1 = b.w1
  LEFT JOIN w2s s2 ON s2.w2 = b.w2
  CROSS JOIN nt
),
per AS (
  SELECT doc_id, CAST(sum(p_u6) AS BIGINT) // count(*) AS fluency_u6
  FROM scored GROUP BY 1
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM per),
ranked AS (
  SELECT doc_id, fluency_u6,
         row_number() OVER (ORDER BY fluency_u6 DESC, doc_id ASC) AS rk
  FROM per
),
cc AS (
  SELECT doc_id, fluency_u6,
         CASE WHEN rk * 3 <= n THEN 'head'
              WHEN rk * 3 <= 2 * n THEN 'middle'
              ELSE 'tail' END AS bucket,
         CASE WHEN rk * 3 <= n THEN 1
              WHEN rk * 3 <= 2 * n THEN
                CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % 2 = 0 AS INT)
              ELSE
                CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % 8 = 0 AS INT)
              END AS cc_keep
  FROM ranked CROSS JOIN tot
)
SELECT g.doc_id,
       COALESCE(cc.fluency_u6, CAST(-1 AS BIGINT)) AS fluency_u6,
       COALESCE(cc.bucket, 'dropped') AS bucket,
       CASE WHEN g.g_reason != 'kept' THEN 'gopher:' || g.g_reason
            WHEN cc.doc_id IS NULL THEN 'gopher:short'
            WHEN cc.cc_keep = 0 THEN 'ppl_sample'
            ELSE 'kept' END AS drop_reason,
       CAST(CASE WHEN g.g_reason = 'kept' AND cc.cc_keep = 1
                 THEN 1 ELSE 0 END AS INT) AS keep
FROM gr g
LEFT JOIN cc ON cc.doc_id = g.doc_id
""",
)
def curation_gopher_ccnet(spark, sf_dir):
    """Composite curation: the Gopher rule battery drops first, then the
    CCNet LM bucketing runs on the SURVIVORS — the bigram KN LM trains on
    post-filter docs only (training the quality LM on unfiltered text
    would let the planted violators shape the fluency scale; order is the
    contract, same as curation_mix_manifest's dedup-then-LM). Per-doc
    manifest: fluency (sentinel -1 for dropped docs), tercile bucket
    ('dropped' sentinel), precedence-ordered drop_reason
    ('gopher:<rule>' > 'ppl_sample' > 'kept') and the final keep bit.
    Same planted corpus as gopher_quality_battery. sf0.01 funnel: 500 ->
    gopher drops 193 (words 27 / mean_len 20 / symbol 32 / alpha 23 /
    stop 91) -> 307 survivors scored -> tercile sampling keeps 169,
    ppl_sample drops 138."""
    from pyspark.sql.window import Window

    docs = load_docs(spark, sf_dir)
    mutated = (
        F.when(
            F.col("doc_id") % 13 == 0,
            F.concat("text", F.expr("repeat(' x#', 30)")),
        )
        .when(F.col("doc_id") % 17 == 0, F.substring("text", 1, 30))
        .when(
            F.col("doc_id") % 19 == 0,
            F.regexp_replace("text", "[a-z]+", "123"),
        )
        .when(
            F.col("doc_id") % 23 == 0,
            F.concat("text", F.expr(f"repeat(' {_GOPHER_LONG}', 12)")),
        )
        .otherwise(F.col("text"))
    )
    corpus = docs.select("doc_id", mutated.alias("text"))
    # Line rules neutralized (1000 permille is always true since
    # n_bullet/n_ellipsis <= n_lines): this composite's oracle pins only
    # the 5 original word-level rules, and a natural '...'-ending or
    # bullet-starting single-line doc would otherwise flip keep on the
    # Spark side alone (ADVICE r13 #1).
    g = T.gopher_rules(
        corpus,
        min_stopwords=1,
        max_bullet_permille=1000,
        max_ellipsis_permille=1000,
    ).select(
        "doc_id", "drop_reason"
    ).withColumnRenamed("drop_reason", "g_reason")
    surv = (
        corpus.join(
            g.filter(F.col("g_reason") == "kept").select("doc_id"),
            "doc_id",
            "left_semi",
        )
        .select("doc_id", T.tokens_expr("text").alias("toks"))
        .filter(F.size("toks") >= 2)
        .select("doc_id", F.lit("orig").alias("variant"), "toks")
    )
    per = T.kn_fluency_scores(surv).select("doc_id", "fluency_u6")
    cnt = per.agg(F.count(F.lit(1)).cast("long").alias("_n"))
    w = Window.orderBy(F.col("fluency_u6").desc(), F.col("doc_id").asc())
    ranked = per.withColumn("rk", F.row_number().over(w)).crossJoin(
        F.broadcast(cnt)
    )
    res = F.expr(
        "cast(conv(substr(md5(cast(doc_id as string)), 1, 4), 16, 10)"
        " as bigint)"
    )
    cc = ranked.select(
        "doc_id",
        "fluency_u6",
        F.when(F.col("rk") * 3 <= F.col("_n"), F.lit("head"))
        .when(F.col("rk") * 3 <= 2 * F.col("_n"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
        F.when(F.col("rk") * 3 <= F.col("_n"), F.lit(1))
        .when(F.col("rk") * 3 <= 2 * F.col("_n"), (res % 2 == 0).cast("int"))
        .otherwise((res % 8 == 0).cast("int"))
        .alias("cc_keep"),
    )
    out = g.join(cc, "doc_id", "left")
    reason = (
        F.when(
            F.col("g_reason") != "kept",
            F.concat(F.lit("gopher:"), F.col("g_reason")),
        )
        .when(F.col("bucket").isNull(), F.lit("gopher:short"))
        .when(F.col("cc_keep") == 0, F.lit("ppl_sample"))
        .otherwise(F.lit("kept"))
    )
    return out.select(
        "doc_id",
        F.coalesce("fluency_u6", F.lit(-1).cast("long")).alias("fluency_u6"),
        F.coalesce("bucket", F.lit("dropped")).alias("bucket"),
        reason.alias("drop_reason"),
        (
            (F.col("g_reason") == "kept")
            & (F.coalesce("cc_keep", F.lit(0)) == 1)
        )
        .cast("int")
        .alias("keep"),
    )


# ---------------------------------------------------------------------------
# Tokenize-then-pack capstone (round 12): the two-artifact training-data
# prep DAG — token budgets from the FROZEN BPE tokenizer, packed into
# fixed-budget training bins by the scalable two-level prefix sum.
# ---------------------------------------------------------------------------

_TPP_BUDGET = 512  # BPE tokens per training bin
_BPE_MERGES_BIG = 64  # production-leaning vocabulary (r12 #1; fixture caps at 89)


def _tokenize_pack_oracle(n_merges: int, budget: int) -> str:
    """Retrains the tokenizer (materialized unrolled rounds — the
    iterative-CTE rule), then applies it VOCABULARY-FACTORED: the
    n-merge-deep replace chain runs once per DISTINCT word, and
    per-occurrence counts come from a join — mirroring the scalable
    Spark apply's shape, and keeping the 64-deep expression off the
    corpus-sized table."""
    applied = "s"
    for r in range(1, n_merges + 1):
        pair = f"(SELECT pair FROM m{r})"
        applied = (
            f"replace({applied}, {_BPE_PAT.format(pair=pair)},"
            f" {_BPE_REP.format(pair=pair)})"
        )
    n_after = f"len({_BPE_SYMS.format(s='s2')})"
    return f"""
WITH {_bpe_ctes(n_merges, materialized=True)},
dwords AS MATERIALIZED (
  SELECT doc_id, unnest({_TOKS_SQL}) AS w FROM documents
),
vsym AS (
  SELECT w, chr(9) || array_to_string(
           list_transform(generate_series(1, len(w)), i -> substr(w, i, 1)),
           chr(10) || chr(9)) || chr(10) AS s
  FROM (SELECT DISTINCT w FROM dwords)
),
vapplied AS MATERIALIZED (
  SELECT w, CAST({n_after} AS BIGINT) AS na
  FROM (SELECT w, {applied} AS s2 FROM vsym)
),
counts AS (
  SELECT doc_id, CAST(sum(v.na) AS BIGINT) AS n_tok
  FROM dwords d JOIN vapplied v USING (w) GROUP BY doc_id
),
pos AS (
  SELECT doc_id, n_tok,
         CAST(COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS tok_start
  FROM counts
)
SELECT doc_id, n_tok, tok_start,
       CAST(tok_start // {budget} AS BIGINT) AS first_bin,
       CAST(greatest(tok_start // {budget},
                     (tok_start + n_tok - 1) // {budget})
            AS BIGINT) AS last_bin,
       CAST(greatest(tok_start // {budget},
                     (tok_start + n_tok - 1) // {budget})
            - tok_start // {budget} + 1 AS BIGINT) AS n_bins
FROM pos
"""


@register(
    "tokenize_pack_pipeline",
    _tokenize_pack_oracle(_BPE_MERGES_BIG, _TPP_BUDGET),
)
def tokenize_pack_pipeline(spark, sf_dir):
    """Two-artifact training-data prep capstone, re-registered (r13) on a
    64-MERGE vocabulary: per-doc token budgets come from the FROZEN
    persisted BPE merge table (_bpe_merges_artifact — the
    api.build_tokenizer serving contract, now trained by the
    production-shape single-job sampled trainer) applied with the
    rank-based vocabulary-factored mapInPandas tokenizer
    (operators/textstats.bpe_tokenize_counts_scalable — the chained
    64-replace expression stays off the corpus), then the corpus packs
    into 512-BPE-token training bins by the two-level prefix sum
    (operators/packing.pack_spans — no single-partition global window).
    The oracle RETRAINS the tokenizer (64 materialized unrolled rounds)
    and replays the packing with a global-order cumsum, so the hash
    match proves sampled training == iterative training, rank-based
    serving == chained-replace semantics, frozen-artifact serving, AND
    the scalable packing — the whole production tokenizer path — equal
    the textbook single-pass layout."""
    from ..operators.packing import pack_spans

    merges = _bpe_merges_artifact(spark, sf_dir, n_merges=_BPE_MERGES_BIG)
    docs = load_docs(spark, sf_dir)
    counts = T.bpe_tokenize_counts_scalable(docs, merges).select(
        "doc_id", F.col("n_tokens_after").cast("long").alias("n_tok")
    )
    return pack_spans(counts, _TPP_BUDGET).orderBy("doc_id")


# ---------------------------------------------------------------------------
# C4 cleaning battery (r13): the line-level curation complement to the
# Gopher doc-level battery — Raffel et al. 2020 §2.2's rules with one
# planted violator class per rule.
# ---------------------------------------------------------------------------

_C4_LINE_KEPT_SQL = (
    "(l LIKE '%.' OR l LIKE '%!' OR l LIKE '%?' OR l LIKE '%\"')"
    r" AND len(list_filter(regexp_split_to_array(trim(lower(l)), '\s+'),"
    " t -> t != '')) >= 5"
    " AND lower(l) NOT LIKE '%javascript%'"
)


@register(
    "c4_line_filter_battery",
    f"""
WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
base AS (
  SELECT doc_id, l,
         l || chr(10) || l || chr(10) || l || chr(10) || l AS base4
  FROM (SELECT doc_id, array_to_string(t[1:6], ' ') || '.' AS l FROM toks)
),
corpus AS (
  SELECT doc_id, CASE
    WHEN doc_id % 13 = 0
      THEN base4 || chr(10) || 'function() {{ var x = 1; }}'
    WHEN doc_id % 17 = 0
      THEN base4 || chr(10) || 'please enable javascript to continue viewing.'
    WHEN doc_id % 19 = 0
      THEN base4 || chr(10) || 'lorem ipsum dolor sit amet consectetur.'
    WHEN doc_id % 23 = 0 THEN l || chr(10) || l
    WHEN doc_id % 29 = 0 THEN base4 || chr(10) || 'too short.'
    WHEN doc_id % 31 = 0
      THEN base4 || chr(10) || 'this line just trails off with no end'
    WHEN doc_id % 37 = 0
      THEN base4 || chr(10) || 'buy cheap viagra pills shipped here now.'
    ELSE base4 END AS text
  FROM base
),
m AS (
  SELECT doc_id,
         CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
         CAST(len(list_filter(string_split(text, chr(10)),
              l -> {_C4_LINE_KEPT_SQL})) AS BIGINT) AS n_kept_lines,
         CAST(lower(text) LIKE '%lorem ipsum%' AS INT) AS has_lorem,
         CAST(text LIKE '%{{%' AS INT) AS has_brace,
         CAST(len(list_intersect({_TOKS_SQL},
              ['viagra', 'nsfw', 'xxx'])) > 0 AS INT) AS has_bad_words
  FROM corpus
)
SELECT *,
       CAST(has_brace = 0 AND has_lorem = 0 AND has_bad_words = 0
            AND n_kept_lines >= 3 AS INT)
         AS keep,
       CASE WHEN has_brace = 1 THEN 'brace'
            WHEN has_lorem = 1 THEN 'lorem'
            WHEN has_bad_words = 1 THEN 'bad_words'
            WHEN n_kept_lines < 3 THEN 'few_sentences'
            ELSE 'kept' END AS drop_reason
FROM m
""",
)
def c4_line_filter_battery(spark, sf_dir):
    """C4's cleaning battery (Raffel et al. 2020 §2.2,
    operators/textstats.c4_line_rules) — the LINE-level curation pass the
    Gopher battery's doc-level rules compose with. The corpus is each
    doc's first-6-token sentence repeated on 4 lines, plus one planted
    violator class per rule: a curly-brace code line (% 13 — page
    dropped), a 'javascript' line (% 17 — line dropped, page kept), a
    'lorem ipsum' line (% 19 — page dropped), a 2-line page (% 23 —
    fewer than 3 kept sentences, dropped), a 2-word line (% 29 — line
    dropped by the >= 5-word floor), an unterminated line (% 31 —
    line dropped by the terminal-punctuation rule), and r14's
    BAD-WORDS page (% 37 — C4's dirty-word-list page rule, opt-in
    token-membership check, page dropped). All counts are exact
    integers over the shared split primitives; drop_reason precedence
    (brace > lorem > bad_words > few_sentences) is part of the
    contract."""
    docs = load_docs(spark, sf_dir)
    toks = T.tokens_expr("text")
    line = F.concat(F.array_join(F.slice(toks, 1, 6), " "), F.lit("."))
    base = docs.select("doc_id", line.alias("l"))
    nl = F.lit("\n")
    base4 = F.concat(
        F.col("l"), nl, F.col("l"), nl, F.col("l"), nl, F.col("l")
    )
    mutated = (
        F.when(
            F.col("doc_id") % 13 == 0,
            F.concat(base4, nl, F.lit("function() { var x = 1; }")),
        )
        .when(
            F.col("doc_id") % 17 == 0,
            F.concat(
                base4, nl,
                F.lit("please enable javascript to continue viewing."),
            ),
        )
        .when(
            F.col("doc_id") % 19 == 0,
            F.concat(
                base4, nl, F.lit("lorem ipsum dolor sit amet consectetur.")
            ),
        )
        .when(F.col("doc_id") % 23 == 0, F.concat(F.col("l"), nl, F.col("l")))
        .when(
            F.col("doc_id") % 29 == 0,
            F.concat(base4, nl, F.lit("too short.")),
        )
        .when(
            F.col("doc_id") % 31 == 0,
            F.concat(
                base4, nl,
                F.lit("this line just trails off with no end"),
            ),
        )
        .when(
            F.col("doc_id") % 37 == 0,
            F.concat(
                base4, nl,
                F.lit("buy cheap viagra pills shipped here now."),
            ),
        )
        .otherwise(base4)
    )
    corpus = base.select("doc_id", mutated.alias("text"))
    return T.c4_line_rules(corpus, bad_words=("viagra", "nsfw", "xxx"))


# ---------------------------------------------------------------------------
# PII detection + scrub battery (r13): the redaction stage a
# training-data pipeline runs first; planted PII classes per residue,
# scrubbed output hash-pinned on both engines.
# ---------------------------------------------------------------------------

# Luhn-validated credit-card redaction (r14, VERDICT r13 #8): the
# candidate regex + unrolled integer checksum proven in cc_luhn_detection,
# now feeding the REDACTION battery (valid cards -> [CC]; the broken-check
# candidate is the planted false-positive guard and must survive).
from .safety import _CC_INVALID as _PIIB_CC_INVALID  # noqa: E402
from .safety import _CC_VALID as _PIIB_CC_VALID  # noqa: E402
from .safety import _LUHN_SQL as _PIIB_LUHN_SQL  # noqa: E402

_PII_EMAIL_SQL = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z][a-z]+"
_PII_PHONE_SQL = "[0-9][0-9][0-9]-[0-9][0-9][0-9]-[0-9][0-9][0-9][0-9]"
_PII_IP_SQL = (
    "[0-9][0-9]?[0-9]?\\.[0-9][0-9]?[0-9]?\\."
    "[0-9][0-9]?[0-9]?\\.[0-9][0-9]?[0-9]?"
)


@register(
    "pii_scrub_battery",
    f"""
WITH corpus AS (
  SELECT doc_id, CASE
    WHEN doc_id % 13 = 0 THEN text ||
      ' contact me at john.doe@example.com or jane_k+spam@test-mail.org now'
    WHEN doc_id % 17 = 0 THEN text || ' call 555-123-4567 today'
    WHEN doc_id % 19 = 0 THEN text || ' hosts 10.0.0.7 and 172.16.254.1 up'
    WHEN doc_id % 23 = 0 THEN text ||
      ' mail bob@corp.io from 203.0.113.9 or dial 800-555-0100'
    WHEN doc_id % 29 = 0 THEN text ||
      ' pay with {_PIIB_CC_VALID} never {_PIIB_CC_INVALID} thanks'
    ELSE text END AS text
  FROM documents
),
s3 AS (
  SELECT doc_id,
    CAST(len(regexp_extract_all(lower(text), '{_PII_EMAIL_SQL}'))
         AS BIGINT) AS n_emails,
    CAST(len(regexp_extract_all(lower(text), '{_PII_PHONE_SQL}'))
         AS BIGINT) AS n_phones,
    CAST(len(regexp_extract_all(lower(text), '{_PII_IP_SQL}'))
         AS BIGINT) AS n_ips,
    regexp_replace(
      regexp_replace(
        regexp_replace(lower(text), '{_PII_EMAIL_SQL}', '[EMAIL]', 'g'),
        '{_PII_PHONE_SQL}', '[PHONE]', 'g'),
      '{_PII_IP_SQL}', '[IP]', 'g') AS scrub3
  FROM corpus
),
m AS (
  SELECT doc_id, n_emails, n_phones, n_ips,
    CAST(len(cands) AS BIGINT) AS n_cc_candidates,
    CAST(len(list_filter(cands, {{_luhn}})) AS BIGINT) AS n_cc_valid,
    substr(md5(list_reduce(
      list_prepend(scrub3, list_filter(cands, {{_luhn}})),
      (a, b) -> replace(a, b, '[CC]'))), 1, 16) AS scrubbed_md5
  FROM (
    SELECT *,
           regexp_extract_all(scrub3,
             '\\b\\d{{4}}-\\d{{4}}-\\d{{4}}-\\d{{4}}\\b') AS cands
    FROM s3
  )
)
SELECT doc_id, n_emails, n_phones, n_ips, n_cc_candidates, n_cc_valid,
       n_emails + n_phones + n_ips + n_cc_valid AS n_pii,
       CAST(n_emails + n_phones + n_ips + n_cc_valid > 0 AS INT)
         AS has_pii,
       scrubbed_md5
FROM m
""".replace("{_luhn}", _PIIB_LUHN_SQL),
)
def pii_scrub_battery(spark, sf_dir):
    """PII detection + redaction battery
    (operators/textstats.pii_scrub): planted PII classes per residue —
    two emails (% 13, incl. a plus-tag and a hyphenated domain), a
    NNN-NNN-NNNN phone (% 17), two dotted-quad IPs (% 19), a MIXED
    doc carrying all three classes (% 23), and r14's CREDIT-CARD pair
    (% 29): one Luhn-VALID card that must be redacted to [CC] and one
    broken-check candidate that must SURVIVE redaction (the
    false-positive guard a bare regex scrub fails) — over the
    otherwise-clean corpus (0 false positives on unmutated docs, pinned
    by the counts AND the scrubbed-bytes hash).
    Patterns are restricted to Java-regex/RE2-shared syntax (explicit
    classes, no shorthand escapes); the scrubbed text is redacted in a
    fixed class order and hash-pinned via md5 prefix on BOTH engines, so
    the driver match proves detection counts AND the exact redacted
    bytes. Map-side single projection; at 100 TB this is a narrow
    codegen scan, the cheapest stage in the pipeline."""
    docs = load_docs(spark, sf_dir)
    mutated = (
        F.when(
            F.col("doc_id") % 13 == 0,
            F.concat(
                "text",
                F.lit(
                    " contact me at john.doe@example.com or"
                    " jane_k+spam@test-mail.org now"
                ),
            ),
        )
        .when(
            F.col("doc_id") % 17 == 0,
            F.concat("text", F.lit(" call 555-123-4567 today")),
        )
        .when(
            F.col("doc_id") % 19 == 0,
            F.concat(
                "text", F.lit(" hosts 10.0.0.7 and 172.16.254.1 up")
            ),
        )
        .when(
            F.col("doc_id") % 23 == 0,
            F.concat(
                "text",
                F.lit(
                    " mail bob@corp.io from 203.0.113.9 or dial"
                    " 800-555-0100"
                ),
            ),
        )
        .when(
            F.col("doc_id") % 29 == 0,
            F.concat(
                "text",
                F.lit(
                    f" pay with {_PIIB_CC_VALID} never"
                    f" {_PIIB_CC_INVALID} thanks"
                ),
            ),
        )
        .otherwise(F.col("text"))
    )
    corpus = docs.select("doc_id", mutated.alias("text"))
    return T.pii_scrub(corpus)


@register(
    "scrub_filter_pipeline",
    f"""
WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
base AS (
  SELECT doc_id, l,
         l || chr(10) || l || chr(10) || l || chr(10) || l AS base4
  FROM (SELECT doc_id, array_to_string(t[1:6], ' ') || '.' AS l FROM toks)
),
raw AS (
  SELECT doc_id, CASE
    WHEN doc_id % 13 = 0 THEN base4 || chr(10) ||
      'please write to john.doe@example.com for the full data dump.'
    WHEN doc_id % 17 = 0 THEN base4 || chr(10) ||
      'please enable javascript to call 555-123-4567 now.'
    WHEN doc_id % 19 = 0 THEN base4 || chr(10) ||
      'lorem ipsum dolor sit amet from 10.0.0.7 today.'
    WHEN doc_id % 23 = 0 THEN l || chr(10) || l
    ELSE base4 END AS text
  FROM base
),
scrubbed AS (
  SELECT doc_id,
    CAST(len(regexp_extract_all(lower(text), '{_PII_EMAIL_SQL}'))
         + len(regexp_extract_all(lower(text), '{_PII_PHONE_SQL}'))
         + len(regexp_extract_all(lower(text), '{_PII_IP_SQL}'))
         AS BIGINT) AS n_pii,
    regexp_replace(
      regexp_replace(
        regexp_replace(lower(text), '{_PII_EMAIL_SQL}', '[EMAIL]', 'g'),
        '{_PII_PHONE_SQL}', '[PHONE]', 'g'),
      '{_PII_IP_SQL}', '[IP]', 'g') AS text
  FROM raw
),
m AS (
  SELECT doc_id, n_pii,
         CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
         CAST(len(list_filter(string_split(text, chr(10)),
              l -> {_C4_LINE_KEPT_SQL})) AS BIGINT) AS n_kept_lines,
         CAST(lower(text) LIKE '%lorem ipsum%' AS INT) AS has_lorem,
         CAST(text LIKE '%{{%' AS INT) AS has_brace
  FROM scrubbed
)
SELECT doc_id, n_pii, n_lines, n_kept_lines,
       CAST(has_brace = 0 AND has_lorem = 0 AND n_kept_lines >= 3 AS INT)
         AS keep,
       CASE WHEN has_brace = 1 THEN 'brace'
            WHEN has_lorem = 1 THEN 'lorem'
            WHEN n_kept_lines < 3 THEN 'few_sentences'
            ELSE 'kept' END AS drop_reason
FROM m
""",
)
def scrub_filter_pipeline(spark, sf_dir):
    """Scrub-then-filter composite (r13): PII redaction runs FIRST —
    nothing downstream may see raw PII — and the C4 line battery then
    evaluates the REDACTED text, which changes its verdicts: the planted
    email line (% 13) keeps its >= 5 words with '[email]' counted as a
    word and survives; the javascript+phone line (% 17) is dropped by
    the line rule regardless of the '[phone]' tag; the lorem+IP page
    (% 19) is page-dropped after its IP is redacted; the 2-line page
    (% 23) still fails the sentence floor. Both stages reuse the shipped
    operators (pii_scrubbed_text -> c4_line_rules) and the oracle
    replays the exact two-stage composition, so the hash pins the
    ORDER as well as the rules. One narrow two-regexp-stage projection,
    zero shuffles."""
    docs = load_docs(spark, sf_dir)
    toks = T.tokens_expr("text")
    line = F.concat(F.array_join(F.slice(toks, 1, 6), " "), F.lit("."))
    base = docs.select("doc_id", line.alias("l"))
    nl = F.lit("\n")
    base4 = F.concat(
        F.col("l"), nl, F.col("l"), nl, F.col("l"), nl, F.col("l")
    )
    mutated = (
        F.when(
            F.col("doc_id") % 13 == 0,
            F.concat(
                base4, nl,
                F.lit(
                    "please write to john.doe@example.com for the full"
                    " data dump."
                ),
            ),
        )
        .when(
            F.col("doc_id") % 17 == 0,
            F.concat(
                base4, nl,
                F.lit("please enable javascript to call 555-123-4567 now."),
            ),
        )
        .when(
            F.col("doc_id") % 19 == 0,
            F.concat(
                base4, nl,
                F.lit("lorem ipsum dolor sit amet from 10.0.0.7 today."),
            ),
        )
        .when(F.col("doc_id") % 23 == 0, F.concat(F.col("l"), nl, F.col("l")))
        .otherwise(base4)
    )
    raw = base.select("doc_id", mutated.alias("text"))
    from ..operators.textstats import (
        PII_EMAIL_RE,
        PII_IPV4_RE,
        PII_PHONE_RE,
        pii_scrubbed_text,
    )

    lt = F.lower(F.col("text"))
    n_pii = (
        F.size(F.regexp_extract_all(lt, F.lit(PII_EMAIL_RE), F.lit(0)))
        + F.size(F.regexp_extract_all(lt, F.lit(PII_PHONE_RE), F.lit(0)))
        + F.size(F.regexp_extract_all(lt, F.lit(PII_IPV4_RE), F.lit(0)))
    ).cast("long")
    scrubbed = raw.select(
        "doc_id",
        n_pii.alias("n_pii"),
        pii_scrubbed_text("text").alias("text"),
    )
    out = T.c4_line_rules(scrubbed, carry=("n_pii",))
    return out.select(
        "doc_id", "n_pii", "n_lines", "n_kept_lines", "keep", "drop_reason"
    )


# ---------------------------------------------------------------------------
# LLM corpus megapipeline (round 14, VERDICT r13 #3): the full
# Lee/Rae/Raffel data-prep recipe as ONE registered lazy DAG, every stage
# a shipped operator, composed in the production order:
#   PII scrub -> C4 line filter -> Gopher battery -> exact dedup ->
#   near dedup (sampled-gram containment) -> substring decontamination ->
#   CCNet-approx fluency buckets -> temperature source mixing ->
#   tokenize (frozen 64-merge BPE artifact) -> pack into 512-token bins.
# The oracle replays all ten stages (including retraining the tokenizer's
# 64 materialized rounds), so the hash pins the COMPOSITION — order,
# precedence, and every stage's arithmetic — not just the stages.
# ---------------------------------------------------------------------------

_LCP_BUDGET = 512


def _llm_corpus_oracle() -> str:
    # vocabulary-factored BPE apply over the KEPT docs (same fragment as
    # _tokenize_pack_oracle, fed by the pipeline's survivors)
    applied = "s"
    for r in range(1, _BPE_MERGES_BIG + 1):
        pair = f"(SELECT pair FROM m{r})"
        applied = (
            f"replace({applied}, {_BPE_PAT.format(pair=pair)},"
            f" {_BPE_REP.format(pair=pair)})"
        )
    n_after = f"len({_BPE_SYMS.format(s='s2')})"
    from ..operators.dedup import MAX_GRAM_DF as _MAX_GRAM_DF
    from ..operators.sampling import temperature_mixture_sql

    mix_sql = temperature_mixture_sql("mixin", "source", "d.doc_id", 0.5)
    return f"""
WITH {_bpe_ctes(_BPE_MERGES_BIG, materialized=True)},
toksrc AS (SELECT doc_id, source, {_TOKS_SQL} AS t FROM documents),
pg AS (
  SELECT doc_id, source, l, l0,
         l || chr(10) || l || chr(10) || l || chr(10) || l AS base4,
         l0 || chr(10) || l0 || chr(10) || l0 || chr(10) || l0 AS base0
  FROM (SELECT doc_id, source,
               'the ' || array_to_string(t[1:6], ' ') || '.' AS l,
               array_to_string(t[1:6], ' ') || '.' AS l0
        FROM toksrc)
),
pages AS (
  SELECT doc_id, source, CASE
    WHEN doc_id % 13 = 0 THEN base4 || chr(10) ||
      'contact me at john.doe@example.com or call 800-555-0100 right away.'
    WHEN doc_id % 17 = 0 THEN base4 || chr(10) ||
      'please enable javascript to continue viewing.'
    WHEN doc_id % 19 = 0 THEN l || chr(10) || l
    WHEN doc_id % 23 = 0 THEN base4 || chr(10) ||
      'lorem ipsum dolor sit amet consectetur.'
    WHEN doc_id % 29 = 0 THEN base4 || chr(10) ||
      rtrim(repeat('### ', 24)) || '.'
    WHEN doc_id % 31 = 0 THEN regexp_replace(base4, '[a-z]+', '123', 'g')
    WHEN doc_id % 37 = 0 THEN base0
    ELSE base4 END AS text
  FROM pg
),
corpus AS (
  SELECT doc_id, source, text FROM pages
  UNION ALL
  SELECT doc_id + 200000 AS doc_id, source, text FROM pages
  WHERE doc_id % 7 = 0
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, source,
         substr(text, strpos(text, chr(10)) + 1) AS text
  FROM pages WHERE doc_id % 10 = 0
),
scrubbed AS MATERIALIZED (
  SELECT doc_id, source,
    CAST(len(regexp_extract_all(lower(text), '{_PII_EMAIL_SQL}'))
         + len(regexp_extract_all(lower(text), '{_PII_PHONE_SQL}'))
         + len(regexp_extract_all(lower(text), '{_PII_IP_SQL}'))
         AS BIGINT) AS n_pii,
    regexp_replace(
      regexp_replace(
        regexp_replace(lower(text), '{_PII_EMAIL_SQL}', '[EMAIL]', 'g'),
        '{_PII_PHONE_SQL}', '[PHONE]', 'g'),
      '{_PII_IP_SQL}', '[IP]', 'g') AS text
  FROM corpus
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
    FROM scrubbed
  )
),
gt AS (
  SELECT s.doc_id, s.text, {_TOKS_SQL.replace("text", "s.text")} AS toks
  FROM scrubbed s JOIN c4 USING (doc_id) WHERE c4.c4_reason = 'kept'
),
gm AS (
  SELECT doc_id, text, toks,
         CAST(len(toks) AS BIGINT) AS n_words,
         CAST(list_reduce(
             list_prepend(0, list_transform(toks, w -> CAST(length(w) AS BIGINT))),
             (a, b) -> a + b) AS BIGINT) AS tok_chars,
         CAST(length(text) - length(replace(text, '#', ''))
              + (length(text) - length(replace(text, '...', ''))) // 3
              AS BIGINT) AS n_symbols,
         CAST(len(list_filter(toks, w -> regexp_matches(w, '[a-z]')))
              AS BIGINT) AS n_alpha_words,
         CAST(len(list_intersect(list_distinct(toks),
              ['the','be','to','of','and','that','have','with']))
              AS BIGINT) AS n_stopwords
  FROM gt
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
gsurv AS (
  SELECT s.doc_id, s.source, s.text
  FROM scrubbed s JOIN gr ON gr.doc_id = s.doc_id
  WHERE gr.g_reason = 'kept'
),
kept_exact AS (SELECT min(doc_id) AS doc_id FROM gsurv GROUP BY sha256(text)),
dd AS (SELECT g.* FROM gsurv g JOIN kept_exact USING (doc_id)),
gr40a AS MATERIALIZED (
  SELECT DISTINCT doc_id, g FROM (
    SELECT doc_id, md5(substr(text, p, 40)) AS g
    FROM (SELECT doc_id, text, unnest(range(1, len(text) - 38)) AS p
          FROM dd WHERE len(text) >= 40)
  ) WHERE ('0x' || substr(g, 1, 8))::BIGINT % 10 = 0
),
gr40 AS MATERIALIZED (
  SELECT * FROM gr40a WHERE g NOT IN (
    SELECT g FROM gr40a GROUP BY g HAVING count(*) > {_MAX_GRAM_DF}
  )
),
gn AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS ng FROM gr40 GROUP BY 1),
near AS (
  SELECT DISTINCT s.doc_id FROM (
    SELECT b.doc_id, a.doc_id AS aid, CAST(count(*) AS BIGINT) AS shared
    FROM gr40 b JOIN gr40 a ON a.g = b.g AND a.doc_id < b.doc_id
    GROUP BY 1, 2
  ) s JOIN gn ON gn.doc_id = s.doc_id
  WHERE s.shared * 1000 >= 800 * gn.ng
),
nd AS (
  SELECT * FROM dd WHERE doc_id NOT IN (SELECT doc_id FROM near)
),
egr AS (
  SELECT DISTINCT g FROM (
    SELECT md5(substr(text, p, 40)) AS g
    FROM (SELECT text, unnest(range(1, len(text) - 38)) AS p
          FROM scrubbed
          WHERE doc_id < 100000 AND substr(md5(text), 1, 1) = '0'
            AND len(text) >= 40)
  ) WHERE ('0x' || substr(g, 1, 8))::BIGINT % 10 = 0
),
contaminated AS (
  SELECT DISTINCT doc_id FROM gr40
  WHERE g IN (SELECT g FROM egr)
    AND doc_id IN (SELECT doc_id FROM nd)
),
cl AS MATERIALIZED (
  SELECT * FROM nd WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
),
ct AS (SELECT doc_id, {_TOKS_SQL} AS t FROM cl),
seq AS (
  SELECT doc_id, unnest(t) AS w, generate_subscripts(t, 1) AS pos
  FROM ct WHERE len(t) >= 2
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
scored AS (
  SELECT b.doc_id, ({_KN_FLU_P_SQL}) AS p_u6
  FROM bg b
  LEFT JOIN c   ON c.w1 = b.w1 AND c.w2 = b.w2
  LEFT JOIN w1s s1 ON s1.w1 = b.w1
  LEFT JOIN w2s s2 ON s2.w2 = b.w2
  CROSS JOIN nt
),
per AS MATERIALIZED (
  SELECT doc_id, CAST(sum(p_u6) AS BIGINT) // count(*) AS fluency_u6
  FROM scored GROUP BY 1
),
samp AS MATERIALIZED (
  SELECT doc_id, fluency_u6 FROM per
  WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 5, 4))::BIGINT % 4 < 3
),
sn AS (SELECT CAST(count(*) AS BIGINT) AS ns FROM samp),
sranked AS MATERIALIZED (
  SELECT fluency_u6,
         row_number() OVER (ORDER BY fluency_u6 DESC, doc_id ASC) AS srk
  FROM samp
),
th AS (
  SELECT
    (SELECT fluency_u6 FROM sranked, sn
     WHERE srk = greatest(ns // 3, 1)) AS t_head,
    (SELECT fluency_u6 FROM sranked, sn
     WHERE srk = greatest((2 * ns) // 3, 1)) AS t_mid
),
cc AS MATERIALIZED (
  SELECT p.doc_id, p.fluency_u6,
         CASE WHEN p.fluency_u6 >= th.t_head THEN 'head'
              WHEN p.fluency_u6 >= th.t_mid THEN 'middle'
              ELSE 'tail' END AS bucket,
         CASE WHEN p.fluency_u6 >= th.t_head THEN 1
              WHEN p.fluency_u6 >= th.t_mid THEN
                CAST(('0x' || substr(md5(CAST(p.doc_id AS VARCHAR)), 1, 4))::BIGINT % 2 = 0 AS INT)
              ELSE
                CAST(('0x' || substr(md5(CAST(p.doc_id AS VARCHAR)), 1, 4))::BIGINT % 8 = 0 AS INT)
              END AS cc_keep
  FROM per p CROSS JOIN th
),
mixin AS MATERIALIZED (
  SELECT cl.doc_id, cl.source
  FROM cl JOIN cc ON cc.doc_id = cl.doc_id WHERE cc.cc_keep = 1
),
mix AS MATERIALIZED ({mix_sql}),
dwords AS MATERIALIZED (
  SELECT doc_id, unnest({_TOKS_SQL}) AS w
  FROM (SELECT m.doc_id, s.text
        FROM mix m JOIN scrubbed s ON s.doc_id = m.doc_id)
),
vsym AS (
  SELECT w, chr(9) || array_to_string(
           list_transform(generate_series(1, len(w)), i -> substr(w, i, 1)),
           chr(10) || chr(9)) || chr(10) AS s
  FROM (SELECT DISTINCT w FROM dwords)
),
vapplied AS MATERIALIZED (
  SELECT w, CAST({n_after} AS BIGINT) AS na
  FROM (SELECT w, {applied} AS s2 FROM vsym)
),
counts AS (
  SELECT doc_id, CAST(sum(v.na) AS BIGINT) AS n_tok
  FROM dwords d JOIN vapplied v USING (w) GROUP BY doc_id
),
bins AS (
  SELECT doc_id, n_tok,
         CAST(tok_start // {_LCP_BUDGET} AS BIGINT) AS first_bin,
         CAST(greatest(tok_start // {_LCP_BUDGET},
                       (tok_start + n_tok - 1) // {_LCP_BUDGET})
              - tok_start // {_LCP_BUDGET} + 1 AS BIGINT) AS n_bins
  FROM (
    SELECT doc_id, n_tok,
           CAST(COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS BIGINT) AS tok_start
    FROM counts
  )
)
SELECT s.doc_id, s.n_pii,
       CASE WHEN c4.c4_reason != 'kept' THEN 'c4:' || c4.c4_reason
            WHEN gr.g_reason != 'kept' THEN 'gopher:' || gr.g_reason
            WHEN ke.doc_id IS NULL THEN 'exact_dup'
            WHEN nr.doc_id IS NOT NULL THEN 'near_dup'
            WHEN co.doc_id IS NOT NULL THEN 'contaminated'
            WHEN cc.doc_id IS NULL THEN 'short'
            WHEN cc.cc_keep = 0 THEN 'ppl_sample'
            WHEN mx.doc_id IS NULL THEN 'mix_sample'
            ELSE 'kept' END AS drop_reason,
       COALESCE(cc.fluency_u6, CAST(-1 AS BIGINT)) AS fluency_u6,
       COALESCE(cc.bucket, 'dropped') AS bucket,
       COALESCE(b.n_tok, CAST(-1 AS BIGINT)) AS n_tok,
       COALESCE(b.first_bin, CAST(-1 AS BIGINT)) AS first_bin,
       COALESCE(b.n_bins, CAST(0 AS BIGINT)) AS n_bins,
       CAST(b.doc_id IS NOT NULL AS INT) AS keep
FROM scrubbed s
LEFT JOIN c4 ON c4.doc_id = s.doc_id
LEFT JOIN gr ON gr.doc_id = s.doc_id
LEFT JOIN kept_exact ke ON ke.doc_id = s.doc_id
LEFT JOIN near nr ON nr.doc_id = s.doc_id
LEFT JOIN contaminated co ON co.doc_id = s.doc_id
LEFT JOIN cc ON cc.doc_id = s.doc_id
LEFT JOIN mix mx ON mx.doc_id = s.doc_id
LEFT JOIN bins b ON b.doc_id = s.doc_id
"""


@register("llm_corpus_pipeline", _llm_corpus_oracle())
def llm_corpus_pipeline(spark, sf_dir):
    """The LLM training-corpus megapipeline (r14 capstone, VERDICT r13
    #3): ten shipped stages in the production order, one lazy DAG, one
    per-document manifest whose drop_reason column IS the stage funnel.

    Corpus: every doc rendered as a 4-line page of its leading sentence,
    one planted violator class per stage (PII line %13 — scrubbed and
    KEPT, its redacted [email]/[phone] count as words downstream;
    javascript line %17 — line-dropped, page kept; 2-line page %19;
    lorem %23; '###' symbol spam %29; digits-only %31), plus +200000
    exact re-uploads (%7) and +100000 first-line-stripped near-copies
    (%10). Stages: pii_scrub -> c4_line_rules -> gopher_rules (5
    word-level rules, line rules neutralized as in curation_gopher_ccnet)
    -> exact dedup (sha256 min-id) -> near dedup (40-char sampled-gram
    containment >= 800 permille vs any smaller-id survivor; grams with
    df > MAX_GRAM_DF are boilerplate stopwords — rule 13 — and leave the
    pair join, the ng denominator, AND decontam matching, where a shared
    footer gram is a false contamination positive: at sf0.01 the cap
    removes exactly the %13 PII-line and %17 javascript-line grams,
    df 42/29) -> substring
    decontam vs the md5-sliced eval set (content-keyed 1/16 of original
    pages; an eval page in the corpus contaminates itself — the
    benchmark-copy story) -> CCNet fluency terciles with the APPROX
    sampled-threshold cut (the 100 TB swap-out: two broadcast scalars,
    no corpus-wide rank) + head/middle/tail md5 sampling -> alpha=1/2
    temperature source mixing (operators/sampling.temperature_mixture)
    -> tokenize under the FROZEN 64-merge BPE artifact (rank-based
    vocabulary-factored apply) -> pack into 512-token bins (two-level
    prefix sum). The oracle replays all ten stages including the 64
    materialized tokenizer rounds — the hash pins composition order and
    precedence, not just each stage. sf0.01 funnel (622 corpus rows):
    c4 drops 51 (few_sentences 28 / lorem 23), gopher drops 49 (alpha 18
    / symbol 18 / stop 13), exact_dup 72, near_dup 43, contaminated 33
    (88 before the gram-df cap — the 55 removed were boilerplate-gram
    false positives), ppl_sample 182, mix_sample 90 -> 102 kept docs,
    7057 BPE tokens packed into 14 bins. Nothing vacuous — every stage
    drops a planted class. Scale shape: the scrubbed corpus is checkpointed once
    (the natural materialization point — at 100 TB this is the hive
    table between ingest and curation); everything downstream is
    id-equi joins, banded gram joins, one bigram LM over survivors, a
    broadcast threshold/ratio pair, and the packing prefix sum."""
    from ..operators.dedup import MAX_GRAM_DF, sampled_grams
    from ..operators.packing import pack_spans
    from ..operators.sampling import temperature_mixture
    from ..plans.spread import spread
    from pyspark.sql.window import Window

    docs = load_docs(spark, sf_dir)
    toks = T.tokens_expr("text")
    line0 = F.concat(F.array_join(F.slice(toks, 1, 6), " "), F.lit("."))
    line = F.concat(F.lit("the "), line0)
    nl = F.lit("\n")
    base = docs.select(
        "doc_id", "source", line.alias("l"), line0.alias("l0")
    )
    base4 = F.concat(
        F.col("l"), nl, F.col("l"), nl, F.col("l"), nl, F.col("l")
    )
    base0 = F.concat(
        F.col("l0"), nl, F.col("l0"), nl, F.col("l0"), nl, F.col("l0")
    )
    page = (
        F.when(
            F.col("doc_id") % 13 == 0,
            F.concat(
                base4, nl,
                F.lit(
                    "contact me at john.doe@example.com or call"
                    " 800-555-0100 right away."
                ),
            ),
        )
        .when(
            F.col("doc_id") % 17 == 0,
            F.concat(
                base4, nl,
                F.lit("please enable javascript to continue viewing."),
            ),
        )
        .when(F.col("doc_id") % 19 == 0, F.concat(F.col("l"), nl, F.col("l")))
        .when(
            F.col("doc_id") % 23 == 0,
            F.concat(
                base4, nl, F.lit("lorem ipsum dolor sit amet consectetur.")
            ),
        )
        .when(
            F.col("doc_id") % 29 == 0,
            F.concat(base4, nl, F.expr("rtrim(repeat('### ', 24))"), F.lit(".")),
        )
        .when(
            F.col("doc_id") % 31 == 0,
            F.regexp_replace(base4, "[a-z]+", "123"),
        )
        .when(F.col("doc_id") % 37 == 0, base0)
        .otherwise(base4)
    )
    pages = base.select("doc_id", "source", page.alias("text"))
    corpus = (
        pages.unionByName(
            pages.filter(F.col("doc_id") % 7 == 0).select(
                (F.col("doc_id") + 200000).alias("doc_id"), "source", "text"
            )
        )
        .unionByName(
            pages.filter(F.col("doc_id") % 10 == 0).select(
                (F.col("doc_id") + 100000).alias("doc_id"),
                "source",
                F.expr("substring(text, instr(text, '\n') + 1)").alias(
                    "text"
                ),
            )
        )
    )
    from ..operators.textstats import (
        PII_EMAIL_RE,
        PII_IPV4_RE,
        PII_PHONE_RE,
        pii_scrubbed_text,
    )

    lt = F.lower(F.col("text"))
    n_pii = (
        F.size(F.regexp_extract_all(lt, F.lit(PII_EMAIL_RE), F.lit(0)))
        + F.size(F.regexp_extract_all(lt, F.lit(PII_PHONE_RE), F.lit(0)))
        + F.size(F.regexp_extract_all(lt, F.lit(PII_IPV4_RE), F.lit(0)))
    ).cast("long")
    # the scrubbed corpus is consumed by EVERY downstream stage — the one
    # deliberate materialization (rule 4; at 100 TB this is the persisted
    # post-scrub table). r15 optimization: BOTH quality batteries are
    # pure per-row projections, so they ride the same map stage as the
    # scrub and land IN the checkpoint as reason columns — before this
    # round the c4→gopher chain re-executed in every downstream branch
    # that needed the survivor set (hot-gram build, survivor probe, cl,
    # manifest: 4-5x per run, measured in OPTIMIZATION_r15.md).
    # Evaluating gopher on ALL docs instead of C4 survivors is per-row
    # identical (doc-level rules) and the manifest's reason CASE checks
    # c4 first, so drop_reason precedence is unchanged.
    c4f = T.c4_line_rules(
        spread(corpus, "doc_id").select(
            "doc_id",
            "source",
            n_pii.alias("n_pii"),
            pii_scrubbed_text("text").alias("text"),
        ),
        carry=("source", "n_pii", "text"),
    ).select(
        "doc_id",
        "source",
        "n_pii",
        "text",
        F.col("drop_reason").alias("c4_reason"),
    )
    scrubbed = materialize(
        T.gopher_rules(
            c4f,
            carry=("source", "n_pii", "text", "c4_reason"),
            **T.CORPUS_GATE_GOPHER,
        )
        .select(
            "doc_id",
            "source",
            "n_pii",
            "text",
            "c4_reason",
            F.col("drop_reason").alias("g_reason"),
        )
    )
    gsurv = scrubbed.filter(
        (F.col("c4_reason") == "kept") & (F.col("g_reason") == "kept")
    )
    kept_exact = gsurv.groupBy(F.sha2("text", 256).alias("_h")).agg(
        F.min("doc_id").alias("doc_id")
    ).select("doc_id")
    dd = gsurv.join(kept_exact, "doc_id", "left_semi")
    # the gram sample is consumed by the hot-gram aggregate AND the capped
    # probe side — checkpoint the UNCAPPED table once so the per-char md5
    # explode runs once per bench run (it ran twice before: the hot_g
    # branch re-derived the whole c4→gopher→dedup→grams chain)
    grams_all = materialize(sampled_grams(dd).select("doc_id", "g").distinct())
    # rule 13: grams carried by > MAX_GRAM_DF docs are boilerplate (shared
    # disclaimers/footers) — they leave the pair join, the containment
    # denominator, AND decontam matching; the oracle's gr40 CTE mirrors
    # the cap. Without it the gram self-join is quadratic in boilerplate
    # class size (planted class in tools/scale_check.py, table in
    # SCALE.md).
    hot_g = (
        grams_all.groupBy("g")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") > MAX_GRAM_DF)
        .select("g")
    )
    # the capped anti-join is a cheap checkpoint-scan + broadcast per
    # consumer — no second materialization needed
    grams = grams_all.join(F.broadcast(hot_g), "g", "left_anti")
    gn = grams.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("ng"))
    ga = grams.select(F.col("doc_id").alias("aid"), "g")
    pair = (
        grams.join(ga, "g")
        .filter(F.col("aid") < F.col("doc_id"))
        .groupBy("doc_id", "aid")
        .agg(F.count(F.lit(1)).cast("long").alias("shared"))
    )
    near = (
        pair.join(gn, "doc_id")
        .filter(F.col("shared") * 1000 >= 800 * F.col("ng"))
        .select("doc_id")
        .distinct()
    )
    eval_docs = scrubbed.filter(
        (F.col("doc_id") < 100000)
        & (F.substring(F.md5("text"), 1, 1) == "0")
    ).select("doc_id", "text")
    egr = sampled_grams(eval_docs).select("g").distinct()
    # r15 optimization: decontam probes the WHOLE dd gram table instead of
    # nd's (grams already covers exactly dd's docs, so the old
    # nd-semi-join is a no-op restriction for the output: a doc in both
    # `near` and `contaminated` reads near_dup either way — the reason
    # CASE checks _nr first — and cl subtracts both sets, so
    # dd−near−co(dd) == dd−near−co(nd)). This breaks contaminated's
    # dependence on `near`, so the expensive pair join appears exactly
    # ONCE in the stage-flag checkpoint job below instead of twice.
    contaminated = (
        grams.join(egr, "g", "left_semi").select("doc_id").distinct()
    )
    # one narrow per-survivor flag table, checkpointed once: the survivor
    # branch (LM + mixing) AND the manifest both read it, so exact/near/
    # decontam flags are computed once per bench run (the manifest's
    # ke/nr/co flag joins previously re-ran the pair join + dedup chain a
    # second time in the final pass)
    stage = materialize(
        kept_exact.withColumn("_ke", F.lit(1))
        .join(near.withColumn("_nr", F.lit(1)), "doc_id", "left")
        .join(contaminated.withColumn("_co", F.lit(1)), "doc_id", "left")
    )
    cl = scrubbed.join(
        stage.filter(F.col("_nr").isNull() & F.col("_co").isNull()).select(
            "doc_id"
        ),
        "doc_id",
        "left_semi",
    )
    surv = (
        cl.select("doc_id", T.tokens_expr("text").alias("toks"))
        .filter(F.size("toks") >= 2)
        .select("doc_id", F.lit("orig").alias("variant"), "toks")
    )
    per = materialize(  # thresholds + assignment reuse scores
        T.kn_fluency_scores(surv, materialize_bigrams=False)
        .select("doc_id", "fluency_u6")
    )
    w = Window.orderBy(F.col("fluency_u6").desc(), F.col("doc_id").asc())
    qres = F.expr(
        "cast(conv(substr(md5(cast(doc_id as string)), 5, 4), 16, 10)"
        " as bigint)"
    )
    samp = per.filter(qres % 4 < 3)
    sn = samp.agg(F.count(F.lit(1)).cast("long").alias("ns"))
    sranked = samp.withColumn("srk", F.row_number().over(w)).crossJoin(
        F.broadcast(sn)
    )
    th = sranked.select(
        F.when(
            F.col("srk")
            == F.greatest(F.expr("ns div 3"), F.lit(1).cast("long")),
            F.col("fluency_u6"),
        ).alias("_th"),
        F.when(
            F.col("srk")
            == F.greatest(F.expr("(2 * ns) div 3"), F.lit(1).cast("long")),
            F.col("fluency_u6"),
        ).alias("_tm"),
    ).agg(F.max("_th").alias("t_head"), F.max("_tm").alias("t_mid"))
    res = F.expr(
        "cast(conv(substr(md5(cast(doc_id as string)), 1, 4), 16, 10)"
        " as bigint)"
    )
    # consumed by the mix gate AND the manifest — one checkpoint stops
    # the sampled-threshold window subtree executing in both
    cc = materialize(
        per.crossJoin(F.broadcast(th))
        .select(
            "doc_id",
            "fluency_u6",
            F.when(F.col("fluency_u6") >= F.col("t_head"), F.lit("head"))
            .when(F.col("fluency_u6") >= F.col("t_mid"), F.lit("middle"))
            .otherwise(F.lit("tail"))
            .alias("bucket"),
            F.when(F.col("fluency_u6") >= F.col("t_head"), F.lit(1))
            .when(
                F.col("fluency_u6") >= F.col("t_mid"),
                (res % 2 == 0).cast("int"),
            )
            .otherwise((res % 8 == 0).cast("int"))
            .alias("cc_keep"),
        )
    )
    mixin = cl.select("doc_id", "source").join(
        cc.filter(F.col("cc_keep") == 1).select("doc_id"),
        "doc_id",
        "left_semi",
    )
    # the mix keep-set is consumed twice (manifest flag + the BPE/packing
    # chain's kept_docs) — without the checkpoint the whole
    # mixture/cc/threshold subtree executes twice in the final pass
    mixed = materialize(
        temperature_mixture(mixin, "source", "doc_id", 0.5)
        .select("doc_id")
    )
    kept_docs = scrubbed.join(mixed, "doc_id", "left_semi").select(
        "doc_id", "text"
    )
    merges = _bpe_merges_artifact(spark, sf_dir, n_merges=_BPE_MERGES_BIG)
    counts = T.bpe_tokenize_counts_scalable(kept_docs, merges).select(
        "doc_id", F.col("n_tokens_after").cast("long").alias("n_tok")
    )
    bins = pack_spans(counts, _LCP_BUDGET).select(
        "doc_id", "n_tok", "first_bin", "n_bins"
    )
    mx_flag = mixed.withColumn("_mx", F.lit(1))
    # 4 doc_id-keyed left joins instead of 8: the battery reasons are
    # columns of the scrubbed checkpoint, and ke/nr/co collapsed into the
    # stage-flag checkpoint
    man = (
        scrubbed.select("doc_id", "n_pii", "c4_reason", "g_reason")
        .join(stage, "doc_id", "left")
        .join(cc, "doc_id", "left")
        .join(mx_flag, "doc_id", "left")
        .join(bins, "doc_id", "left")
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
        .when(F.col("_ke").isNull(), F.lit("exact_dup"))
        .when(F.col("_nr").isNotNull(), F.lit("near_dup"))
        .when(F.col("_co").isNotNull(), F.lit("contaminated"))
        .when(F.col("cc_keep").isNull(), F.lit("short"))
        .when(F.col("cc_keep") == 0, F.lit("ppl_sample"))
        .when(F.col("_mx").isNull(), F.lit("mix_sample"))
        .otherwise(F.lit("kept"))
    )
    return man.select(
        "doc_id",
        "n_pii",
        reason.alias("drop_reason"),
        F.coalesce("fluency_u6", F.lit(-1).cast("long")).alias("fluency_u6"),
        F.coalesce("bucket", F.lit("dropped")).alias("bucket"),
        F.coalesce("n_tok", F.lit(-1).cast("long")).alias("n_tok"),
        F.coalesce("first_bin", F.lit(-1).cast("long")).alias("first_bin"),
        F.coalesce("n_bins", F.lit(0).cast("long")).alias("n_bins"),
        F.col("n_tok").isNotNull().cast("int").alias("keep"),
    )
