"""Text-analysis operators for training-data pipelines (build-plan §7
Phase 4): language-ID, quality scoring, token counting, fingerprinting.

All pure Catalyst expressions (regex + array ops), so they run JVM-side in
whole-stage codegen and scale linearly — no Python in the hot path. Regex
patterns are restricted to syntax Java regex and RE2 (DuckDB) agree on.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..obs import materialize
from .dedup import tokens_expr

# Minimal stopword lists for the n-gram/stopword-hit language heuristic.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is"),
    "de": ("der", "die", "das", "und", "ist", "ein"),
    "fr": ("le", "la", "les", "et", "est", "un"),
    "es": ("el", "los", "las", "y", "es", "un"),
}
LANG_ORDER = tuple(sorted(STOPWORDS))  # tie-break: alphabetical


def lang_hit_counts(toks: Column) -> dict[str, Column]:
    """Stopword hits per language over a materialized token-array column
    (materialized to avoid per-reference re-tokenization — see
    dedup.shingles_from_tokens)."""
    out = {}
    for lang, words in STOPWORDS.items():
        hits = F.filter(toks, lambda t: t.isin(*words))
        out[lang] = F.size(hits)
    return out


def lang_id(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, per-lang scores, predicted_lang); 'unknown' when no stopword of
    any language occurs. Ties resolve to the alphabetically first language."""
    tokenized = docs.select(F.col(id_col), tokens_expr(text_col).alias("_toks"))
    scores = lang_hit_counts(F.col("_toks"))
    cols = [scores[lang].alias(f"score_{lang}") for lang in LANG_ORDER]
    scored = tokenized.select(F.col(id_col), *cols)
    best = F.greatest(*[F.col(f"score_{lang}") for lang in LANG_ORDER])
    pred = F.when(best == 0, "unknown")
    for lang in LANG_ORDER:
        pred = pred.when(F.col(f"score_{lang}") == best, lang)
    return scored.withColumn("predicted_lang", pred)


_ASCII_LETTERS = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ"
_ASCII_DIGITS = "0123456789"
_WS_CHARS = " \t\n"


def quality_metrics(text_col: str, toks: Column | None = None) -> dict[str, Column]:
    """Heuristic quality signals: char-class ratios + mean token length.
    Integer counts divided as doubles — engine-exact. Pass a materialized
    token-array column for hot paths (else tokens re-derive per metric).

    Char-class counts use ``translate`` (single char-map scan) rather than
    ``regexp_replace`` — same per-char delete count, no regex NFA per class
    (VERDICT r8 watch #1: three regex passes per row dominated the query)."""
    n = F.length(text_col).cast("double")
    if toks is None:
        toks = tokens_expr(text_col)

    def class_count(charset: str) -> Column:
        return F.length(text_col) - F.length(F.translate(text_col, charset, ""))

    alpha = class_count(_ASCII_LETTERS).cast("double")
    digit = class_count(_ASCII_DIGITS).cast("double")
    space = class_count(_WS_CHARS).cast("double")
    tok_chars = F.aggregate(
        toks, F.lit(0), lambda acc, t: acc + F.length(t)
    ).cast("double")
    n_toks = F.size(toks).cast("double")
    return {
        "n_chars": F.length(text_col).cast("bigint"),
        "n_tokens": F.size(toks).cast("bigint"),
        "alpha_ratio": F.when(n > 0, alpha / n).otherwise(F.lit(0.0)),
        "digit_ratio": F.when(n > 0, digit / n).otherwise(F.lit(0.0)),
        "space_ratio": F.when(n > 0, space / n).otherwise(F.lit(0.0)),
        "mean_token_len": F.when(n_toks > 0, tok_chars / n_toks).otherwise(F.lit(0.0)),
    }


def ngrams_from_tokens(toks: Column, n: int) -> Column:
    """NON-distinct word n-grams (space-joined) from a token-array column —
    unlike dedup.shingles_from_tokens, keeps every occurrence: repetition
    metrics need the counts that array_distinct would destroy."""
    make = F.transform(
        F.sequence(F.lit(1), F.size(toks) - n + 1),
        lambda i: F.array_join(F.slice(toks, i, n), " "),
    )
    return F.when(F.size(toks) >= n, make).otherwise(
        F.array().cast("array<string>")
    )


def repetition_metrics(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_n: int = 2,
    dup_n: int = 5,
) -> DataFrame:
    """Gopher-style repetition quality signals (Rae et al. 2021, "Scaling
    Language Models", table A1 — the word-level rules; the line-level rules
    degenerate on single-line docs):

      * unique_token_ratio — distinct / total tokens;
      * top{top_n}_char_frac — fraction of token characters covered by the
        best-covering top_n-gram (count x gram char length, spaces excluded);
      * dup{dup_n}_char_frac — fraction of token characters lying inside at
        least one dup_n-gram that occurs more than once. Overlapping
        occurrences are NOT double-counted: duplicated grams are expanded to
        the token positions they span, positions deduped, then their token
        lengths summed — so the fraction is a true <= 1 coverage, unlike
        the count x length shortcut.

    Dataflow: one tokenize, two n-gram explodes, each reduced by a
    (doc, gram) count; the dup path adds a position expansion (explode of a
    <= dup_n-long sequence per duplicated occurrence) and a distinct —
    every shuffle is keyed on (id, gram) or (id, position), linear in
    corpus size. All counts stay BIGINT until a single final division, so
    the doubles are engine-exact. The token projection feeds three branches
    of the DAG; pass ``toks`` precomputed AND PERSISTED to avoid running
    tokenization three times — the caller owns the cache lifecycle
    (an operator-internal persist would leak one cached corpus per call).
    At cluster scale make it a materialized intermediate table instead.
    """
    toks_df = docs.select(F.col(id_col), tokens_expr(text_col).alias("_toks"))
    n_toks = F.size("_toks")
    totals = toks_df.select(
        F.col(id_col),
        n_toks.cast("bigint").alias("n_tokens"),
        F.aggregate("_toks", F.lit(0), lambda a, t: a + F.length(t))
        .cast("bigint")
        .alias("tok_chars"),
        F.when(
            n_toks > 0,
            F.size(F.array_distinct("_toks")).cast("double") / n_toks,
        )
        .otherwise(F.lit(0.0))
        .alias("unique_token_ratio"),
    )

    charlen = F.length(F.translate("g", " ", ""))
    top = (
        toks_df.select(
            F.col(id_col),
            F.explode(ngrams_from_tokens(F.col("_toks"), top_n)).alias("g"),
        )
        .groupBy(id_col, "g")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy(id_col)
        .agg(F.max(F.col("cnt") * charlen).cast("bigint").alias("top_chars"))
    )
    # dup path: gram + its 1-based start position, so duplicated grams can
    # be expanded to covered token positions and deduped before summing.
    g_pos = toks_df.select(
        F.col(id_col),
        F.posexplode(ngrams_from_tokens(F.col("_toks"), dup_n)).alias(
            "pos0", "g"
        ),
    )
    dup_grams = (
        g_pos.groupBy(id_col, "g")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") > 1)
        .select(id_col, "g")
    )
    covered = (
        g_pos.join(dup_grams, [id_col, "g"])
        .select(
            F.col(id_col),
            F.explode(
                F.sequence(F.col("pos0") + 1, F.col("pos0") + dup_n)
            ).alias("tp"),
        )
        .distinct()
    )
    tok_pos = toks_df.select(
        F.col(id_col), F.posexplode("_toks").alias("tp0", "token")
    ).select(
        F.col(id_col),
        (F.col("tp0") + 1).alias("tp"),
        F.length("token").alias("tlen"),
    )
    dup = (
        covered.join(tok_pos, [id_col, "tp"])
        .groupBy(id_col)
        .agg(F.sum("tlen").cast("bigint").alias("dup_chars"))
    )
    frac = lambda c: (  # noqa: E731
        F.when(
            F.col("tok_chars") > 0,
            F.coalesce(c, F.lit(0)).cast("double") / F.col("tok_chars"),
        ).otherwise(F.lit(0.0))
    )
    return (
        totals.join(top, id_col, "left")
        .join(dup, id_col, "left")
        .select(
            F.col(id_col),
            "n_tokens",
            "unique_token_ratio",
            frac(F.col("top_chars")).alias(f"top{top_n}_char_frac"),
            frac(F.col("dup_chars")).alias(f"dup{dup_n}_char_frac"),
        )
    )


def token_count_bpe_ish(text_col: str) -> Column:
    """BPE-ish token count: runs of letters, runs of digits, or single
    non-alnum-non-space chars (a cheap proxy for subword tokenizers)."""
    return F.regexp_count(F.lower(F.col(text_col)), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"))


def fingerprint(
    docs: DataFrame, n: int = 5, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Document fingerprint: the minimum md5 over word n-gram shingles (a
    1-hash minhash — winnowing's keep-the-min rule at document granularity).
    Deterministic, portable, and stable under small edits elsewhere in the
    doc only when the minimal shingle survives."""
    from .dedup import shingles_from_tokens, tokens_expr

    with_sh = docs.select(
        F.col(id_col), tokens_expr(text_col).alias("_toks")
    ).select(
        F.col(id_col),
        shingles_from_tokens(F.col("_toks"), n).alias("_sh"),
    )
    sh = F.col("_sh")
    return with_sh.select(
        F.col(id_col),
        F.size(sh).alias("n_shingles"),
        F.array_min(F.transform(sh, lambda s: F.md5(s))).alias("fingerprint"),
    )


# BPE symbol-table representation: every symbol is individually WRAPPED as
# "\t<sym>\n" and the wrapped symbols concatenated, so a word with symbols
# [c, at, h, e] is stored as "\tc\n\tat\n\th\n\te\n". Tokens come from a
# \s+ split (tokens_expr), so no symbol can contain either sentinel, and a
# merge of (L, R) is the POSITIONAL replace "\tL\n\tR\n" -> "\tLR\n": the
# pattern can only match a full adjacent symbol pair. (ADVICE r7, high: the
# previous space-joined form merged via bare replace('L R' -> 'LR'), which
# falsely matched ACROSS symbol boundaries — [c, at, h, e] with merge
# 't h' became [c, ath, e].) Adjacent wrapped matches share no characters,
# and both Spark's and DuckDB's replace() scan left-to-right over
# non-overlapping occurrences, which is exactly BPE's greedy merge order
# ([a, a, a] with merge (a, a) becomes [aa, a], never [a, aa]).
_SYM_OPEN = "\t"
_SYM_CLOSE = "\n"


def _wrap_pair(pair: str) -> tuple[str, str]:
    """(pattern, replacement) for one merge, given the external space-joined
    'L R' pair form (symbols never contain a space)."""
    left, right = pair.split(" ")
    pat = _SYM_OPEN + left + _SYM_CLOSE + _SYM_OPEN + right + _SYM_CLOSE
    rep = _SYM_OPEN + left + right + _SYM_CLOSE
    return pat, rep


def _symbols(s: Column) -> Column:
    """Symbol ARRAY from the wrapped representation: strip the outer
    sentinels, then split on the inter-symbol '\\n\\t' seam."""
    return F.split(s.substr(F.lit(2), F.length(s) - 2), _SYM_CLOSE + _SYM_OPEN)


def bpe_symbol_init(words: DataFrame, word_col: str = "w") -> DataFrame:
    """Initial BPE state: each distinct word as a wrapped character
    sequence (see representation note above) plus its corpus frequency."""
    chars = F.transform(
        F.sequence(F.lit(1), F.length(word_col)),
        lambda i: F.col(word_col).substr(i, F.lit(1)),
    )
    return words.select(
        F.col("n"),
        F.concat(
            F.lit(_SYM_OPEN),
            F.array_join(chars, _SYM_CLOSE + _SYM_OPEN),
            F.lit(_SYM_CLOSE),
        ).alias("s"),
    )


def bpe_pair_stats(sym: DataFrame) -> DataFrame:
    """Adjacent-symbol-pair frequencies (weighted by word frequency) of the
    current symbol table — the statistic whose argmax picks the next merge.
    Pairs are reported in the external space-joined 'L R' form. Counts are
    exact integer sums, so the result is partition-independent. Map-side
    partial aggregation; ONE shuffle on the pair key."""
    ls = _symbols(F.col("s"))
    pairs = F.when(
        F.size(ls) >= 2,
        F.transform(
            F.slice(ls, 1, F.size(ls) - 1),
            lambda t, i: F.concat(t, F.lit(" "), F.get(ls, i + 1)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        sym.select("n", F.explode(pairs).alias("pair"))
        .groupBy("pair")
        .agg(F.sum("n").cast("long").alias("cnt"))
    )


def bpe_apply_merge(sym: DataFrame, pair: str) -> DataFrame:
    """Apply one merge to every word: positional replace of the wrapped
    pair "\\tL\\n\\tR\\n" -> "\\tLR\\n" (see representation note — this
    cannot match inside a multi-character symbol). Left-to-right
    non-overlapping replace IS BPE's greedy merge order."""
    pat, rep = _wrap_pair(pair)
    return sym.select(
        "n",
        F.replace(F.col("s"), F.lit(pat), F.lit(rep)).alias("s"),
    )


def bpe_train(
    docs: DataFrame,
    n_merges: int = 3,
    text_col: str = "text",
    checkpoint_every: int = 8,
    debug_state: dict | None = None,
) -> DataFrame:
    """Iterative BPE trainer (Sennrich et al. 2016), the fixed-point-exact
    loop pattern kmeans_lloyd established: all evolving state is integer
    (pair counts) or exact strings (symbol tables), so every round is
    bit-identical across engines AND partitionings; ties in the argmax
    break lexicographically on the pair.

    Per round: ONE pair-count shuffle + a 1-row argmax collect (the same
    bounded driver probe the IVF nprobe read uses) + a narrow map applying
    the merge. At 100 TB the word-frequency table (the only state) is
    vocabulary-sized — millions of rows, not corpus-sized — so rounds are
    cheap regardless of corpus scale; the corpus is read exactly once to
    build it.

    ``checkpoint_every`` bounds the replace-chain depth (VERDICT r7 #2):
    every K merges the symbol table is re-localCheckpointed, so a real
    30k-merge run carries at most K chained replaces per job instead of a
    30k-deep expression tree. Job count stays one-per-merge by Sennrich
    BPE's definition (each argmax depends on the previous merge); see
    SCALE.md for the posture.

    ``debug_state`` (tests only): when a dict is passed, the final symbol
    DataFrame is stored under ``"sym"`` so tests can pin the chain depth.

    Returns (merge_round, pair, cnt): the ordered merge table a tokenizer
    would ship."""
    spark = docs.sparkSession
    toks = docs.select(F.explode(tokens_expr(text_col)).alias("w"))
    words = toks.groupBy("w").agg(F.count(F.lit(1)).alias("n"))
    # materialize the (tiny, vocabulary-sized) word-frequency table once:
    # without this every round re-tokenizes the corpus under the growing
    # replace chain
    sym = materialize(bpe_symbol_init(words))
    merges: list[tuple[int, str, int]] = []
    for r in range(1, n_merges + 1):
        best = (
            bpe_pair_stats(sym)
            .orderBy(F.col("cnt").desc(), F.col("pair").asc())
            .limit(1)
            .collect()
        )
        if not best:
            break
        merges.append((r, best[0]["pair"], int(best[0]["cnt"])))
        sym = bpe_apply_merge(sym, best[0]["pair"])
        if r % checkpoint_every == 0:
            sym = materialize(sym)
    if debug_state is not None:
        debug_state["sym"] = sym
    return spark.createDataFrame(
        merges, "merge_round int, pair string, cnt bigint"
    )


def bpe_tokenize_counts(
    docs: DataFrame,
    merges: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply an ORDERED merge list (from :func:`bpe_train`) to every token
    occurrence and count per-doc symbols before/after — the tokenizer
    APPLICATION half of the trainer, i.e. what a token-budget estimator
    runs over a corpus. Narrow map (chained literal replaces, codegen) +
    one groupBy(id); docs with zero tokens produce no row."""
    toks = docs.select(F.col(id_col), F.explode(tokens_expr(text_col)).alias("w"))
    chars = F.transform(
        F.sequence(F.lit(1), F.length("w")),
        lambda i: F.col("w").substr(i, F.lit(1)),
    )
    s = F.concat(
        F.lit(_SYM_OPEN),
        F.array_join(chars, _SYM_CLOSE + _SYM_OPEN),
        F.lit(_SYM_CLOSE),
    )
    for pair in merges:
        pat, rep = _wrap_pair(pair)
        s = F.replace(s, F.lit(pat), F.lit(rep))
    return (
        toks.select(
            F.col(id_col),
            F.length("w").alias("_nb"),
            F.size(_symbols(s)).alias("_na"),
        )
        .groupBy(id_col)
        .agg(
            F.sum("_nb").cast("long").alias("n_symbols_before"),
            F.sum("_na").cast("long").alias("n_tokens_after"),
        )
    )


def _merge_word(s: tuple, left: str, right: str) -> tuple:
    """Apply one merge to one word, left-to-right non-overlapping —
    str.replace order == F.replace order == SQL replace order on the
    wrapped form."""
    out: list[str] = []
    i = 0
    while i < len(s):
        if i < len(s) - 1 and s[i] == left and s[i + 1] == right:
            out.append(left + right)
            i += 2
        else:
            out.append(s[i])
            i += 1
    return tuple(out)


def bpe_train_local(word_counts: dict, n_merges: int) -> list:
    """Driver-side exact Sennrich loop over a (word -> count) frequency
    table — the inner algorithm of :func:`bpe_train` with ZERO Spark
    jobs per merge, in the PRODUCTION shape (r13): pair counts are
    maintained INCREMENTALLY (only words containing the merged pair are
    touched, their old pairs decremented and new pairs incremented) and
    the per-round argmax is a lazy-deletion heap — so a round costs
    O(pair churn x log P), not O(vocabulary x word length), and a real
    32k-merge run is driver-feasible on a multi-million-word sample
    vocabulary. Bit-identical to the naive recount loop AND the
    distributed trainer (property-pinned): integer pair counts (all
    adjacent positions, occurrence-weighted), argmax tie-broken
    lexicographically on the external "L R" pair string — the heap
    comparator is exactly (-cnt, "L R"). Returns
    [(merge_round, pair, cnt), ...]; stops early when no pair remains
    (fully-merged vocabulary).

    Driver-memory bound (VERDICT r13 watch #2): the ``where`` sets hold,
    per live pair, the distinct sample words currently containing it, so
    Sum(|where[p]|) <= total adjacent symbol positions across the sample
    vocabulary <= total characters in the distinct-word sample — the
    same O(sample chars) that ``sym`` itself costs, NOT O(merges x
    vocab). A hot pair's set is vocabulary-sized in the worst case but
    the SUM across pairs stays bounded by sample chars (each adjacent
    position contributes one membership at a time; merges only shrink
    the total). Concretely: a 10M-distinct-word sample at ~8 chars/word
    is ~80M set memberships ~ a few GB of Python sets — inside a typical
    driver for the 32k-merge run the docstring claims; for larger
    samples, bound the sample (the contract) rather than the trainer."""
    import heapq

    sym = {w: tuple(w) for w in word_counts}
    counts: dict[tuple[str, str], int] = {}
    where: dict[tuple[str, str], set] = {}
    heap: list[tuple[int, str, tuple[str, str]]] = []

    def _bump(p: tuple, delta: int, w=None) -> None:
        c = counts.get(p, 0) + delta
        if c <= 0:
            counts.pop(p, None)
        else:
            counts[p] = c
            heapq.heappush(heap, (-c, p[0] + " " + p[1], p))
        if w is not None and delta > 0:
            where.setdefault(p, set()).add(w)

    for w, n in word_counts.items():
        s = sym[w]
        for i in range(len(s) - 1):
            _bump((s[i], s[i + 1]), n, w)

    merges: list[tuple[int, str, int]] = []
    for r in range(1, n_merges + 1):
        best = None
        while heap:
            negc, _, p = heap[0]
            if counts.get(p) == -negc:  # live entry
                best = (p, -negc)
                break
            heapq.heappop(heap)  # stale (count changed since push)
        if best is None:
            break
        (left, right), c = best
        merges.append((r, left + " " + right, c))
        for w in list(where.get((left, right), ())):
            old = sym[w]
            new = _merge_word(old, left, right)
            if new == old:  # stale membership (pair left this word)
                continue
            n = word_counts[w]
            sym[w] = new
            for i in range(len(old) - 1):
                _bump((old[i], old[i + 1]), -n)
            for i in range(len(new) - 1):
                _bump((new[i], new[i + 1]), n, w)
        where.pop((left, right), None)
    return merges


def bpe_train_sampled(
    docs: DataFrame,
    n_merges: int = 64,
    sample_mod: int | None = None,
    sample_keep: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Production-shape BPE trainer (VERDICT r12 #1): tokenizers train on
    a bounded, deterministic SAMPLE of the corpus and then freeze — so
    the trainer is ONE Spark job (the sample's word-frequency table) plus
    a driver-side exact Sennrich loop (:func:`bpe_train_local`), instead
    of :func:`bpe_train`'s one-job-per-merge loop (correct, but a real
    32k-merge vocabulary would mean 32k sequential jobs).

    The sample predicate is the portable md5 residue (CLAUDE.md hash
    rules): docs with md5(id) % sample_mod < sample_keep. The collect is
    bounded BY CONSTRUCTION: it fetches the sample's VOCABULARY (distinct
    whitespace words with counts), which is dictionary-scale — millions
    of rows for a multi-GB sample, never corpus-scale — and the sample
    size itself is capped by the md5 fraction the caller picks.

    With sample_mod=None (full corpus) the result is bit-identical to
    bpe_train(n_merges) — property-pinned in tests; ties, counts and
    merge order all match by construction."""
    spark = docs.sparkSession
    if sample_mod is not None:
        if not (sample_keep and 0 < sample_keep <= sample_mod):
            raise ValueError("sample_keep must be in [1, sample_mod]")
        res = F.expr(
            f"cast(conv(substr(md5(cast({id_col} as string)), 1, 12),"
            " 16, 10) as bigint)"
        )
        docs = docs.filter(res % sample_mod < sample_keep)
    toks = docs.select(F.explode(tokens_expr(text_col)).alias("w"))
    words = toks.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("n"))
    wc = {r["w"]: int(r["n"]) for r in words.collect()}
    return spark.createDataFrame(
        bpe_train_local(wc, n_merges), "merge_round int, pair string, cnt bigint"
    )


def bpe_apply_word(word: str, ranks: dict) -> list:
    """Rank-based BPE serving apply (the GPT-2 tokenizer algorithm):
    repeatedly merge the LOWEST-RANK adjacent pair present, all
    occurrences left-to-right non-overlapping, until no ranked pair
    remains. On a TRAINED merge table this equals applying the merges
    one at a time in training order: a merge's two parts can only be
    produced by strictly EARLIER merges, so applying a later merge can
    never create an instance of an earlier pair — the orders coincide
    (property-pinned against the chained-replace apply). Cost is
    O(len(word) * merges_applied), independent of the merge-table SIZE —
    the reason serving tokenizers use ranks, not 32k sequential
    replaces."""
    s: tuple = tuple(word)
    while len(s) > 1:
        best = None
        left = right = None
        for i in range(len(s) - 1):
            r = ranks.get((s[i], s[i + 1]))
            if r is not None and (best is None or r < best):
                best, left, right = r, s[i], s[i + 1]
        if best is None:
            break
        out: list[str] = []
        i = 0
        while i < len(s):
            if i < len(s) - 1 and s[i] == left and s[i + 1] == right:
                out.append(left + right)
                i += 2
            else:
                out.append(s[i])
                i += 1
        s = tuple(out)
    return list(s)


def bpe_tokenize_counts_scalable(
    docs: DataFrame,
    merges: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Vocabulary-factored tokenizer application for LARGE merge tables
    (the production shape VERDICT r12 #1 asked for, replacing the
    chained-replace expression whose PLAN grows one node per merge —
    fine at 8 merges, fatal at 32k). The BPE loop runs ONCE PER DISTINCT
    WORD in an Arrow-batched mapInPandas stage (rank-based
    :func:`bpe_apply_word`, memoized within each batch); per-OCCURRENCE
    work is a broadcast hash join of the dictionary-scale (w, n_tokens)
    table back into the corpus, so Python cost is O(vocabulary) and
    corpus-scale work stays in codegen. Output rows/schema ==
    :func:`bpe_tokenize_counts` (property-pinned).

    At 100 TB the vocabulary table is millions of rows (tens of MB) —
    still broadcastable; if a corpus ever exceeded that, the join
    degrades gracefully to a shuffled equi-join by dropping the
    broadcast hint."""
    spark = docs.sparkSession
    ranks = {tuple(p.split(" ")): i for i, p in enumerate(merges)}
    toks = docs.select(
        F.col(id_col), F.explode(tokens_expr(text_col)).alias("w")
    )
    bc = spark.sparkContext.broadcast(ranks)

    def apply_part(batches):
        import pandas as pd

        rk = bc.value
        memo: dict[str, int] = {}
        for pdf in batches:
            na = []
            for w in pdf["w"]:
                v = memo.get(w)
                if v is None:
                    v = len(bpe_apply_word(w, rk))
                    memo[w] = v
                na.append(v)
            yield pd.DataFrame({"w": pdf["w"], "_na": na})

    counted = toks.select("w").distinct().mapInPandas(
        apply_part, "w string, _na int"
    )
    return (
        toks.join(F.broadcast(counted), "w")
        .groupBy(id_col)
        .agg(
            F.sum(F.length("w")).cast("long").alias("n_symbols_before"),
            F.sum("_na").cast("long").alias("n_tokens_after"),
        )
    )


def bigram_structs(toks: Column) -> Column:
    """Adjacent (w1, w2) struct array from a MATERIALIZED token-array
    column (the kn_bigram_stats construction, factored for reuse).
    Empty-safe: arrays shorter than 2 yield an empty struct array —
    slice() with a negative length is a runtime error (ANSI), hit live
    by an empty doc in the r13 streaming LM path."""
    return F.transform(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda t, i: F.struct(
            t.alias("w1"), F.element_at(toks, i + 2).alias("w2")
        ),
    )


# Kneser-Ney fluency scoring (VERDICT r9 #7): integer micro-unit KN bigram
# probability with discount d = 0.75 expressed as the exact rational 3/4 —
# every term is BIGINT arithmetic, so per-bigram scores (and their per-doc
# integer means) are bit-identical across engines and partitionings.
_KN_P_U6_SQL = """
CASE WHEN c_w1 IS NOT NULL
     THEN (greatest(4 * coalesce(c_ab, CAST(0 AS BIGINT)) - 3,
                    CAST(0 AS BIGINT)) * 1000000) div (4 * c_w1)
     ELSE CAST(0 AS BIGINT) END
+ ((CASE WHEN c_w1 IS NOT NULL
        THEN (3 * n_fanout * 1000000) div (4 * c_w1)
        ELSE CAST(1000000 AS BIGINT) END)
   * ((coalesce(n_cont, CAST(0 AS BIGINT)) * 1000000) div n_types))
  div 1000000
"""


def kn_fluency_scores(
    variants: DataFrame,
    train_variant: str = "orig",
    id_col: str = "doc_id",
    materialize_bigrams: bool = True,
) -> DataFrame:
    """Per-(doc, variant) Kneser-Ney fluency: the integer mean of
    per-bigram interpolated-KN probabilities in micro-units.

    ``variants`` carries (id, variant, toks) rows; the ``train_variant``
    rows are the LM training corpus, every row is scored. Per bigram,
    with d = 3/4 kept rational so all state stays BIGINT:

        p_u6 = (max(4*c(w1,w2) - 3, 0) * 1e6) div (4*c(w1))          # seen w1
               + lambda_u6 * pcont_u6 div 1e6
        lambda_u6 = (3 * fanout(w1) * 1e6) div (4*c(w1))             # seen w1
        (unseen w1: full backoff, lambda_u6 = 1e6, first term 0)
        pcont_u6 = (n_cont(w2) * 1e6) div n_types                    # KN continuation

    Each per-bigram score is monotone in the bigram's KN probability (and
    hence its log); the doc score is the integer MEAN of the micro-unit
    probabilities — the arithmetic-mean fluency variant, chosen over
    perplexity because integer sums are engine- and partitioning-exact
    while log() is banned on data-dependent args (CLAUDE.md parity rules).

    Scale shape: the bigram table is the one corpus-sized shuffle; the
    count tables are dictionary-scale (broadcast here; hash-partitioned
    dimension joins at 100 TB) and the n_types total is a 1-row cross
    join. The bigram table and the trained count table are each consumed
    by several branches -> eager localCheckpoint (multi-consumer rule); at
    cluster scale the count tables persist to storage as the trained LM
    artifact instead."""
    # r15: the trained count table keeps its checkpoint unconditionally
    # (4 dictionary-scale consumers). ``materialize_bigrams`` decides the
    # bigram STREAM: with the default True it is checkpointed (one
    # corpus-sized write, both consumers read it back — right when the
    # caller's ``variants`` is itself an expensive un-checkpointed
    # pipeline, e.g. curation_gopher_ccnet's gated corpus, which would
    # otherwise re-derive twice); pass False when ``variants`` is a cheap
    # scan of an upstream checkpoint (llm_corpus_pipeline,
    # curation_mix_manifest, kn_fluency_score) — there the two map-side
    # explode re-runs cost less than the extra synchronous job and the
    # bigger-than-corpus materialization (measured both directions in
    # OPTIMIZATION_r15.md).
    bg = variants.select(
        F.col(id_col),
        "variant",
        F.explode(bigram_structs(F.col("toks"))).alias("b"),
    ).select(id_col, "variant", "b.w1", "b.w2")
    if materialize_bigrams:
        bg = materialize(bg)
    c = materialize(
        bg.filter(F.col("variant") == train_variant)
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("c_ab"))
    )
    return kn_score_bigrams(bg, c, id_col=id_col)


def kn_bigram_counts(
    docs: DataFrame, id_col: str = "doc_id", toks_col: str = "toks"
) -> DataFrame:
    """The bigram-KN LM's ONE persistable table: (w1, w2, c_ab) raw
    adjacent-pair counts over a tokenized corpus. A pure SUM monoid —
    incremental append unions + re-sums, delete SUBTRACTS exactly (counts
    invert, unlike the text index's tf_max/dl_min), so maintained ==
    rebuilt bit-for-bit. Every other KN table (history marginals, fanout,
    continuation counts, type total) derives from it in dictionary-scale
    aggregations at scoring time (:func:`kn_score_bigrams`), which is why
    the artifact persists ONLY this one (api.build_lm)."""
    return (
        docs.select(
            F.col(id_col), F.explode(bigram_structs(F.col(toks_col))).alias("b")
        )
        .groupBy(F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
        .agg(F.count(F.lit(1)).cast("long").alias("c_ab"))
    )


def kn_score_bigrams(
    bg: DataFrame, c: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Score a (id, variant, w1, w2) bigram table against a trained
    (w1, w2, c_ab) count table — the serving half of
    :func:`kn_fluency_scores`, split out so a PERSISTED count artifact
    (api.build_lm) scores new text without re-deriving the LM from the
    corpus. Derived tables are dictionary-scale broadcast joins."""
    w1s = c.groupBy("w1").agg(
        F.sum("c_ab").cast("long").alias("c_w1"),
        F.count(F.lit(1)).cast("long").alias("n_fanout"),
    )
    w2s = c.groupBy("w2").agg(F.count(F.lit(1)).cast("long").alias("n_cont"))
    nt = c.agg(F.count(F.lit(1)).cast("long").alias("n_types"))
    scored = (
        bg.join(F.broadcast(c), ["w1", "w2"], "left")
        .join(F.broadcast(w1s), "w1", "left")
        .join(F.broadcast(w2s), "w2", "left")
        .crossJoin(F.broadcast(nt))
        .select(
            F.col(id_col),
            "variant",
            F.expr(_KN_P_U6_SQL).cast("long").alias("p_u6"),
        )
    )
    return scored.groupBy(id_col, "variant").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.expr("sum(p_u6) div count(*)").cast("long").alias("fluency_u6"),
    )


def trigram_structs(toks: Column) -> Column:
    """Adjacent (w1, w2, w3) struct array from a materialized token-array
    column (the :func:`bigram_structs` construction, one order up;
    empty-safe like it)."""
    return F.transform(
        F.slice(toks, 1, F.greatest(F.size(toks) - 2, F.lit(0))),
        lambda t, i: F.struct(
            t.alias("w1"),
            F.element_at(toks, i + 2).alias("w2"),
            F.element_at(toks, i + 3).alias("w3"),
        ),
    )


# Trigram interpolated KN (round 11, VERDICT r10 #7): one more backoff
# level on top of _KN_P_U6_SQL — the trigram term discounts regular
# trigram counts by the exact rational 3/4 and interpolates into the
# WHOLE bigram score (which itself interpolates into the KN continuation
# unigram), so the recursion is the textbook interpolated-KN chain with
# regular counts at the two upper levels and continuation counts at the
# unigram (the all-BIGINT-expressible variant; continuation counts at the
# middle level would add one more dictionary table but no new machinery).
# Unseen (w1,w2) history -> full backoff to the bigram score.
_KN3_P_U6_SQL = f"""
CASE WHEN c_w12 IS NOT NULL
     THEN (greatest(4 * coalesce(c_abc, CAST(0 AS BIGINT)) - 3,
                    CAST(0 AS BIGINT)) * 1000000) div (4 * c_w12)
     ELSE CAST(0 AS BIGINT) END
+ ((CASE WHEN c_w12 IS NOT NULL
        THEN (3 * n_fanout12 * 1000000) div (4 * c_w12)
        ELSE CAST(1000000 AS BIGINT) END)
   * ({_KN_P_U6_SQL}))
  div 1000000
"""


def kn_trigram_fluency_scores(
    variants: DataFrame,
    train_variant: str = "orig",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-(doc, variant) TRIGRAM interpolated-KN fluency — the
    :func:`kn_fluency_scores` chain lifted one order (VERDICT r10 #7):

        p3_u6 = (max(4*c(w1w2w3) - 3, 0) * 1e6) div (4*c(w1w2))   # seen
                + lambda12_u6 * p2_u6 div 1e6
        lambda12_u6 = (3 * fanout(w1w2) * 1e6) div (4*c(w1w2))
        (unseen (w1,w2): full backoff, lambda12_u6 = 1e6, first term 0)

    with p2_u6 exactly the bigram formula on (w2, w3). All state BIGINT
    micro-units, so scores are bit-identical across engines and
    partitionings; the count tables (trigram, (w1,w2) history, bigram,
    w-marginals) are one more groupBy level each and stay dictionary-
    scale broadcast joins (persisted LM artifact at 100 TB). One
    corpus-sized trigram shuffle, same shape as the bigram scorer."""
    tg = materialize(
        variants.select(
            F.col(id_col),
            "variant",
            F.explode(trigram_structs(F.col("toks"))).alias("t"),
        )
        .select(id_col, "variant", "t.w1", "t.w2", "t.w3")
    )
    c3 = materialize(
        tg.filter(F.col("variant") == train_variant)
        .groupBy("w1", "w2", "w3")
        .agg(F.count(F.lit(1)).cast("long").alias("c_abc"))
    )
    return kn_score_trigrams(tg, c3, id_col=id_col)


def kn_trigram_counts(
    docs: DataFrame, id_col: str = "doc_id", toks_col: str = "toks"
) -> DataFrame:
    """(w1, w2, w3, c_abc) raw adjacent-triple counts — the trigram LM's
    one persistable table (sum monoid; every backoff table derives from
    it at scoring time, :func:`kn_score_trigrams`)."""
    return (
        docs.select(
            F.col(id_col),
            F.explode(trigram_structs(F.col(toks_col))).alias("t"),
        )
        .groupBy(
            F.col("t.w1").alias("w1"),
            F.col("t.w2").alias("w2"),
            F.col("t.w3").alias("w3"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("c_abc"))
    )


LM_ORDERS = (2, 3)


def kn_counts(
    docs: DataFrame, order: int, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """The persisted LM artifact's count table over ``docs``' text: order 2
    is :func:`kn_bigram_counts`' (w1, w2, c_ab), order 3
    :func:`kn_trigram_counts`' (w1, w2, w3, c_abc). The count is the last
    column."""
    if order not in LM_ORDERS:
        raise ValueError(f"unsupported LM order {order}")
    toks = docs.select(F.col(id_col), tokens_expr(text_col).alias("toks"))
    counts = kn_bigram_counts if order == 2 else kn_trigram_counts
    return counts(toks, id_col=id_col)


def merge_kn_counts(counts: DataFrame, delta: DataFrame, sign: int = 1) -> DataFrame:
    """``counts`` plus ``sign`` times a :func:`kn_counts` ``delta`` by the
    SUM monoid: +1 folds new docs in, -1 subtracts deleted ones exactly.
    N-grams whose count reaches 0 drop, as a rebuild would drop them."""
    *keys, cnt = delta.columns
    return (
        counts.unionByName(delta.withColumn(cnt, F.col(cnt) * F.lit(sign)))
        .groupBy(keys)
        .agg(F.sum(cnt).cast("long").alias(cnt))
        .filter(F.col(cnt) > 0)
    )


def kn_score_trigrams(
    tg: DataFrame, c3: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Score a (id, variant, w1, w2, w3) trigram table against a trained
    (w1, w2, w3, c_abc) count table — the serving half of
    :func:`kn_trigram_fluency_scores` (persisted-artifact twin of
    :func:`kn_score_bigrams`)."""
    c12 = c3.groupBy("w1", "w2").agg(
        F.sum("c_abc").cast("long").alias("c_w12"),
        F.count(F.lit(1)).cast("long").alias("n_fanout12"),
    )
    # bigram model tables over (w2, w3) — trained on the SAME corpus; the
    # column aliases (c_ab, c_w1, n_fanout, n_cont, n_types) are exactly
    # what _KN_P_U6_SQL references, with w1:=w2, w2:=w3
    cb = materialize(
        c3.groupBy("w2", "w3")
        .agg(F.sum("c_abc").cast("long").alias("c_ab"))
    )
    w1s = cb.groupBy("w2").agg(
        F.sum("c_ab").cast("long").alias("c_w1"),
        F.count(F.lit(1)).cast("long").alias("n_fanout"),
    )
    w2s = cb.groupBy("w3").agg(F.count(F.lit(1)).cast("long").alias("n_cont"))
    nt = cb.agg(F.count(F.lit(1)).cast("long").alias("n_types"))
    scored = (
        tg.join(F.broadcast(c3), ["w1", "w2", "w3"], "left")
        .join(F.broadcast(c12), ["w1", "w2"], "left")
        .join(F.broadcast(cb), ["w2", "w3"], "left")
        .join(F.broadcast(w1s), "w2", "left")
        .join(F.broadcast(w2s), "w3", "left")
        .crossJoin(F.broadcast(nt))
        .select(
            F.col(id_col),
            "variant",
            F.expr(_KN3_P_U6_SQL).cast("long").alias("p_u6"),
        )
    )
    return scored.groupBy(id_col, "variant").agg(
        F.count(F.lit(1)).cast("long").alias("n_trigrams"),
        F.expr("sum(p_u6) div count(*)").cast("long").alias("fluency_u6"),
    )


# Gopher doc-level quality rules (Rae et al. 2021, table A1): the English
# stop set of the "contains at least 2 of" rule.
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_rules(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 10,
    max_words: int = 100_000,
    min_mean_len: int = 3,
    max_mean_len: int = 10,
    max_symbol_permille: int = 100,
    min_alpha_permille: int = 800,
    min_stopwords: int = 2,
    max_bullet_permille: int = 900,
    max_ellipsis_permille: int = 300,
    carry: tuple = (),
) -> DataFrame:
    """Gopher DOC-level quality battery (Rae et al. 2021, table A1 —
    word-level AND line-level rules as of r13). EVERY rule is
    evaluated in exact integer arithmetic — ratio thresholds as
    cross-multiplied permille comparisons (``symbols * 1000 <= max_pm *
    n_words``), never a float division — so the bits are engine-exact by
    construction:

      * rule_words      — min_words <= n_words <= max_words;
      * rule_mean_len   — mean token length in [min_mean_len,
        max_mean_len], tested as ``min*n <= chars <= max*n``;
      * rule_symbol     — symbol-to-word ratio ('#' chars + '...'
        occurrences) <= max_symbol_permille;
      * rule_alpha      — >= min_alpha_permille of words contain an
        alphabetic char;
      * rule_stop       — >= min_stopwords DISTINCT members of the Gopher
        stop set appear;
      * rule_bullet     — <= max_bullet_permille of lines start with a
        bullet glyph ('-' or '*'), Rae A1's 90% line-start rule;
      * rule_ellipsis   — <= max_ellipsis_permille of lines end with
        '...', Rae A1's 30% line-end rule.

    Returns the integer evidence columns + one bit per rule + ``keep`` +
    ``drop_reason`` (first failing rule in the order above — the
    precedence is part of the contract; the two line rules rank LAST so
    the pre-r13 reason strings are unchanged on the old corpus). One
    narrow projection, zero shuffles: the battery composes into any
    curation pipeline as a map-side stage. ``carry`` names input columns
    passed through the projection unchanged (the :func:`c4_line_rules`
    pattern), so a composite pipeline can evaluate the battery in the
    same map stage as its neighbors instead of re-joining on ``id_col``;
    the default () leaves every existing caller's output untouched."""
    from .dedup import tokens_expr

    stop_arr = F.array(*[F.lit(w) for w in GOPHER_STOPWORDS])
    # token array materialized once (CLAUDE.md rule 4: HOFs defeat CSE)
    t = docs.select(
        F.col(id_col),
        *[F.col(c) for c in carry],
        F.col(text_col),
        tokens_expr(text_col).alias("_toks"),
    )
    n_words = F.size("_toks").cast("long")
    tok_chars = F.aggregate(
        F.col("_toks"), F.lit(0).cast("long"), lambda a, x: a + F.length(x)
    )
    hash_chars = (
        F.length(text_col) - F.length(F.translate(text_col, "#", ""))
    ).cast("long")
    ellipses = F.expr(
        f"(length({text_col}) - length(replace({text_col}, '...', '')))"
        f" div 3"
    ).cast("long")
    n_symbols = hash_chars + ellipses
    n_alpha = F.size(
        F.filter(F.col("_toks"), lambda w: w.rlike("[a-z]"))
    ).cast("long")
    n_stop = F.size(
        F.array_intersect(F.array_distinct(F.col("_toks")), stop_arr)
    ).cast("long")
    lines = F.split(F.col(text_col), "\n")
    n_lines = F.size(lines).cast("long")
    n_bullet = F.size(
        F.filter(
            lines, lambda x: x.startswith("-") | x.startswith("*")
        )
    ).cast("long")
    n_ellipsis = F.size(
        F.filter(lines, lambda x: x.endswith("..."))
    ).cast("long")
    m = t.select(
        F.col(id_col),
        *[F.col(c) for c in carry],
        n_words.alias("n_words"),
        tok_chars.alias("tok_chars"),
        n_symbols.alias("n_symbols"),
        n_alpha.alias("n_alpha_words"),
        n_stop.alias("n_stopwords"),
        n_lines.alias("n_lines"),
        n_bullet.alias("n_bullet_lines"),
        n_ellipsis.alias("n_ellipsis_lines"),
    )
    r_words = (F.col("n_words") >= min_words) & (
        F.col("n_words") <= max_words
    )
    r_mean = (
        F.col("tok_chars") >= F.lit(min_mean_len) * F.col("n_words")
    ) & (F.col("tok_chars") <= F.lit(max_mean_len) * F.col("n_words"))
    r_sym = F.col("n_symbols") * 1000 <= F.lit(max_symbol_permille) * F.col(
        "n_words"
    )
    r_alpha = F.col("n_alpha_words") * 1000 >= F.lit(
        min_alpha_permille
    ) * F.col("n_words")
    r_stop = F.col("n_stopwords") >= min_stopwords
    r_bullet = F.col("n_bullet_lines") * 1000 <= F.lit(
        max_bullet_permille
    ) * F.col("n_lines")
    r_ellipsis = F.col("n_ellipsis_lines") * 1000 <= F.lit(
        max_ellipsis_permille
    ) * F.col("n_lines")
    out = m.select(
        "*",
        r_words.cast("int").alias("rule_words"),
        r_mean.cast("int").alias("rule_mean_len"),
        r_sym.cast("int").alias("rule_symbol"),
        r_alpha.cast("int").alias("rule_alpha"),
        r_stop.cast("int").alias("rule_stop"),
        r_bullet.cast("int").alias("rule_bullet"),
        r_ellipsis.cast("int").alias("rule_ellipsis"),
    )
    keep = (
        (F.col("rule_words") == 1)
        & (F.col("rule_mean_len") == 1)
        & (F.col("rule_symbol") == 1)
        & (F.col("rule_alpha") == 1)
        & (F.col("rule_stop") == 1)
        & (F.col("rule_bullet") == 1)
        & (F.col("rule_ellipsis") == 1)
    )
    reason = (
        F.when(F.col("rule_words") == 0, F.lit("words"))
        .when(F.col("rule_mean_len") == 0, F.lit("mean_len"))
        .when(F.col("rule_symbol") == 0, F.lit("symbol"))
        .when(F.col("rule_alpha") == 0, F.lit("alpha"))
        .when(F.col("rule_stop") == 0, F.lit("stop"))
        .when(F.col("rule_bullet") == 0, F.lit("bullet"))
        .when(F.col("rule_ellipsis") == 0, F.lit("ellipsis"))
        .otherwise(F.lit("kept"))
    )
    return out.select(
        "*", keep.cast("int").alias("keep"), reason.alias("drop_reason")
    )


# The corpus-admission gate's FROZEN Gopher thresholds — the exact
# parameters llm_corpus_pipeline's stage 3 runs (word-level rules with the
# stop rule relaxed to 1 distinct stopword and both line rules neutralized
# via always-true permilles, as in curation_gopher_ccnet). ONE definition
# shared by the batch capstone, the corpus_admission_batch twin, and
# streaming.curation.stream_corpus_admission (VERDICT r14 #4), so the
# three admission paths cannot silently drift.
CORPUS_GATE_GOPHER: dict = {
    "min_stopwords": 1,
    "max_bullet_permille": 1000,
    "max_ellipsis_permille": 1000,
}


def c4_line_rules(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_line_words: int = 5,
    min_sentences: int = 3,
    carry: tuple = (),
    bad_words: tuple = (),
) -> DataFrame:
    """C4's cleaning battery (Raffel et al. 2020 §2.2), the line-level
    complement to :func:`gopher_rules`' doc-level one:

      * a LINE is kept iff it ends in terminal punctuation ('.', '!',
        '?', '"'), has >= min_line_words whitespace words, and does not
        contain the word 'javascript';
      * a PAGE is dropped iff it contains 'lorem ipsum' (lowercased),
        contains a curly brace '{', contains any ``bad_words`` member as
        a whole lowercase token (C4's dirty/naughty word-list rule —
        OFF by default; callers opt in with their word list so every
        oracle models exactly the rules its query runs, the ADVICE-r13
        lesson), or retains fewer than ``min_sentences`` kept lines
        (C4's sentence proxy).

    All counts are exact integers over the same split-on-whitespace /
    split-on-newline primitives both engines share; returns per-doc
    evidence (n_lines, n_kept_lines, has_lorem, has_brace), ``keep`` and
    ``drop_reason`` (brace > lorem > few_sentences — precedence is part
    of the contract). One narrow projection, zero shuffles. ``carry``
    names input columns to pass through the projection unchanged, so a
    composite upstream stage (e.g. pii_scrub's n_pii count) rides the
    same map-side stage instead of re-joining on doc_id (ADVICE r13
    #2: the join re-executed the regexp passes on both sides)."""
    lines = F.split(F.col(text_col), "\n")
    lw = F.lower(F.col(text_col))

    def _kept(x):
        words = F.size(
            F.filter(F.split(F.trim(F.lower(x)), r"\s+"), lambda t: t != "")
        )
        term = (
            x.endswith(".")
            | x.endswith("!")
            | x.endswith("?")
            | x.endswith('"')
        )
        return term & (words >= min_line_words) & (
            ~F.lower(x).contains("javascript")
        )

    from .dedup import tokens_expr

    has_bad = (
        F.arrays_overlap(
            tokens_expr(text_col), F.array(*[F.lit(w) for w in bad_words])
        ).cast("int")
        if bad_words
        else F.lit(0)
    )
    m = docs.select(
        F.col(id_col),
        *[F.col(c) for c in carry],
        F.size(lines).cast("long").alias("n_lines"),
        F.size(F.filter(lines, _kept)).cast("long").alias("n_kept_lines"),
        lw.contains("lorem ipsum").cast("int").alias("has_lorem"),
        F.col(text_col).contains("{").cast("int").alias("has_brace"),
        has_bad.alias("has_bad_words"),
    )
    keep = (
        (F.col("has_brace") == 0)
        & (F.col("has_lorem") == 0)
        & (F.col("has_bad_words") == 0)
        & (F.col("n_kept_lines") >= min_sentences)
    )
    reason = (
        F.when(F.col("has_brace") == 1, F.lit("brace"))
        .when(F.col("has_lorem") == 1, F.lit("lorem"))
        .when(F.col("has_bad_words") == 1, F.lit("bad_words"))
        .when(F.col("n_kept_lines") < min_sentences, F.lit("few_sentences"))
        .otherwise(F.lit("kept"))
    )
    return m.select(
        "*", keep.cast("int").alias("keep"), reason.alias("drop_reason")
    )


# PII patterns (r13): syntax restricted to what Java regex and RE2 agree
# on — explicit classes, no \d/\b shorthand, no bounded {m,} quantifiers.
PII_EMAIL_RE = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z][a-z]+"
PII_PHONE_RE = r"[0-9][0-9][0-9]-[0-9][0-9][0-9]-[0-9][0-9][0-9][0-9]"
PII_IPV4_RE = (
    r"[0-9][0-9]?[0-9]?\.[0-9][0-9]?[0-9]?\."
    r"[0-9][0-9]?[0-9]?\.[0-9][0-9]?[0-9]?"
)


def pii_scrubbed_text(text_col: str) -> Column:
    """The scrubbed-text expression pii_scrub hashes: lowercased input
    with emails -> [EMAIL], phones -> [PHONE], IPv4s -> [IP], redacted in
    that fixed order. Exposed separately so composite pipelines can feed
    the redacted text into downstream stages (scrub FIRST is the
    production order — nothing after the scrub may see raw PII)."""
    return F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                F.lower(F.col(text_col)), PII_EMAIL_RE, "[EMAIL]"
            ),
            PII_PHONE_RE,
            "[PHONE]",
        ),
        PII_IPV4_RE,
        "[IP]",
    )


def pii_scrub(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """PII detection + redaction — the scrub stage every training-data
    pipeline runs before anything else sees the text. Three regex
    detector classes (emails, NNN-NNN-NNNN phone numbers, dotted-quad
    IPv4 candidates) counted with non-overlapping scans, then redacted
    in a FIXED order (email -> phone -> ip, each to its class tag);
    r14 adds the CREDIT-CARD path (VERDICT r13 #8): 16-digit candidates
    that pass the ISO 7812 Luhn checksum (operators/pii.luhn_valid — the
    validation that keeps random order/tracking ids out) are redacted to
    [CC] by an empty-safe fold over the validated list, applied AFTER
    the regex tags (a card's digit-dash shape is provably unreachable by
    the phone pattern, so the order is safe and mirrored verbatim). The
    scrubbed output is hex-projected (md5 prefix) per the binary/
    derived-text parity rule rather than shipped raw. All engine work is
    regex passes + one tiny higher-order fold in one narrow projection —
    no Python, no shuffle. Returns (id, n_emails, n_phones, n_ips,
    n_cc_candidates, n_cc_valid, n_pii, has_pii, scrubbed_md5); n_pii
    counts only VALIDATED cards."""
    from .pii import CC_CANDIDATE_PATTERN, luhn_valid

    lt = F.lower(F.col(text_col))
    n_em = F.size(F.regexp_extract_all(lt, F.lit(PII_EMAIL_RE), F.lit(0)))
    n_ph = F.size(F.regexp_extract_all(lt, F.lit(PII_PHONE_RE), F.lit(0)))
    n_ip = F.size(F.regexp_extract_all(lt, F.lit(PII_IPV4_RE), F.lit(0)))
    scrub3 = pii_scrubbed_text(text_col)
    cands = F.regexp_extract_all(
        scrub3, F.lit(CC_CANDIDATE_PATTERN), F.lit(0)
    )
    valid = F.filter(cands, luhn_valid)
    scrubbed = F.aggregate(
        valid, scrub3, lambda acc, x: F.replace(acc, x, F.lit("[CC]"))
    )
    n_cc = F.size(valid)
    n_pii = (n_em + n_ph + n_ip + n_cc).cast("long")
    return docs.select(
        F.col(id_col),
        n_em.cast("long").alias("n_emails"),
        n_ph.cast("long").alias("n_phones"),
        n_ip.cast("long").alias("n_ips"),
        F.size(cands).cast("long").alias("n_cc_candidates"),
        n_cc.cast("long").alias("n_cc_valid"),
        n_pii.alias("n_pii"),
        (n_pii > 0).cast("int").alias("has_pii"),
        F.substring(F.md5(scrubbed), 1, 16).alias("scrubbed_md5"),
    )
