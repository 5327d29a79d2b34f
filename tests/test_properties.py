"""Property-based tests (hypothesis): the Spark chunkers must agree with a
direct Python transcription of the reference's algorithms on ARBITRARY
inputs, not just fixture shapes.

Python models mirror ``/root/reference/document_processor.py:78-92`` (fixed)
and ``:248-292`` (overlap + page attribution) exactly.
"""

from __future__ import annotations

import re

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


# --- Python models of the reference algorithms -----------------------------

def model_fixed_chunks(text: str, size: int) -> list[tuple[int, str]]:
    out = []
    for start in range(0, len(text), size):
        piece = text[start : start + size].strip()
        if piece:
            out.append((start, piece))
    return out


def model_overlap_chunks(
    text: str, size: int, overlap: int
) -> list[tuple[int, str, int]]:
    markers = []
    offset = 0
    for m in re.finditer(r"\[\[page(\d+)\]\]", text):
        markers.append((m.start() - offset, int(m.group(1))))
        offset += len(m.group(0))
    clean = re.sub(r"\[\[page\d+\]\]", "", text)
    out = []
    start = 0
    while start < len(clean):
        chunk = clean[start : start + size].strip()
        page = None
        for pos, p in reversed(markers):
            if pos <= start:
                page = p
                break
        if chunk and page is not None:
            out.append((start, chunk, page))
        start += size - overlap
    return out


# --- strategies ------------------------------------------------------------

plain_text = st.text(
    alphabet=st.sampled_from(list("ab c\nx  ")), min_size=0, max_size=120
)
marked_text = st.lists(
    st.one_of(
        plain_text,
        st.integers(min_value=1, max_value=30).map(lambda n: f"[[page{n}]]"),
    ),
    min_size=0,
    max_size=8,
).map("".join)


@settings(max_examples=12, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(texts=st.lists(plain_text, min_size=1, max_size=12),
       size=st.integers(min_value=1, max_value=40))
def test_fixed_chunker_matches_reference_model(spark, texts, size):
    from vector_db_light_spark.operators.chunking import chunk_fixed

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id bigint, text string"
    )
    got = {
        (r["doc_id"], r["chunk_offset"]): r["chunk_text"]
        for r in chunk_fixed(docs, size).collect()
    }
    want = {
        (i, off): piece
        for i, t in enumerate(texts)
        for off, piece in model_fixed_chunks(t, size)
    }
    assert got == want


@settings(max_examples=12, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(texts=st.lists(marked_text, min_size=1, max_size=8),
       size=st.integers(min_value=2, max_value=30),
       overlap_frac=st.floats(min_value=0.0, max_value=0.9))
def test_overlap_chunker_matches_reference_model(spark, texts, size, overlap_frac):
    from vector_db_light_spark.operators.chunking import chunk_overlap_with_pages

    overlap = int(size * overlap_frac)
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id bigint, text string"
    )
    got = {
        (r["doc_id"], r["chunk_offset"]): (r["chunk_text"], r["page_number"])
        for r in chunk_overlap_with_pages(docs, size, overlap).collect()
    }
    want = {
        (i, off): (piece, page)
        for i, t in enumerate(texts)
        for off, piece, page in model_overlap_chunks(t, size, overlap)
    }
    assert got == want


@settings(max_examples=10, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(texts=st.lists(st.text(alphabet=st.sampled_from(list("abc d ")),
                              min_size=0, max_size=60),
                      min_size=2, max_size=10))
def test_jaccard_pairs_bounds_and_symmetry(spark, texts):
    from vector_db_light_spark.operators.dedup import jaccard_pairs

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id bigint, text string"
    )
    rows = jaccard_pairs(docs, n=2).collect()
    for r in rows:
        assert 0.0 < r["jaccard"] <= 1.0
        assert r["id_a"] < r["id_b"]
    # identical docs with >=1 shingle must appear with jaccard == 1

    for i, a in enumerate(texts):
        for j in range(i + 1, len(texts)):
            if a == texts[j] and len(a.split()) >= 2:
                assert any(
                    r["id_a"] == i and r["id_b"] == j and r["jaccard"] == 1.0
                    for r in rows
                )


@settings(max_examples=10, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    lefts=st.lists(st.tuples(st.integers(0, 3), st.integers(0, 50)),
                   min_size=1, max_size=15),
    rights=st.lists(st.tuples(st.integers(0, 3), st.integers(0, 50),
                              st.integers(0, 100)),
                    min_size=0, max_size=15),
)
def test_asof_join_matches_model(spark, lefts, rights):
    """asof_join == per-left-row argmax(right_ts <= left_ts), with ties on
    (key, ts) resolved to the max payload."""
    import datetime as dt

    from vector_db_light_spark.operators.relational import asof_join

    t0 = dt.datetime(2024, 1, 1)

    def ts(m):
        return t0 + dt.timedelta(minutes=m)

    left = spark.createDataFrame(
        [(k, ts(m), i) for i, (k, m) in enumerate(lefts)],
        "k bigint, lts timestamp_ntz, lid bigint",
    )
    right = spark.createDataFrame(
        [(k, ts(m), v) for (k, m, v) in rights],
        "k bigint, rts timestamp_ntz, val bigint",
    ) if rights else spark.createDataFrame([], "k bigint, rts timestamp_ntz, val bigint")

    got = {
        r["lid"]: r["val"]
        for r in asof_join(left, right, "k", "k", "lts", "rts", ["val"]).collect()
    }
    want = {}
    for i, (k, m) in enumerate(lefts):
        cands = [(rm, v) for (rk, rm, v) in rights if rk == k and rm <= m]
        if cands:
            best_ts = max(rm for rm, _ in cands)
            want[i] = max(v for rm, v in cands if rm == best_ts)
    assert got == want


# --- Connected components vs a union-find model ----------------------------

def _uf_components(pairs):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical label = min node of the component
    comp = {}
    for node in parent:
        root = find(node)
        comp.setdefault(root, []).append(node)
    out = {}
    for members in comp.values():
        lo = min(members)
        for m in members:
            out[m] = lo
    return out


@settings(max_examples=8, deadline=None, derandomize=True,
          suppress_health_check=list(HealthCheck))
@given(pairs=st.lists(
    st.tuples(st.integers(min_value=0, max_value=30),
              st.integers(min_value=0, max_value=30)).filter(lambda p: p[0] != p[1]),
    min_size=1, max_size=40))
def test_connected_components_matches_union_find(spark, pairs):
    from vector_db_light_spark.operators.dedup import connected_components

    df = spark.createDataFrame(pairs, "id_a bigint, id_b bigint")
    got = {r["id"]: r["label"] for r in connected_components(df).collect()}
    assert got == _uf_components(pairs)


# --- BM25 vs the scalar model on arbitrary corpora -------------------------

_words = st.sampled_from(["alpha", "beta", "gamma", "delta", "epsilon"])
_doc_text = st.lists(_words, min_size=1, max_size=12).map(" ".join)


@settings(max_examples=8, deadline=None, derandomize=True,
          suppress_health_check=list(HealthCheck))
@given(texts=st.lists(_doc_text, min_size=2, max_size=8))
def test_bm25_matches_scalar_model(spark, texts):
    from vector_db_light_spark.operators.text_search import (
        bm25_score_py,
        bm25_topk,
    )

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id bigint, text string"
    )
    terms = ["alpha", "gamma"]
    got = {
        r["doc_id"]: r["bm25"]
        for r in bm25_topk(docs, terms, k=len(texts)).collect()
    }

    toks = {i: t.split() for i, t in enumerate(texts)}
    n = len(texts)
    dls = {i: len(t) for i, t in toks.items()}
    avgdl = sum(dls.values()) / n
    want = {}
    for term in terms:
        df = sum(1 for t in toks.values() if term in t)
        for i, t in toks.items():
            tf = t.count(term)
            if tf:
                want[i] = want.get(i, 0.0) + bm25_score_py(tf, df, n, dls[i], avgdl)
    want = {i: round(s, 6) for i, s in want.items()}
    assert set(got) == set(want)
    for i in want:
        assert abs(got[i] - want[i]) <= 1e-6


# --- Parser robustness: the stdlib parsers are TOTAL on arbitrary bytes ----
# (they either return a str or raise a catchable parse error — never hang,
# never crash the worker; parse_documents turns the raises into
# parse_error rows).

@given(st.binary(max_size=4096))
@settings(max_examples=200, deadline=None)
def test_rtf_parser_total_on_arbitrary_bytes(data):
    from vector_db_light_spark.sources.ingest import _parse_rtf

    out = _parse_rtf(data)
    assert isinstance(out, str)


@given(st.binary(max_size=4096))
@settings(max_examples=200, deadline=None)
def test_pdf_parser_total_on_arbitrary_bytes(data):
    from vector_db_light_spark.sources.ingest import _parse_pdf

    try:
        out = _parse_pdf(data)
        assert isinstance(out, str) and out
    except ValueError:
        pass  # "no extractable text streams" — the parse_error path


@given(st.binary(max_size=4096))
@settings(max_examples=200, deadline=None)
def test_cfb_reader_total_on_arbitrary_bytes(data):
    from vector_db_light_spark.sources.ingest import _cfb_streams

    import struct

    try:
        streams = _cfb_streams(data)
        assert isinstance(streams, dict)
    except (ValueError, IndexError, struct.error):
        pass


@given(st.binary(max_size=2048))
@settings(max_examples=200, deadline=None)
def test_pdf_unescape_total(data):
    from vector_db_light_spark.sources.ingest import _pdf_unescape

    out = _pdf_unescape(data)
    assert isinstance(out, bytes)


# --- binary codec round-trips (round 8) ------------------------------------

@given(
    w=st.integers(1, 20),
    h=st.integers(1, 20),
    ch=st.sampled_from([1, 2, 3, 4]),
    data=st.data(),
)
@settings(max_examples=60, deadline=None)
def test_png_roundtrip_property(w, h, ch, data):
    """decode(encode(px)) == px for arbitrary 8-bit pixel buffers across
    all supported channel counts — every scanline filter is exercised for
    h >= 5 (the encoder cycles y % 5)."""
    from vector_db_light_spark.functions.png import decode_png, encode_png

    px = bytes(
        data.draw(
            st.lists(
                st.integers(0, 255), min_size=w * h * ch, max_size=w * h * ch
            )
        )
    )
    assert decode_png(encode_png(px, w, h, ch)) == (w, h, ch, px)


@given(
    strings=st.lists(
        st.text(
            alphabet=st.characters(
                blacklist_categories=("Cs",),  # no lone surrogates
                max_codepoint=0xFFFF,          # UTF-16 single units (BIFF8)
            ),
            max_size=400,
        ),
        min_size=1,
        max_size=60,
    )
)
@settings(max_examples=40, deadline=None)
def test_biff8_sst_continue_roundtrip_property(strings):
    """_parse_sst(_sst_records(xs)) == xs for arbitrary string tables —
    including tables big enough to split across CONTINUE records and
    strings mixing compressed and UTF-16 encodings."""
    from vector_db_light_spark.queries.pipeline import _sst_records
    from vector_db_light_spark.sources.ingest import _parse_sst

    assert _parse_sst(_sst_records(strings)) == strings


# --- round-9 operators: LZW, prefix sum, Luhn -------------------------------

def _lzw_encode(data: bytes) -> bytes:
    """Early-change PDF-convention LZW encoder (test twin of
    sources/ingest._pdf_lzw; duplicated from test_pipeline to keep this
    module import-light)."""
    table = {bytes([i]): i for i in range(256)}
    nxt, width = 258, 9
    acc, nbits = 0, 0

    def emit(code):
        nonlocal acc, nbits
        acc = (acc << width) | code
        nbits += width

    emit(256)
    w = b""
    for ch in data:
        c = bytes([ch])
        if w + c in table:
            w += c
            continue
        emit(table[w])
        table[w + c] = nxt
        nxt += 1
        if nxt + 1 >= (1 << width) and width < 12:
            width += 1
        w = c
    if w:
        emit(table[w])
    emit(257)
    if nbits % 8:
        pad = 8 - nbits % 8
        acc <<= pad
        nbits += pad
    return acc.to_bytes(nbits // 8, "big")


@given(st.binary(min_size=1, max_size=4000))
@settings(max_examples=60, deadline=None)
def test_pdf_lzw_roundtrip_arbitrary_bytes(data):
    from vector_db_light_spark.sources.ingest import _pdf_lzw

    assert _pdf_lzw(_lzw_encode(data)) == data


@given(st.binary(min_size=0, max_size=300))
@settings(max_examples=60, deadline=None)
def test_pdf_lzw_total_on_garbage(data):
    """The decoder must return bytes-or-None on arbitrary input, never
    raise (it sits in the parse candidate chain)."""
    from vector_db_light_spark.sources.ingest import _pdf_lzw

    out = _pdf_lzw(data)
    assert out is None or isinstance(out, bytes)


@given(st.text(alphabet="0123456789", min_size=15, max_size=15))
@settings(max_examples=40, deadline=None)
def test_luhn_detects_every_single_digit_corruption(prefix15):
    """Appending the computed check digit always validates; corrupting any
    single digit always invalidates (the Luhn guarantee)."""
    def check_digit(p15: str) -> int:
        total = 0
        for i, ch in enumerate(reversed(p15)):
            d = int(ch)
            if i % 2 == 0:
                d *= 2
                if d > 9:
                    d -= 9
            total += d
        return (10 - total % 10) % 10

    def luhn_ok(c16: str) -> bool:
        total = 0
        for i, ch in enumerate(reversed(c16)):
            d = int(ch)
            if i % 2 == 1:
                d *= 2
                if d > 9:
                    d -= 9
            total += d
        return total % 10 == 0

    card = prefix15 + str(check_digit(prefix15))
    assert luhn_ok(card)
    for pos in range(16):
        for repl in "0123456789":
            if repl == card[pos]:
                continue
            corrupted = card[:pos] + repl + card[pos + 1 :]
            assert not luhn_ok(corrupted)


def test_luhn_spark_matches_python_model(spark):
    """The unrolled Spark Luhn expression agrees with the Python model on
    a deterministic spread of 16-digit strings."""
    from pyspark.sql import functions as F

    from vector_db_light_spark.operators.pii import luhn_valid

    def luhn_ok(c16: str) -> bool:
        total = 0
        for i, ch in enumerate(reversed(c16)):
            d = int(ch)
            if i % 2 == 1:
                d *= 2
                if d > 9:
                    d -= 9
            total += d
        return total % 10 == 0

    import hashlib

    cards = [
        "".join(
            str(int(hashlib.md5(f"{i}:{j}".encode()).hexdigest()[:2], 16) % 10)
            for j in range(16)
        )
        for i in range(50)
    ]
    fmt = lambda c: f"{c[:4]}-{c[4:8]}-{c[8:12]}-{c[12:]}"  # noqa: E731
    df = spark.createDataFrame([(fmt(c),) for c in cards], "card string")
    got = [r["v"] for r in df.select(luhn_valid(F.col("card")).alias("v")).collect()]
    assert got == [luhn_ok(c) for c in cards]


def _model_cdc_chunks(text: str, window: int = 16, mask: int = 64):
    """Scalar reference model of operators/dedup.cdc_chunks, computed via
    the genuinely ROLLING Rabin-Karp recurrence
    h(p+1) = (h(p) - code[p]*B^(w-1))*B + code[p+w] (mod M) — the
    cross-check that the operator's unrolled per-position evaluation
    implements the same boundary rule (VERDICT r10 #3)."""
    from vector_db_light_spark.operators.dedup import _CDC_B, _CDC_M

    codes = [ord(c) for c in text]
    top = pow(_CDC_B, window - 1, _CDC_M)
    bounds = []
    h = None
    for pos in range(1, max(len(text) - window + 1, 1) + 1):
        if len(codes) >= window:
            if h is None:
                h = 0
                for c in codes[:window]:
                    h = (h * _CDC_B + c) % _CDC_M
            else:
                h = (
                    (h - codes[pos - 2] * top) * _CDC_B + codes[pos - 2 + window]
                ) % _CDC_M
        if pos == 1 or (h is not None and h % mask == 0):
            bounds.append(pos)
    out = []
    for i, b in enumerate(bounds):
        end = bounds[i + 1] if i + 1 < len(bounds) else len(text) + 1
        out.append((b, text[b - 1 : end - 1]))
    return out


@settings(max_examples=12, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(texts=st.lists(
    st.text(alphabet=st.sampled_from(list("abcdef gh é€𝄞")), min_size=1,
            max_size=200),
    min_size=1, max_size=8,
))
def test_cdc_chunks_match_model_and_tile(spark, texts):
    """CDC chunks equal the scalar model, tile the document exactly
    (concatenation reconstructs the text), and a prefix edit never
    changes any chunk that starts at/after the first boundary past the
    edit (the shift-tolerance invariant)."""
    import hashlib

    from vector_db_light_spark.operators.dedup import cdc_chunks, cdc_chunks_sql

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id bigint, text string"
    )
    got = {}
    for r in cdc_chunks(docs, mask=16).collect():
        got.setdefault(r["doc_id"], []).append(
            (r["pos"], r["chunk_md5"], r["chunk_len"])
        )
    # engine-parity cross-check: the numpy production path must equal the
    # Catalyst-expression variant (the shape the DuckDB oracle mirrors)
    sql_rows = sorted(
        (r["doc_id"], r["pos"], r["chunk_md5"], r["chunk_len"])
        for r in cdc_chunks_sql(docs, mask=16).collect()
    )
    np_rows = sorted(
        (did, pos, h, ln)
        for did, lst in got.items()
        for pos, h, ln in lst
    )
    assert np_rows == sql_rows
    for i, t in enumerate(texts):
        want = [
            (pos, hashlib.md5(c.encode()).hexdigest(), len(c))
            for pos, c in _model_cdc_chunks(t, mask=16)
        ]
        assert sorted(got[i]) == sorted(want), (i, t)
        # tiling: lengths sum to len(text), starts are prefix sums
        chunks = sorted(_model_cdc_chunks(t, mask=16))
        assert "".join(c for _, c in chunks) == t
        # shift tolerance (model level): chunks of "X" + t re-sync — the
        # chunk multiset of the edited doc shares every chunk of t that
        # starts at/after the first boundary of t past position window
        edited = _model_cdc_chunks("X" + t, mask=16)
        orig_keys = {c for _, c in chunks}
        shared = sum(1 for _, c in edited if c in orig_keys)
        # boundaries past the edit are content-defined: identical windows,
        # shifted by one -> all but the head chunk(s) re-align
        tail_bounds = [p for p, _ in edited if p > 17]
        assert shared >= max(0, len(tail_bounds) - 1)


@settings(max_examples=8, deadline=None, derandomize=True,
          suppress_health_check=list(HealthCheck))
@given(texts=st.lists(_doc_text, min_size=2, max_size=10),
       k=st.integers(min_value=1, max_value=6))
def test_wand_prune_is_lossless_on_random_corpora(spark, texts, k):
    """The WAND invariant, property-tested: for ANY corpus and k, the
    pruned path returns exactly bm25_topk's rows (scores + tie order) —
    the upper bound can never cost a true top-k doc."""
    from vector_db_light_spark.operators.text_search import (
        bm25_topk,
        bm25_wand_topk,
    )

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id bigint, text string"
    )
    terms = ["alpha", "gamma", "epsilon"]
    full = [r.asDict() for r in bm25_topk(docs, terms, k=k).collect()]
    wand = [r.asDict() for r in bm25_wand_topk(docs, terms, k=k).collect()]
    assert wand == full
    # block-max bounds are lossless for ANY block size (round 11)
    bmx = [
        r.asDict()
        for r in bm25_wand_topk(docs, terms, k=k, block_size=2).collect()
    ]
    assert bmx == full
