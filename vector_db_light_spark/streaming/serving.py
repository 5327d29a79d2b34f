"""Streaming serving and index maintenance.

Serving: a continuous stream of query vectors answered against the static
(build-time) IVF index. The reference serves queries one at a time from
the GUI thread (reference ``vector_db_query.py:142-210``); the Spark
re-expression is the same micro-batch amortization every vector-serving
tier applies — queries arrive as a stream, each micro-batch is answered
with the BATCH IVF plan (``operators/similarity.py::batch_ivf_topk``):
broadcast centroid probe + cluster equi-join + WindowGroupLimit top-k, so
a batch of B queries costs one pruned corpus pass, not B scans.

foreachBatch (not a stream-static join) is deliberate: the top-k needs a
rank window over the joined result, which Structured Streaming cannot run
inside an append-mode continuous plan — inside foreachBatch the micro-batch
is a plain batch DataFrame, so the exact serving plan (and its plan-pinned
shuffle bounds) is reused verbatim. At 100 TB the corpus side stays
partitioned by cluster_id on disk and the probe list is broadcast per
micro-batch — the stream never forces a corpus shuffle.

Maintenance: four sinks keep an index artifact current from a stream —
the text index, the sign sketch, the n-gram LM counts and the
tokenize-pack spans. Each builds and merges its artifact with the same
operator functions ``api.py`` uses, so a streamed artifact equals a batch
build over the same docs, and each exposes its committed view once
(:func:`text_index`, :func:`sign_sketch`, :func:`lm_counts`,
:func:`packed_spans`). Append-only tables (postings, positions, ledgers,
sketch rows, spans) gain a slot per batch; monoid sidecars (terms, stats,
blocks, counts) are replaced whole by each batch that changes them.

Exactly-once, for every sink here: the commit protocol in
:mod:`vector_db_light_spark.commit`.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..obs import materialize
from ..operators.packing import pack_spans
from ..operators.similarity import batch_ivf_topk, sign_rows
from ..operators.text_search import build_text_index, merge_text_index
from ..operators.textstats import (
    LM_ORDERS,
    bpe_tokenize_counts_scalable,
    kn_counts,
    merge_kn_counts,
)
from .. import commit


def stream_search(
    query_stream: DataFrame,
    corpus: DataFrame,
    centroids: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
    nprobe: int = 2,
    k: int = 5,
    cluster_col: str = "label",
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> StreamingQuery:
    """Answer ``query_stream`` micro-batches against the static
    ``corpus``/``centroids`` pair; write (query_id, vec_id, distance, rk)
    parquet rows under ``output_dir``. Returns the running query."""

    def answer(batch_df: DataFrame, slot: commit.Slot) -> None:
        hits = batch_ivf_topk(
            corpus,
            batch_df,
            centroids,
            nprobe=nprobe,
            k=k,
            cluster_col=cluster_col,
            id_col=id_col,
            vector_col=vector_col,
            query_id_col=query_id_col,
            query_vec_col=query_vec_col,
        )
        slot.write(hits, output_dir)

    return commit.start(query_stream, checkpoint_dir, [output_dir], answer)


def stream_lexical_search(
    query_stream: DataFrame,
    docs: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
    k: int = 10,
    query_id_col: str = "query_id",
    terms_col: str = "terms",
    index: tuple[DataFrame, DataFrame, DataFrame] | None = None,
) -> StreamingQuery:
    """Lexical twin of :func:`stream_search`: a stream of keyword queries
    (``query_id``, space-separated ``terms``) answered against the static
    corpus with the BATCHED BM25 plan
    (operators/text_search.batch_bm25_topk) — a micro-batch of B queries
    costs ONE pass over the union of their posting lists, not B, and each
    query's answer is bit-identical to the single-query ``bm25_topk``
    (per-term df and corpus stats are query-independent; pinned by
    test_stream_serving). Same foreachBatch rationale as the ANN server:
    the per-query rank window needs a plain batch plan. Pass ``index``
    (the (postings, term_meta, stats) trio persisted by
    api.build_text_index) and each batch serves from the ARTIFACT —
    partition-pruned postings read, sidecar df/stats, zero corpus
    tokenization per batch, answers bit-identical to the corpus path
    (pinned by test_text_index). Without it the batch re-derives the
    postings from ``docs`` — acceptable only when the corpus is small or
    the stream is short-lived; per-batch WAND pruning composes per query
    on top when posting lists are long (bm25_wand_topk), but the batch
    amortization is the bigger serving lever."""
    from ..operators.text_search import batch_bm25_topk, batch_bm25_topk_from_index

    def answer(batch_df: DataFrame, slot: commit.Slot) -> None:
        qterms = batch_df.select(
            query_id_col,
            F.explode(F.split(F.col(terms_col), r"\s+")).alias("term"),
        ).filter(F.col("term") != "")
        if index is not None:
            hits = batch_bm25_topk_from_index(
                *index, qterms, k=k, query_id_col=query_id_col
            )
        else:
            hits = batch_bm25_topk(docs, qterms, k=k, query_id_col=query_id_col)
        slot.write(hits, output_dir)

    return commit.start(query_stream, checkpoint_dir, [output_dir], answer)


def _new_docs(
    batch_df: DataFrame, ledger: DataFrame | None, id_col: str, text_col: str
) -> DataFrame | None:
    """The batch's (id, text) rows whose id is not in ``ledger``, one per
    id, materialized: they feed every table the batch writes. None when no
    doc is new."""
    docs = batch_df.dropDuplicates([id_col]).select(F.col(id_col), F.col(text_col))
    if ledger is not None:
        docs = docs.join(ledger.select(id_col), id_col, "left_anti")
    seen = Observation()
    docs = materialize(docs.observe(seen, F.count(F.lit(1)).alias("n")))
    return docs if seen.get["n"] else None


_TEXT_INDEX = ("postings", "terms", "stats", "blocks", "positions", "doc_ids")


def text_index(spark: SparkSession, index_dir: str) -> tuple:
    """(postings, term_meta, stats, blocks, positions): the committed text
    index under ``index_dir``, in the tables' build shapes
    (operators/text_search.build_text_index); all None before the first
    batch that admits a doc."""
    p, t, s, b, x, _ = (f"{index_dir}/{n}" for n in _TEXT_INDEX)
    slot = commit.Slot(spark, p)
    return slot.read(p), slot.read(t), slot.read(s), slot.read(b), slot.read(x)


def _text_index_body(
    batch_df: DataFrame, slot: commit.Slot, index_dir: str, id_col: str, text_col: str
) -> None:
    p, t, s, b, x, d = (f"{index_dir}/{n}" for n in _TEXT_INDEX)
    docs = _new_docs(batch_df, slot.read(d), id_col, text_col)
    if docs is None:
        return
    postings, terms, stats, blocks, positions = build_text_index(
        docs, id_col=id_col, text_col=text_col
    )
    old_terms = slot.read(t)
    if old_terms is not None:
        terms, stats, blocks = merge_text_index(
            (old_terms, slot.read(s), slot.read(b)), postings, terms, stats, id_col
        )
    slot.write(postings, p, "term_bucket")
    slot.write(terms, t, retire=True)
    slot.write(stats, s, retire=True)
    slot.write(blocks, b, "term_bucket", retire=True)
    slot.write(positions, x, "term_bucket")
    slot.write(docs.select(id_col), d)


def stream_text_index_maintenance(
    doc_stream: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> StreamingQuery:
    """Keep a lexical index of ``doc_stream`` current under ``index_dir``:
    per micro-batch the new docs' postings and positions are added and the
    term, stats and block sidecars merge by their monoids
    (operators/text_search.merge_text_index, the law ``api.py``'s append
    uses), so after any prefix of batches the index equals a batch build
    over the docs ingested so far. Read it with :func:`text_index`.

    A ``doc_ids`` ledger, not the postings, records the admitted docs (a
    doc with no tokens leaves no postings): a doc whose id is already
    ledgered is a re-send and is dropped whatever its text, so doc ids are
    immutable. Exactly-once: the commit protocol in :mod:`vector_db_light_spark.commit`."""
    return commit.start(
        doc_stream,
        checkpoint_dir,
        [f"{index_dir}/{n}" for n in _TEXT_INDEX],
        partial(_text_index_body, index_dir=index_dir, id_col=id_col, text_col=text_col),
    )


def sign_sketch(spark: SparkSession, sketch_dir: str) -> DataFrame | None:
    """(id, w0..wN): the committed sign sketch under ``sketch_dir``; None
    before the first batch."""
    return commit.Slot(spark, sketch_dir).read(sketch_dir)


def _sketch_body(
    batch_df: DataFrame,
    slot: commit.Slot,
    sketch_dir: str,
    id_col: str,
    vector_col: str,
    dim: int,
) -> None:
    rows = sign_rows(batch_df.dropDuplicates([id_col]), dim, id_col, vector_col)
    old = slot.read(sketch_dir)
    if old is not None:
        rows = rows.join(old.select(id_col), id_col, "left_anti")
    slot.write(rows, sketch_dir)


def stream_sign_sketch_maintenance(
    emb_stream: DataFrame,
    sketch_dir: str,
    checkpoint_dir: str,
    id_col: str = "chunk_id",
    vector_col: str = "embedding",
    dim: int = 16,
) -> StreamingQuery:
    """Keep the 1-bit sign sketch of ``emb_stream`` current under
    ``sketch_dir``: per micro-batch the new vectors' sign words
    (operators/similarity.sign_rows, the rows ``api.build_sign_sketch``
    writes) are added, so after any prefix of batches the sketch equals a
    batch build over the vectors ingested so far. Read it with
    :func:`sign_sketch`.

    Every vector yields exactly one sketch row, so the sketch is its own
    ledger: an id already sketched is a re-send and is dropped, so ids are
    immutable. Exactly-once: the commit protocol in :mod:`vector_db_light_spark.commit`."""
    return commit.start(
        emb_stream,
        checkpoint_dir,
        [sketch_dir],
        partial(
            _sketch_body,
            sketch_dir=sketch_dir,
            id_col=id_col,
            vector_col=vector_col,
            dim=dim,
        ),
    )


def lm_counts(spark: SparkSession, lm_dir: str, order: int = 2) -> DataFrame | None:
    """The committed order-``order`` LM count table under ``lm_dir``
    (operators/textstats.kn_counts' shape); None before the first batch
    that admits a doc."""
    counts_dir = f"{lm_dir}/counts_{order}gram"
    return commit.Slot(spark, counts_dir).read(counts_dir)


def _lm_body(
    batch_df: DataFrame,
    slot: commit.Slot,
    counts_dir: str,
    ledger_dir: str,
    order: int,
    id_col: str,
    text_col: str,
) -> None:
    docs = _new_docs(batch_df, slot.read(ledger_dir), id_col, text_col)
    if docs is None:
        return
    counts = kn_counts(docs, order, id_col=id_col, text_col=text_col)
    old = slot.read(counts_dir)
    if old is not None:
        counts = merge_kn_counts(old, counts)
    slot.write(counts, counts_dir, retire=True)
    slot.write(docs.select(id_col), ledger_dir)


def stream_lm_maintenance(
    doc_stream: DataFrame,
    lm_dir: str,
    checkpoint_dir: str,
    order: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> StreamingQuery:
    """Keep the n-gram LM count table of ``doc_stream`` current under
    ``lm_dir``: per micro-batch the new docs' counts fold in by the SUM
    monoid (operators/textstats.merge_kn_counts, the law ``api.py``'s LM
    merge uses), so after any prefix of batches the table equals a batch
    build over the docs ingested so far. Read it with :func:`lm_counts`.

    A ``doc_ids`` ledger, not the counts, records the admitted docs (a doc
    with no n-grams leaves no counts): a doc whose id is already ledgered
    is a re-send and is dropped whatever its text, so doc ids are
    immutable. Every path is scoped by ``order``, so streams of two orders
    can share ``lm_dir``. Exactly-once: the commit protocol in
    :mod:`vector_db_light_spark.commit`."""
    if order not in LM_ORDERS:
        raise ValueError(f"unsupported LM order {order}")
    counts_dir = f"{lm_dir}/counts_{order}gram"
    ledger_dir = f"{lm_dir}/doc_ids_{order}gram"
    return commit.start(
        doc_stream,
        checkpoint_dir,
        [counts_dir, ledger_dir],
        partial(
            _lm_body,
            counts_dir=counts_dir,
            ledger_dir=ledger_dir,
            order=order,
            id_col=id_col,
            text_col=text_col,
        ),
    )


def packed_spans(spark: SparkSession, pack_dir: str) -> DataFrame | None:
    """(id, n_tok, tok_start, first_bin, last_bin, n_bins): the committed
    spans under ``pack_dir``; None before the first batch that admits a
    doc."""
    spans_dir = f"{pack_dir}/spans"
    return commit.Slot(spark, spans_dir).read(spans_dir)


def _pack_body(
    batch_df: DataFrame,
    slot: commit.Slot,
    spans_dir: str,
    merges: list,
    budget: int,
    id_col: str,
    text_col: str,
) -> None:
    old = slot.read(spans_dir)
    docs = _new_docs(batch_df, old, id_col, text_col)
    if docs is None:
        return
    cursor = 0
    if old is not None:
        cursor = int(
            old.agg(
                F.coalesce(
                    F.max(F.col("tok_start") + F.col("n_tok")),
                    F.lit(0).cast("long"),
                )
            ).first()[0]
        )
    counts = docs.select(id_col).join(
        bpe_tokenize_counts_scalable(
            docs, merges, text_col=text_col, id_col=id_col
        ).select(
            F.col(id_col),
            F.col("n_tokens_after").cast("long").alias("n_tok"),
        ),
        id_col,
        "left",
    ).select(
        F.col(id_col),
        F.coalesce("n_tok", F.lit(0).cast("long")).alias("n_tok"),
    )
    # batch-local layout, then shift by the stream cursor and re-cut
    # the bins from the SHIFTED offsets (the bin boundary depends on
    # the global stream position, not the batch-local one)
    local = pack_spans(counts, budget, id_col=id_col).select(
        id_col, "n_tok", (F.col("tok_start") + F.lit(cursor)).alias("tok_start")
    )
    fb = F.expr(f"tok_start div {budget}")
    lb = F.greatest(fb, F.expr(f"(tok_start + n_tok - 1) div {budget}"))
    spans = local.select(
        id_col,
        "n_tok",
        "tok_start",
        fb.cast("long").alias("first_bin"),
        lb.cast("long").alias("last_bin"),
        (lb - fb + 1).cast("long").alias("n_bins"),
    )
    slot.write(spans, spans_dir)


def stream_tokenize_pack(
    doc_stream: DataFrame,
    pack_dir: str,
    checkpoint_dir: str,
    merges: list,
    budget: int = 512,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> StreamingQuery:
    """Streaming tokenize-then-pack (r13): arriving documents are
    tokenized under the FROZEN BPE merge table (the
    api.build_tokenizer serving contract — the artifact never drifts
    mid-stream) with the rank-based vocabulary-factored apply, then
    packed into ``budget``-token training bins CONTINUING the global
    token stream across micro-batches: the cursor (total tokens laid out
    so far) is derived from the committed spans themselves
    (max(tok_start + n_tok)). ARRIVAL order defines the stream layout —
    that is the production contract (a packing job lays out data in the
    order it lands); when batches happen to arrive in id order the table
    additionally equals the batch tokenize-pack over the union
    (operators/packing.pack_spans' law, pinned by test). Read the spans
    with :func:`packed_spans`.

    Every doc yields exactly one span row (a zero-token doc gets n_tok=0),
    so the spans are their own ledger: an id already packed is a re-send
    and is dropped, so doc ids are immutable. Exactly-once: the commit
    protocol in :mod:`vector_db_light_spark.commit`."""
    spans_dir = f"{pack_dir}/spans"
    return commit.start(
        doc_stream,
        checkpoint_dir,
        [spans_dir],
        partial(
            _pack_body,
            spans_dir=spans_dir,
            merges=merges,
            budget=budget,
            id_col=id_col,
            text_col=text_col,
        ),
    )
