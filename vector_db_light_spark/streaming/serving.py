"""Streaming ANN serving: a continuous stream of query vectors answered
against the static (build-time) IVF index.

The reference serves queries one at a time from the GUI thread
(``/root/reference/vector_db_query.py:142-210``); the Spark re-expression
is the same micro-batch amortization every vector-serving tier applies —
queries arrive as a stream, each micro-batch is answered with the BATCH
IVF plan (``operators/similarity.py::batch_ivf_topk``): broadcast centroid
probe + cluster equi-join + WindowGroupLimit top-k, so a batch of B
queries costs one pruned corpus pass, not B scans.

foreachBatch (not a stream-static join) is deliberate: the top-k needs a
rank window over the joined result, which Structured Streaming cannot run
inside an append-mode continuous plan — inside foreachBatch the micro-batch
is a plain batch DataFrame, so the exact serving plan (and its plan-pinned
shuffle bounds) is reused verbatim. Exactly-once: each micro-batch's hits
land in its own slot under the commit protocol in :mod:`streaming.commit`.

The maintenance sinks below (text index, sign sketch, LM, tokenize-pack)
keep their own replay posture, each stated in its docstring: their
on-disk layouts are shared with ``api.py``'s build and search paths.

At 100 TB the corpus side stays partitioned by cluster_id on disk and the
probe list is broadcast per micro-batch — the stream never forces a corpus
shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from ..obs import materialize
from ..operators.similarity import batch_ivf_topk
from . import commit


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
    from pyspark.sql import functions as F

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


def stream_text_index_maintenance(
    doc_stream: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> StreamingQuery:
    """Incremental MAINTENANCE of the persisted lexical index from a
    document stream — the lexical twin of the embedding-side streaming
    ingest: per micro-batch, the NEW docs' postings append to their
    term-bucket partitions and the term/stats/block sidecars merge by
    their monoids (api._append_text_index's contract), so after any
    prefix of batches the on-disk index equals a batch rebuild over the
    docs ingested so far (pinned by test_text_index).

    Idempotence is a DOC-LEVEL anti-join, the line_dedup_incremental
    pattern: a batch's docs are dropped if their id is already in the
    index's ``doc_ids`` LEDGER (one anti-join, batch-proportional; the
    ledger — not the postings — is the membership test, because a doc
    with no tokens leaves no postings yet must still not re-merge into
    the stats monoid on replay, found by test). A batch that COMPLETED
    replays as a no-op: it appends nothing and merges identity deltas —
    bit-identical sidecars. A batch that TORE mid-write (foreachBatch is
    at-least-once; the ledger lands last) is NOT silently absorbable —
    its postings are partially appended and the monoids partially
    merged — so each batch brackets its writes with an ``_inflight``
    intent marker (written before the first mutation, removed after the
    ledger append): a replay that finds a stale marker RAISES with a
    rebuild instruction instead of double-merging (ADVICE r11). The
    merged sidecars are localCheckpoint'ed BEFORE overwriting the paths
    their plans read (CLAUDE.md recache-by-path rule); the postings
    append itself never re-reads the postings path in the same plan.
    Not on the :mod:`streaming.commit` protocol: the on-disk layout is
    shared with ``api.py``'s build and search paths."""
    import os

    from pyspark.sql import functions as F

    from ..operators.text_search import (
        build_text_block_meta,
        build_text_index_tables,
        build_text_positions,
        index_block_size,
    )

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        docs = batch_df.select(F.col(id_col), F.col(text_col))
        p_path = f"{index_dir}/postings"
        t_path = f"{index_dir}/terms"
        s_path = f"{index_dir}/stats"
        b_path = f"{index_dir}/blocks"
        d_path = f"{index_dir}/doc_ids"
        first = not os.path.isdir(d_path)
        if not first:
            indexed = spark.read.parquet(d_path)
            # the anti-join's plan READS paths this batch will APPEND to —
            # cut lineage NOW or the sidecar deltas, executed after the
            # appends, would re-run the anti-join against the mutated
            # directories and evaluate EMPTY (the recache-by-path hazard,
            # add_documents' ordering lesson)
            docs = materialize(docs.join(indexed, id_col, "left_anti"))
        if docs.isEmpty():
            return
        m_path = f"{index_dir}/_inflight"
        if os.path.exists(m_path):
            raise RuntimeError(
                f"torn micro-batch detected ({m_path} exists): a prior "
                "batch crashed between its first index write and its "
                "ledger append, so the postings/sidecars hold a partial "
                "delta that a replay cannot safely re-apply. Rebuild the "
                "index from the source docs, then remove the marker."
            )
        postings, term_meta, stats = build_text_index_tables(
            docs, id_col=id_col, text_col=text_col
        )
        postings = materialize(postings)
        positions = build_text_positions(docs, id_col=id_col, text_col=text_col)
        x_path = f"{index_dir}/positions"

        def _mark() -> None:
            os.makedirs(index_dir, exist_ok=True)
            with open(m_path, "w") as fh:
                fh.write(str(batch_id))

        if first:
            blocks = build_text_block_meta(postings, id_col=id_col)
            _mark()
            postings.write.partitionBy("term_bucket").parquet(p_path)
            term_meta.write.parquet(t_path)
            stats.write.parquet(s_path)
            blocks.write.partitionBy("term_bucket").parquet(b_path)
            positions.write.partitionBy("term_bucket").parquet(x_path)
            docs.select(id_col).write.parquet(d_path)
            os.remove(m_path)
            return
        # block_size is an index-level invariant: the delta adopts the
        # existing sidecar's size (raises on a mixed sidecar) so a
        # default change between build and maintenance can't mix sizes
        existing_b = spark.read.parquet(b_path)
        blocks = build_text_block_meta(
            postings, id_col=id_col, block_size=index_block_size(existing_b)
        )
        _mark()
        postings.write.partitionBy("term_bucket").mode("append").parquet(
            p_path
        )
        merged_t = materialize(
            spark.read.parquet(t_path)
            .unionByName(term_meta)
            .groupBy("term")
            .agg(
                F.sum("df").cast("long").alias("df"),
                F.max("tf_max").cast("long").alias("tf_max"),
                F.min("dl_min").cast("long").alias("dl_min"),
            )
        )
        merged_t.write.mode("overwrite").parquet(t_path)
        merged_s = materialize(
            spark.read.parquet(s_path)
            .unionByName(stats)
            .agg(
                F.sum("n_docs").cast("long").alias("n_docs"),
                F.sum("sum_dl").cast("long").alias("sum_dl"),
                F.sum("n_dl").cast("long").alias("n_dl"),
            )
        )
        merged_s.write.mode("overwrite").parquet(s_path)
        merged_b = materialize(
            existing_b
            .unionByName(blocks)
            .groupBy("term", "term_bucket", "_blk")
            .agg(
                F.max("tf_max").alias("tf_max"),
                F.min("dl_min").alias("dl_min"),
                F.max("block_size").alias("block_size"),
            )
        )
        merged_b.write.partitionBy("term_bucket").mode("overwrite").parquet(
            b_path
        )
        positions.write.partitionBy("term_bucket").mode("append").parquet(
            x_path
        )
        docs.select(id_col).write.mode("append").parquet(d_path)
        os.remove(m_path)

    return commit.foreach_batch(doc_stream, checkpoint_dir, apply)


def stream_sign_sketch_maintenance(
    emb_stream: DataFrame,
    sketch_dir: str,
    checkpoint_dir: str,
    id_col: str = "chunk_id",
    vector_col: str = "embedding",
    dim: int = 16,
) -> StreamingQuery:
    """Incremental MAINTENANCE of the persisted 1-bit sign sketch
    (api.build_sign_sketch's table) from an embedding stream: per
    micro-batch, the new vectors' 32-bit sign words append — the sketch
    is a pure per-row function of the embedding, so after any prefix of
    batches the table equals a batch rebuild over the vectors ingested
    so far.

    Replay idempotence needs NO separate ledger and NO torn-batch
    marker, unlike the text index: (a) every row with an embedding
    produces exactly one sketch row, so the table is its own complete
    membership ledger (the empty-doc re-admit hazard structurally cannot
    occur); (b) the batch performs ONE mutation — a single parquet
    append whose task-file commit is the atomic point — so a crash
    leaves either nothing visible or the complete delta, never a partial
    multi-table merge. The anti-join's plan reads the path the batch
    appends to, so it is localCheckpoint'ed first (recache-by-path
    rule).
    Not on the :mod:`streaming.commit` protocol: the on-disk layout is
    shared with ``api.py``'s build and search paths."""
    import os

    from pyspark.sql import functions as F

    from ..operators.similarity import sign_words_expr

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # in-batch duplicate ids would append twice (the anti-join only
        # sees the on-disk table) — CLAUDE.md rule-11 family; dedup
        # deterministically before either branch touches the table
        rows = batch_df.dropDuplicates([id_col]).select(
            F.col(id_col),
            *[
                wx.cast("bigint").alias(f"w{j}")
                for j, wx in enumerate(sign_words_expr(vector_col, dim))
            ],
        )
        if os.path.isdir(sketch_dir):
            existing = spark.read.parquet(sketch_dir).select(id_col)
            rows = materialize(rows.join(existing, id_col, "left_anti"))
            if rows.isEmpty():
                return
            rows.write.mode("append").parquet(sketch_dir)
        else:
            rows.write.parquet(sketch_dir)

    return commit.foreach_batch(emb_stream, checkpoint_dir, apply)


def stream_lm_maintenance(
    doc_stream: DataFrame,
    lm_dir: str,
    checkpoint_dir: str,
    order: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> StreamingQuery:
    """Incremental MAINTENANCE of the persisted n-gram LM count table
    from a document stream (r13, VERDICT r12 #3) — the streaming twin of
    ``api.build_lm``/``api._merge_lm``: per micro-batch, the NEW docs'
    n-gram counts fold into the on-disk table by the SUM monoid (union +
    re-sum, dropping zero counts), so after any prefix of batches the
    table equals a batch rebuild over the docs ingested so far.

    Replay posture — explicitly the LEDGER/intent-marker recipe, NOT the
    sign sketch's anti-join: the sketch is a pure per-row FUNCTION, so
    replaying a row appends a duplicate the table itself reveals; LM
    counts are a SUM, so a replayed doc silently DOUBLES its n-grams
    with nothing on disk to betray it. Hence (a) a ``doc_ids`` ledger —
    not the counts — is the membership test (a doc whose text yields no
    n-grams must still not re-merge on replay: CLAUDE.md rule 11, the
    text-index lesson), (b) in-batch duplicate ids are dropped before
    counting (rule-5/ADVICE-r12 family: the ledger can't see inside the
    batch), (c) the two mutations (counts overwrite + ledger append) are
    bracketed by an ``_inflight`` intent marker so a batch torn between
    them RAISES on replay instead of double-merging. The merged table is
    localCheckpoint'ed before overwriting the path its plan reads
    (recache-by-path rule).
    Not on the :mod:`streaming.commit` protocol: the on-disk layout is
    shared with ``api.py``'s build and search paths."""
    import os

    from pyspark.sql import functions as F

    from ..operators.dedup import tokens_expr
    from ..operators.textstats import kn_bigram_counts, kn_trigram_counts

    if order not in (2, 3):
        raise ValueError(f"unsupported LM order {order}")

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        # torn-state check FIRST — before the ledger read and every
        # emptiness return, so this sink does not skip empty batches
        # (ADVICE r13 #3: a replayed batch whose docs are all already
        # ledgered would otherwise return success while torn counts
        # persist undetected)
        c_path = f"{lm_dir}/counts_{order}gram"
        d_path = f"{lm_dir}/doc_ids_{order}gram"
        m_path = f"{lm_dir}/_inflight_{order}gram"
        if os.path.exists(m_path):
            raise RuntimeError(
                f"torn micro-batch detected ({m_path} exists): a prior "
                "batch crashed between its counts overwrite and its "
                "ledger append, so the counts hold a delta the ledger "
                "does not know about and a replay would double-merge. "
                "Rebuild the LM from the source docs, then remove the "
                "marker."
            )
        spark = batch_df.sparkSession
        docs = batch_df.dropDuplicates([id_col]).select(
            F.col(id_col), F.col(text_col)
        )
        # every path is ORDER-scoped: a shared ledger would let a
        # 2-gram stream's admissions starve a 3-gram stream pointed at
        # the same directory (each order is its own maintenance unit)
        first = not os.path.isdir(d_path)
        if not first:
            indexed = spark.read.parquet(d_path)
            # lineage cut BEFORE the batch mutates the paths this plan
            # reads (recache-by-path, the text-index ordering lesson)
            docs = materialize(docs.join(indexed, id_col, "left_anti"))
        if docs.isEmpty():
            return
        toks = docs.select(
            F.col(id_col), tokens_expr(text_col).alias("toks")
        )
        delta = (
            kn_bigram_counts(toks, id_col=id_col)
            if order == 2
            else kn_trigram_counts(toks, id_col=id_col)
        )
        cnt_col = "c_ab" if order == 2 else "c_abc"
        keys = [c for c in delta.columns if c != cnt_col]

        os.makedirs(lm_dir, exist_ok=True)
        with open(m_path, "w") as fh:
            fh.write(str(batch_id))
        if first:
            delta.write.parquet(c_path)
            docs.select(id_col).write.parquet(d_path)
        else:
            merged = materialize(
                spark.read.parquet(c_path)
                .unionByName(delta)
                .groupBy(keys)
                .agg(F.sum(cnt_col).cast("long").alias(cnt_col))
                .filter(F.col(cnt_col) > 0)
            )
            merged.write.mode("overwrite").parquet(c_path)
            docs.select(id_col).write.mode("append").parquet(d_path)
        os.remove(m_path)

    return commit.foreach_batch(doc_stream, checkpoint_dir, apply, skip_empty=False)


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
    so far) is derived from the persisted spans table itself
    (max(tok_start + n_tok)). ARRIVAL order defines the stream layout —
    that is the production contract (a packing job lays out data in the
    order it lands); when batches happen to arrive in id order the table
    additionally equals the batch tokenize-pack over the union
    (operators/packing.pack_spans' law, pinned by test).

    Replay posture — the SKETCH recipe, not the ledger one: every
    arriving doc yields exactly one span row (zero-token docs coalesce
    to n_tok=0 and still land in a bin, so the spans table is its own
    complete membership ledger), and the batch performs ONE mutation (a
    single spans append) whose task-file commit is the atomic point — a
    torn batch leaves nothing visible, so no intent marker is needed.
    In-batch duplicate ids are dropped before counting (the anti-join
    only sees the on-disk table).
    Not on the :mod:`streaming.commit` protocol: the on-disk layout is
    shared with ``api.py``'s build and search paths."""
    import os

    from pyspark.sql import functions as F

    from ..operators.packing import pack_spans
    from ..operators.textstats import bpe_tokenize_counts_scalable

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        docs = batch_df.dropDuplicates([id_col]).select(
            F.col(id_col), F.col(text_col)
        )
        s_path = f"{pack_dir}/spans"
        cursor = 0
        first = not os.path.isdir(s_path)
        if not first:
            existing = spark.read.parquet(s_path)
            docs = materialize(docs.join(existing.select(id_col), id_col, "left_anti"))
            if docs.isEmpty():
                return
            row = existing.agg(
                F.coalesce(
                    F.max(F.col("tok_start") + F.col("n_tok")),
                    F.lit(0).cast("long"),
                ).alias("c")
            ).collect()[0]
            cursor = int(row["c"])
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
            id_col, "n_tok", (F.col("tok_start") + F.lit(cursor)).alias(
                "tok_start"
            )
        )
        fb = F.expr(f"tok_start div {budget}")
        lb = F.greatest(
            fb, F.expr(f"(tok_start + n_tok - 1) div {budget}")
        )
        spans = local.select(
            id_col,
            "n_tok",
            "tok_start",
            fb.cast("long").alias("first_bin"),
            lb.cast("long").alias("last_bin"),
            (lb - fb + 1).cast("long").alias("n_bins"),
        )
        spans.write.mode("append").parquet(s_path)

    return commit.foreach_batch(doc_stream, checkpoint_dir, apply)
