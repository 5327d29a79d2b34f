"""Streaming CDC block-level dedup ingest: each micro-batch of documents
is content-defined-chunked (operators/dedup.cdc_chunks — the IDENTICAL
boundary rule as the batch operator) and fingerprinted against the
persisted chunk index; only chunks the store has never seen are appended.
This is the dedup-store ingest loop (backup systems, artifact stores,
LBFS-family transfer): per batch, "which blocks are new?" costs one join
of the batch's fingerprints against the index, never a corpus rescan.

The index records WHICH occurrence first contributed each chunk (owner
doc_id + pos, first by (doc_id, pos) — the batch operator's exact
first-owner rule). Exactly-once: the commit protocol in
:mod:`vector_db_light_spark.commit`.

At 100 TB: the chunk index is the persisted fingerprint table (bucketed
by chunk_md5, so the per-batch join co-locates); batches touch index
partitions proportional to THEIR chunks. Cross-batch semantics equal the
batch operator's global (doc_id, pos) ranking whenever doc ids are
assigned in arrival order — pinned by the equals-batch test.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.window import Window

from ..obs import materialize
from ..operators.dedup import cdc_chunks
from .. import commit


def _block_body(
    batch_df: DataFrame,
    slot: commit.Slot,
    index_dir: str,
    stats_dir: str,
    window: int,
    mask: int,
) -> None:
    seen = slot.read(stats_dir)
    if seen is not None:
        batch_df = batch_df.join(seen.select("doc_id"), "doc_id", "left_anti")
    chunks = cdc_chunks(batch_df, window=window, mask=mask)
    # in-batch first owner by (doc_id, pos) — the batch operator's rule
    w = Window.partitionBy("chunk_md5").orderBy("doc_id", "pos")
    occ = chunks.withColumn("_rk", F.row_number().over(w))
    idx = slot.read(index_dir)
    if idx is not None:
        occ = occ.join(
            idx.select("chunk_md5", F.lit(True).alias("_indexed")),
            "chunk_md5",
            "left",
        )
    else:
        occ = occ.withColumn("_indexed", F.lit(None).cast("boolean"))
    # "new by this occurrence": absent from the index and first in batch;
    # feeds the stats write and the index write
    marked = materialize(
        occ.select(
            "doc_id", "pos", "chunk_md5", "chunk_len",
            (F.col("_indexed").isNull() & (F.col("_rk") == 1))
            .cast("int")
            .alias("_is_new"),
        )
    )

    stats = marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_chunks"),
        F.sum("_is_new").cast("long").alias("n_new_chunks"),
        F.sum(F.when(F.col("_is_new") == 1, F.col("chunk_len")).otherwise(0))
        .cast("long")
        .alias("new_bytes"),
        F.sum(F.when(F.col("_is_new") == 0, F.col("chunk_len")).otherwise(0))
        .cast("long")
        .alias("dup_bytes"),
    )
    slot.write(stats, stats_dir)
    slot.write(
        marked.filter(F.col("_is_new") == 1).select(
            "chunk_md5",
            F.col("doc_id").alias("owner_doc"),
            F.col("pos").alias("owner_pos"),
            "chunk_len",
        ),
        index_dir,
    )


def stream_block_dedup(
    doc_stream: DataFrame,
    index_dir: str,
    stats_dir: str,
    checkpoint_dir: str,
    window: int = 16,
    mask: int = 64,
) -> StreamingQuery:
    """Fold ``doc_stream`` (doc_id, text) into the chunk fingerprint index
    at ``index_dir``; per-doc novelty stats land under ``stats_dir``.
    Doc ids are immutable: a doc whose id already has committed stats is a
    re-send and is dropped, whatever its text — store a new version under
    a new id. Returns the running query (availableNow trigger — rerun to
    drain)."""
    return commit.start(
        doc_stream,
        checkpoint_dir,
        [index_dir, stats_dir],
        partial(
            _block_body, index_dir=index_dir, stats_dir=stats_dir,
            window=window, mask=mask,
        ),
    )
