"""Incremental ingest + streaming analytics (SURVEY.md §2.8).

The reference has no streaming — its closest mechanism is a 500 ms QTimer
polling the docs directory (``gui_tabs_databases.py:231-234``). The Spark
re-expression: Structured Streaming file source over the same directory ->
the SAME chunk/clean expressions used in batch -> ``foreachBatch`` for the
embedding stage (mapInPandas inside a micro-batch) -> append to the
embeddings table. Exactly-once: each micro-batch's chunks land in its own
slot under the commit protocol in :mod:`vector_db_light_spark.commit`, replacing the
reference's delete-and-rebuild model.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..functions.embedding import embed_documents
from ..operators.chunking import chunk_fixed
from .. import commit


def stream_ingest(
    spark: SparkSession,
    source_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    chunk_size: int = 1200,
) -> StreamingQuery:
    """Watch ``source_dir`` for new text files; chunk + embed each
    micro-batch; write parquet under ``output_dir``. Returns the running
    query."""
    from ..registry import _ship_package

    _ship_package(spark)  # micro-batch embed stage is mapInPandas
    docs = (
        spark.readStream.format("text")
        .option("wholetext", "true")
        .load(source_dir)
        .select(
            # bounded so chunk_id = doc_id * ID_STRIDE + offset can't
            # overflow a long (xxhash64 is full-range 64-bit)
            F.pmod(F.xxhash64(F.input_file_name()), F.lit(2**31)).alias("doc_id"),
            F.input_file_name().alias("file_path"),
            F.col("value").alias("text"),
        )
    )

    # Chunk + embed inside the micro-batch (plain batch plans there; no
    # stream-stream join needed).
    def process_batch(batch_df: DataFrame, slot: commit.Slot) -> None:
        chunks = chunk_fixed(batch_df, chunk_size).join(
            batch_df.select("doc_id", "file_path"), "doc_id"
        )
        embedded = embed_documents(chunks, id_col="chunk_id", text_col="chunk_text")
        slot.write(chunks.join(embedded, "chunk_id"), output_dir)

    return commit.start(docs, checkpoint_dir, [output_dir], process_batch)


def stream_dedup_exact(
    stream: DataFrame,
    hash_col: str = "doc_hash",
    ts_col: str | None = None,
    watermark_delay: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup: keep the first row per content hash ACROSS
    micro-batches (stateful dropDuplicates). With an event-time column the
    state is watermark-evicted (bounded memory — mandatory at scale); without
    one, state grows unboundedly (dev/test only)."""
    if ts_col is not None:
        from pyspark.sql import functions as F

        stream = stream.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
        return stream.withWatermark(ts_col, watermark_delay).dropDuplicatesWithinWatermark(
            [hash_col]
        )
    return stream.dropDuplicates([hash_col])


def windowed_event_counts(
    events_stream: DataFrame,
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked (sliding) window counts — late rows beyond the watermark
    are dropped instead of reopening closed windows."""
    w = F.window("ts", window, slide) if slide else F.window("ts", window)
    # withWatermark requires TIMESTAMP (instant) event time, not NTZ.
    events_stream = events_stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        events_stream.withWatermark("ts", watermark)
        .groupBy(w.alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "total_value")
    )
