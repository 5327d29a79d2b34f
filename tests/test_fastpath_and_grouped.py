"""pandas-UDF kNN fast path vs Catalyst fold; applyInPandas grouped-map vs
window SQL; streaming dedup across batches."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from conftest import SF_ORACLE, SF_SMOKE


def test_knn_pandas_agrees_with_fold(spark):
    from vector_db_light_spark.functions.vector import default_query_vector
    from vector_db_light_spark.operators.knn import knn, knn_pandas

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    q = default_query_vector()
    a = {r["vec_id"]: r["distance"] for r in knn(emb, q, k=20).collect()}
    b = {r["vec_id"]: r["distance"] for r in knn_pandas(emb, q, k=20).collect()}
    assert set(a) == set(b)  # same top-20 ids
    for vid in a:
        assert abs(a[vid] - b[vid]) < 1e-11


def test_stream_dedup_across_batches(spark, tmp_path):
    from vector_db_light_spark.streaming.ingest import stream_dedup_exact

    src = str(tmp_path / "src")

    def write(rows):
        spark.createDataFrame(rows, "doc_id bigint, doc_hash string").write.mode(
            "append"
        ).parquet(src)

    write([(0, "h0"), (1, "h1"), (2, "h0")])
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    out = stream_dedup_exact(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_t")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        n1 = spark.sql("SELECT count(DISTINCT doc_hash) c FROM dedup_t").collect()[0]["c"]
        rows1 = spark.sql("SELECT count(*) c FROM dedup_t").collect()[0]["c"]
        assert (n1, rows1) == (2, 2)  # h0 duplicate dropped within batch

        write([(3, "h1"), (4, "h2")])  # h1 is a CROSS-batch duplicate
        q.processAllAvailable()
        rows2 = {
            (r["doc_hash"]): r["c"]
            for r in spark.sql(
                "SELECT doc_hash, count(*) c FROM dedup_t GROUP BY 1"
            ).collect()
        }
        assert rows2 == {"h0": 1, "h1": 1, "h2": 1}
    finally:
        q.stop()


def test_stream_dedup_watermark_evicts_state(spark, tmp_path):
    """The bounded-memory contract of the watermarked variant: a duplicate
    arriving WITHIN the watermark is dropped, and once the watermark has
    advanced past a hash's eviction point its state is gone — a much-later
    re-occurrence is emitted again. (Unbounded-state dedup at 100 TB is a
    slow OOM; eviction is what makes the operator deployable.)"""
    from vector_db_light_spark.streaming.ingest import stream_dedup_exact

    src = str(tmp_path / "src_wm")

    def write(rows):
        spark.createDataFrame(
            rows, "doc_id bigint, doc_hash string, ts string"
        ).write.mode("append").parquet(src)

    write([(0, "h0", "2026-01-01 00:00:00"), (1, "h0", "2026-01-01 00:10:00")])
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    out = stream_dedup_exact(stream, ts_col="ts", watermark_delay="1 hour")
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_wm")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_wm"))
        .start()
    )
    try:
        q.processAllAvailable()
        assert spark.sql("SELECT count(*) c FROM dedup_wm").collect()[0]["c"] == 1

        # advance event time far past h0's expiry (00:00 + 1h watermark)
        write([(2, "h1", "2026-01-01 06:00:00")])
        q.processAllAvailable()
        # h0's state is evicted -> the same content re-emits
        write([(3, "h0", "2026-01-01 06:30:00")])
        q.processAllAvailable()
        per_hash = {
            r["doc_hash"]: r["c"]
            for r in spark.sql(
                "SELECT doc_hash, count(*) c FROM dedup_wm GROUP BY 1"
            ).collect()
        }
        assert per_hash == {"h0": 2, "h1": 1}
    finally:
        q.stop()
