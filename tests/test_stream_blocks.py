"""Streaming CDC block dedup (streaming/blocks.py): equals-batch novelty,
cross-batch re-sync against the persisted index, re-sends (same doc id)
adding nothing."""

from __future__ import annotations

from functools import partial

from pyspark.sql import functions as F

from vector_db_light_spark import commit
from vector_db_light_spark.streaming.blocks import _block_body, stream_block_dedup

_BASE = "the quick brown fox jumps over the lazy dog " * 8
# varied text (no internal repetition): every chunk within the doc is
# distinct, so "first batch => all new" assertions hold
_VARIED = " ".join(f"w{i}tok{(i * 7) % 13}x" for i in range(60))
_MASK = 16  # dense boundaries so re-sync is observable on short docs


def _ingest(batch_df, idx, st, batch_id, source="q"):
    body = partial(_block_body, index_dir=idx, stats_dir=st, window=16, mask=_MASK)
    commit.apply(batch_df, [idx, st], body, batch_id, source)


def _stats(spark, stats_dir):
    out = {}
    df = spark.read.option("basePath", stats_dir).parquet(stats_dir)
    for r in df.collect():
        out[r["doc_id"]] = (
            r["n_chunks"], r["n_new_chunks"], r["new_bytes"], r["dup_bytes"]
        )
    return out


def test_stream_blocks_cross_batch_and_replay(spark, tmp_path):
    idx = str(tmp_path / "idx")
    st = str(tmp_path / "stats")

    b0 = spark.createDataFrame(
        [(1, _VARIED), (2, "totally unrelated content right here")],
        "doc_id bigint, text string",
    )
    _ingest(b0, idx, st, 0)
    s = _stats(spark, st)
    # first batch: everything new
    assert s[1][1] == s[1][0] and s[1][3] == 0
    assert s[2][1] == s[2][0]

    # batch 1: an exact copy and a prefix-shifted copy dedup against the
    # PERSISTED index (cross-batch CDC re-sync), a new doc does not
    b1 = spark.createDataFrame(
        [
            (10, _VARIED),                     # exact copy of doc 1
            (11, "EDITEDPREFIX " + _VARIED),   # shifted copy — re-syncs
            (12, "another brand new document body"),
        ],
        "doc_id bigint, text string",
    )
    _ingest(b1, idx, st, 1)
    s = _stats(spark, st)
    assert s[10][1] == 0 and s[10][2] == 0          # fully deduped
    assert 0 < s[11][1] < s[11][0]                   # head new, tail dup
    assert s[11][3] > 0
    assert s[12][1] == s[12][0]                      # genuinely new

    # batch 1 re-delivered under a fresh query (a new checkpoint): its doc
    # ids already have stats, so neither the stats nor the index change
    n_idx = spark.read.parquet(idx).count()
    before = s
    _ingest(b1, idx, st, 0, source="fresh")
    assert _stats(spark, st) == before
    assert spark.read.parquet(idx).count() == n_idx
    # index owners are unique per chunk
    dup_owners = (
        spark.read.parquet(idx).groupBy("chunk_md5").count().filter("count > 1")
    )
    assert dup_owners.count() == 0


def test_stream_blocks_doc_ids_are_immutable(spark, tmp_path):
    """A committed doc id re-sent with DIFFERENT text is a re-send, not a
    new version: it is dropped, so neither the stats nor the index change."""
    idx = str(tmp_path / "idx")
    st = str(tmp_path / "stats")
    schema = "doc_id bigint, text string"
    _ingest(spark.createDataFrame([(1, _VARIED)], schema), idx, st, 0)
    before, n_idx = _stats(spark, st), spark.read.parquet(idx).count()
    edited = spark.createDataFrame([(1, "a new version of document one")], schema)
    _ingest(edited, idx, st, 1)
    assert _stats(spark, st) == before
    assert spark.read.parquet(idx).count() == n_idx


def test_stream_blocks_equals_batch_operator(spark, tmp_path):
    """Two streamed batches == the batch operator's stats on the union
    (doc ids assigned in arrival order, the module-docstring contract)."""
    from vector_db_light_spark.operators.dedup import cdc_chunk_stats

    idx = str(tmp_path / "idx")
    st = str(tmp_path / "stats")
    rows = [
        (1, _BASE),
        (2, "some other words entirely for the second doc"),
        (3, _BASE),                       # dupes doc 1, next batch
        (4, "EDITEDPREFIX " + _BASE),     # shifted, next batch
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    want = {
        r["doc_id"]: (r["n_chunks"], r["n_chunks"] - r["n_dup_chunks"])
        for r in cdc_chunk_stats(df, mask=_MASK).collect()
    }
    _ingest(df.filter(F.col("doc_id") <= 2), idx, st, 0)
    _ingest(df.filter(F.col("doc_id") > 2), idx, st, 1)
    got = {k: (v[0], v[1]) for k, v in _stats(spark, st).items()}
    assert got == want


def test_stream_blocks_end_to_end(spark, tmp_path):
    src = str(tmp_path / "src")
    idx = str(tmp_path / "idx")
    st = str(tmp_path / "stats")
    ckpt = str(tmp_path / "ckpt")

    spark.createDataFrame(
        [(1, _VARIED), (2, _VARIED)], "doc_id bigint, text string"
    ).write.mode("append").parquet(src)
    stream = spark.readStream.schema("doc_id bigint, text string").parquet(src)
    stream_block_dedup(stream, idx, st, ckpt, mask=_MASK).awaitTermination(180)
    s = _stats(spark, st)
    assert s[1][1] == s[1][0]  # doc 1 owns its chunks
    assert s[2][1] == 0        # doc 2 fully deduped in-batch
