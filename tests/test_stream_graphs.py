"""Streaming triangle maintenance: per-node counts stay equal to a full
recount as edge batches land, across restarts and crash replays."""

from __future__ import annotations

from functools import partial

from vector_db_light_spark import commit
from vector_db_light_spark.streaming.graphs import (
    _edge_body,
    stream_triangle_counts,
    triangle_counts,
)


def _apply(batch_df, edges, counts, batch_id, source="q"):
    body = partial(_edge_body, edges_dir=edges, counts_dir=counts)
    commit.apply(batch_df, [counts, edges], body, batch_id, source)


def _counts(spark, d):
    return {
        r["node"]: r["n_triangles"] for r in triangle_counts(spark, d).collect()
    }


def _recount(spark, edges_dir):
    from vector_db_light_spark.operators.graph import count_triangles

    return {
        r["node"]: r["n_triangles"]
        for r in count_triangles(
            spark.read.parquet(edges_dir), src="u", dst="v"
        ).collect()
    }


def test_stream_triangle_counts_match_recount(spark, tmp_path):
    src = str(tmp_path / "incoming")
    edges = str(tmp_path / "edges")
    counts = str(tmp_path / "counts")
    ckpt = str(tmp_path / "ckpt")

    def write(rows):
        spark.createDataFrame(rows, "u long, v long").write.mode(
            "append"
        ).parquet(src)

    def drain():
        stream = spark.readStream.schema(
            spark.read.parquet(src).schema
        ).parquet(src)
        q = stream_triangle_counts(stream, edges, counts, ckpt)
        q.awaitTermination(180)

    # batch 1: a K4 — 4 triangles, every node in 3
    write([(a, b) for a in range(1, 5) for b in range(a + 1, 5)])
    drain()
    assert _counts(spark, counts) == {1: 3, 2: 3, 3: 3, 4: 3}

    # batch 2 (restart): close three new triangles through node 5 —
    # (1,2,5), (1,3,5), (2,3,5) — and re-send one duplicate edge
    # (must not change anything)
    write([(1, 5), (2, 5), (3, 5), (1, 2)])
    drain()
    got = _counts(spark, counts)
    assert got == _recount(spark, edges)
    assert got[5] == 3
    assert set(got) == {1, 2, 3, 4, 5}


def test_edge_batch_replay_is_idempotent(spark, tmp_path):
    edges = str(tmp_path / "edges")
    counts = str(tmp_path / "counts")
    k4 = spark.createDataFrame(
        [(a, b) for a in range(1, 5) for b in range(a + 1, 5)], "u long, v long"
    )
    _apply(k4, edges, counts, 0)
    base = _counts(spark, counts)
    # re-delivery of the committed batch: skipped by its commit record
    _apply(k4, edges, counts, 0)
    assert _counts(spark, counts) == base
    # the same edges under a fresh query (a new checkpoint): the anti-join
    # against the committed edges leaves nothing to count
    _apply(k4, edges, counts, 0, source="fresh")
    assert _counts(spark, counts) == base

    # fresh batch applied normally, then re-delivered: a no-op
    tri5 = spark.createDataFrame([(1, 5), (2, 5)], "u long, v long")
    _apply(tri5, edges, counts, 1)
    after_1 = _counts(spark, counts)
    _apply(tri5, edges, counts, 1)
    assert _counts(spark, counts) == after_1
    assert after_1 == _recount(spark, edges)
