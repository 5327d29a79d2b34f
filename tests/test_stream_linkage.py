"""Streaming entity resolution (streaming/linkage.py): in-batch and
batch-vs-corpus links over the persisted positional-gram index, across
micro-batches, restarts and the crash-replay window."""

from __future__ import annotations

from functools import partial

import pytest

from test_stream_commit import _arm, _Crash
from vector_db_light_spark import commit
from vector_db_light_spark.streaming.linkage import _link_body, stream_link


def _link(batch_df, keys, index, pairs, batch_id, source="q"):
    body = partial(
        _link_body, keys_dir=keys, index_dir=index, pairs_dir=pairs,
        key_col="key", id_col="id", max_dist=2, q=3,
    )
    commit.apply(batch_df, [keys, index, pairs], body, batch_id, source)


def _dirs(tmp_path):
    return (
        str(tmp_path / "keys"),
        str(tmp_path / "index"),
        str(tmp_path / "pairs"),
        str(tmp_path / "ckpt"),
    )


def test_stream_link_finds_in_batch_and_corpus_links(spark, tmp_path):
    keys, index, pairs, ckpt = _dirs(tmp_path)
    src = str(tmp_path / "incoming")

    def write(rows):
        spark.createDataFrame(rows, "id bigint, key string").write.mode(
            "append"
        ).parquet(src)

    def drain():
        stream = spark.readStream.schema(
            spark.read.parquet(src).schema
        ).parquet(src)
        stream_link(stream, keys, index, pairs, ckpt).awaitTermination(180)

    # batch 1: two in-batch near-matches + one unrelated
    write(
        [
            (1, "the quick brown fox jumps over"),
            (2, "the quick brown fox jumps ove"),   # dist 1 to 1
            (3, "completely unrelated record here"),
        ]
    )
    drain()
    got = {
        (r["id_a"], r["id_b"]): r["dist"]
        for r in spark.read.parquet(pairs).distinct().collect()
    }
    assert got == {(1, 2): 1}

    # batch 2: links to the CORPUS (1 and 2), plus a fresh singleton
    write(
        [
            (10, "the quick brown fox jumpz over"),  # dist 1 to 1, 2 to 2
            (11, "nothing like anything seen before"),
        ]
    )
    drain()
    got = {
        (r["id_a"], r["id_b"]): r["dist"]
        for r in spark.read.parquet(pairs).distinct().collect()
    }
    assert got == {(1, 2): 1, (1, 10): 1, (2, 10): 2}
    # state covers all records
    assert {r["id"] for r in spark.read.parquet(keys).collect()} == {
        1, 2, 3, 10, 11,
    }

    # draining again with no new data changes nothing
    drain()
    assert (
        spark.read.parquet(pairs).distinct().count() == 3
    )


def _rows(spark, d):
    """Rows of ``d`` without the slot column, duplicates kept."""
    return sorted(tuple(r) for r in spark.read.parquet(d).drop("batch").collect())


def test_stream_link_crash_replay_duplicates_but_never_loses(
    spark, tmp_path, monkeypatch
):
    """A crash after the pairs write, before the index and key writes:
    the replay re-finds the batch's links into the same slot — never
    lost, and now never duplicated either."""
    keys, index, pairs, _ = _dirs(tmp_path)
    b1 = spark.createDataFrame(
        [(1, "the quick brown fox jumps over")], "id bigint, key string"
    )
    _link(b1, keys, index, pairs, 0)
    b2 = spark.createDataFrame(
        [(5, "the quick brown fox jumps ove")], "id bigint, key string"
    )
    _arm(monkeypatch, crash_at=2)
    with pytest.raises(_Crash):
        _link(b2, keys, index, pairs, 1)
    monkeypatch.undo()
    _link(b2, keys, index, pairs, 1)  # the replay
    assert _rows(spark, pairs) == [(1, 5, 1)]
    # re-delivered under a fresh query: id 5 is committed, nothing is added
    _link(b2, keys, index, pairs, 0, source="fresh")
    assert _rows(spark, pairs) == [(1, 5, 1)]


def test_stream_link_mid_batch_crash_points(spark, tmp_path, monkeypatch):
    """VERDICT r8 #8: crash a batch after its pairs write, and another
    after its pairs and index writes, then replay each. No pair or index
    row is duplicated, and a LATER batch still finds corpus links against
    the replayed records."""
    keys, index, pairs, _ = _dirs(tmp_path)

    def crash_then_replay(batch, k):
        _arm(monkeypatch, crash_at=k)
        with pytest.raises(_Crash):
            _link(batch, keys, index, pairs, k)
        monkeypatch.undo()
        _link(batch, keys, index, pairs, k)

    b1 = spark.createDataFrame(
        [(1, "the quick brown fox jumps over")], "id bigint, key string"
    )
    _link(b1, keys, index, pairs, 0)
    # crash point A: pairs written, index and keys not
    crash_then_replay(
        spark.createDataFrame(
            [(5, "the quick brown fox jumps ove")], "id bigint, key string"
        ),
        2,
    )
    # crash point B: pairs and index written, keys not
    crash_then_replay(
        spark.createDataFrame(
            [(7, "a totally different base string")], "id bigint, key string"
        ),
        3,
    )
    assert {r["id"] for r in spark.read.parquet(keys).collect()} == {1, 5, 7}
    idx = _rows(spark, index)
    assert len(idx) == len(set(idx))

    b4 = spark.createDataFrame(
        [(9, "a totally different base strin")],  # dist 1 to id 7
        "id bigint, key string",
    )
    _link(b4, keys, index, pairs, 4)
    assert _rows(spark, pairs) == [(1, 5, 1), (7, 9, 1)]
