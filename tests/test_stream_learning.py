"""Streaming perceptron training (streaming/learning.py): continuation
from persisted weights, replay idempotence, and exactly-once training
under a crash between the weights and examples writes."""

from __future__ import annotations

from functools import partial

import pytest

from vector_db_light_spark.operators.classifier import (
    count_examples,
    train_perceptron,
)
from test_stream_commit import _arm, _Crash
from vector_db_light_spark import commit
from vector_db_light_spark.streaming.learning import (
    _example_body,
    current_weights,
    stream_train,
)


def _dirs(tmp_path):
    return (
        str(tmp_path / "examples"),
        str(tmp_path / "weights"),
        str(tmp_path / "ckpt"),
    )


_B1 = [(1, 3, 1, 1), (2, 0, 4, -1), (3, 5, 2, 1), (4, 1, 6, -1)]
_B2 = [(5, 2, 2, 1), (6, 0, 1, -1), (7, 4, 0, 1), (8, 1, 3, -1)]
_SCHEMA = "id bigint, x0 bigint, x1 bigint, y bigint"


def test_stream_train_continues_and_matches_manual_replay(spark, tmp_path):
    examples, weights, ckpt = _dirs(tmp_path)
    src = str(tmp_path / "incoming")

    def drain():
        stream = spark.readStream.schema(
            spark.read.parquet(src).schema
        ).parquet(src)
        stream_train(
            stream, examples, weights, ckpt, ["x0", "x1"], rounds_per_batch=2
        ).awaitTermination(180)

    spark.createDataFrame(_B1, _SCHEMA).write.mode("append").parquet(src)
    drain()
    w_after_1, b_after_1, applied_1 = current_weights(spark, weights, 2)
    # batch 1 from zeros == plain 2-round batch training on those examples
    manual = train_perceptron(
        count_examples(spark.createDataFrame(_B1, _SCHEMA), ["x0", "x1"]), 2
    )
    _, _, w0, w1, b = manual[-1]
    assert (w_after_1, b_after_1) == ([w0, w1], b)

    spark.createDataFrame(_B2, _SCHEMA).write.mode("append").parquet(src)
    drain()
    w_after_2, b_after_2, applied_2 = current_weights(spark, weights, 2)
    assert applied_2 > applied_1
    assert (w_after_2, b_after_2) != (w_after_1, b_after_1)
    # example log is exactly-once
    assert spark.read.parquet(examples).count() == 8
    # draining with no new input changes nothing
    drain()
    assert current_weights(spark, weights, 2) == (
        w_after_2, b_after_2, applied_2,
    )


def test_stream_train_crash_between_weights_and_examples(
    spark, tmp_path, monkeypatch
):
    """Crash after the weights write but before the examples write: the
    replay lands in the same slot, so the weights advance exactly once."""
    examples, weights, _ = _dirs(tmp_path)
    ref = (str(tmp_path / "ref_examples"), str(tmp_path / "ref_weights"))

    def apply(rows, dirs, batch_id):
        body = partial(
            _example_body, examples_dir=dirs[0], weights_dir=dirs[1],
            feature_cols=["x0", "x1"], label_col="y", id_col="id",
            rounds_per_batch=2,
        )
        batch = spark.createDataFrame(rows, _SCHEMA)
        commit.apply(batch, [dirs[1], dirs[0]], body, batch_id, "q")

    apply(_B1, ref, 0)
    apply(_B2, ref, 1)

    apply(_B1, (examples, weights), 0)
    _arm(monkeypatch, crash_at=2)
    with pytest.raises(_Crash):
        apply(_B2, (examples, weights), 1)
    monkeypatch.undo()
    apply(_B2, (examples, weights), 1)  # the replay

    assert current_weights(spark, weights, 2) == current_weights(spark, ref[1], 2)
    assert spark.read.parquet(weights).count() == 2  # one row per batch
    assert spark.read.parquet(examples).count() == 8  # log completed once
