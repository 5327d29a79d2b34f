"""Streaming perceptron training (streaming/learning.py): continuation
from persisted weights, replay idempotence, and the weights-before-
examples crash ordering."""

from __future__ import annotations

import shutil

from pyspark.sql import functions as F

from vector_db_light_spark.operators.classifier import (
    count_examples,
    train_perceptron,
)
from vector_db_light_spark.streaming.learning import (
    _apply_example_batch,
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


def test_stream_train_crash_between_weights_and_examples(spark, tmp_path):
    """Crash after the weights append but before the examples append: the
    replayed batch sees the high-water mark and skips the training step —
    weights advance exactly once."""
    examples, weights, _ = _dirs(tmp_path)

    b1 = spark.createDataFrame(_B1, _SCHEMA)
    _apply_example_batch(b1, examples, weights, ["x0", "x1"], "y", "id", 2, 0)
    shutil.copytree(examples, str(tmp_path / "examples_pre"))

    b2 = spark.createDataFrame(_B2, _SCHEMA)
    _apply_example_batch(b2, examples, weights, ["x0", "x1"], "y", "id", 2, 1)
    w_good, b_good, applied_good = current_weights(spark, weights, 2)

    # crash: examples append never landed; weights + mark did
    shutil.rmtree(examples)
    shutil.copytree(str(tmp_path / "examples_pre"), examples)
    _apply_example_batch(b2, examples, weights, ["x0", "x1"], "y", "id", 2, 1)

    assert current_weights(spark, weights, 2) == (w_good, b_good, applied_good)
    assert spark.read.parquet(weights).filter(F.col("batch_id") == 1).count() == 1
    assert spark.read.parquet(examples).count() == 8  # log completed once
