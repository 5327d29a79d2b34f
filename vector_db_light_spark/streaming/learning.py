"""Streaming model training: an example stream folded into persisted
perceptron weights, micro-batch by micro-batch.

The learning analogue of :mod:`streaming.graphs`: each batch's
genuinely-new examples (batch minus the persisted example log — replays
and duplicates vanish here) are counted in one aggregate job, and
``rounds_per_batch`` integer batch-perceptron rounds run on the driver
over that counted table (operators/classifier.py) CONTINUING from the
persisted weights; the updated weight row is appended with its batch id. This
is classic online-by-batch learning: the model state is the integer
weight vector, so continuation is exact — no optimizer moments, no float
accumulation drift.

Crash ordering (the streaming/graphs.py argument, verbatim): weights are
written FIRST, guarded by the applied-batch high-water mark, THEN the
examples are appended to the log.

  - crash after weights, before examples: the replayed batch recomputes
    the same ``new`` set, the mark says this batch's update is applied,
    so only the example append completes — no double training step;
  - crash after both, before the offset commit: the replayed ``new`` set
    is empty — a no-op.

The reverse order loses a training step unrecoverably: a crash between
the writes would make the replayed ``new`` set empty while the weights
never advanced.

Weight state is a HISTORY (one row per applied batch, current = max
batch_id) — kilobytes forever, and the training trajectory is auditable
the way CORRECTNESS artifacts are. All state is BIGINT: the trajectory
is bit-identical across engines, partitionings, and restarts.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.classifier import count_examples, train_perceptron


def _has_parquet(d: str) -> bool:
    return os.path.isdir(d) and any(f.endswith(".parquet") for f in os.listdir(d))


def current_weights(
    spark, weights_dir: str, n_features: int
) -> tuple[list[int], int, int]:
    """(w, b, last_batch_id) from the weight history; zeros before any
    batch has applied."""
    if not _has_parquet(weights_dir):
        return [0] * n_features, 0, -1
    rows = spark.read.parquet(weights_dir).orderBy(
        F.col("batch_id").desc()
    ).limit(1).collect()  # bounded: 1 row
    r = rows[0]
    return (
        [r[f"w{j}"] for j in range(n_features)],
        r["b"],
        r["batch_id"],
    )


def _apply_example_batch(
    batch_df: DataFrame,
    examples_dir: str,
    weights_dir: str,
    feature_cols: list[str],
    label_col: str,
    id_col: str,
    rounds_per_batch: int,
    batch_id: int,
) -> None:
    spark = batch_df.sparkSession
    d = len(feature_cols)
    batch = batch_df.select(id_col, *feature_cols, label_col).distinct()
    if _has_parquet(examples_dir):
        seen = spark.read.parquet(examples_dir).select(id_col)
        new = batch.join(seen, id_col, "left_anti").localCheckpoint(eager=True)
    else:
        new = batch.localCheckpoint(eager=True)
    if new.isEmpty():
        return
    w, b, applied = current_weights(spark, weights_dir, d)
    if batch_id > applied:
        curve = train_perceptron(
            count_examples(new, feature_cols, label_col), rounds_per_batch, w, b
        )
        _, n_mis, *wb = curve[-1]
        spark.createDataFrame(
            [(batch_id, *wb, n_mis)],
            ", ".join(
                ["batch_id BIGINT"]
                + [f"w{j} BIGINT" for j in range(d)]
                + ["b BIGINT", "n_mis BIGINT"]
            ),
        ).write.mode("append").parquet(weights_dir)
    # examples LAST (module docstring crash-ordering argument)
    new.write.mode("append").parquet(examples_dir)


def stream_train(
    example_stream: DataFrame,
    examples_dir: str,
    weights_dir: str,
    checkpoint_dir: str,
    feature_cols: list[str],
    label_col: str = "y",
    id_col: str = "id",
    rounds_per_batch: int = 2,
) -> StreamingQuery:
    """Fold ``example_stream`` (id, features..., y) into the persisted
    weight history, training only on never-seen example ids. Returns the
    running query (availableNow trigger — rerun to drain new input)."""

    def run(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.isEmpty():
            _apply_example_batch(
                batch_df,
                examples_dir,
                weights_dir,
                feature_cols,
                label_col,
                id_col,
                rounds_per_batch,
                batch_id,
            )

    return (
        example_stream.writeStream.foreachBatch(run)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
