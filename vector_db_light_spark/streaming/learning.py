"""Streaming model training: an example stream folded into persisted
perceptron weights, micro-batch by micro-batch.

The learning analogue of :mod:`streaming.graphs`: each batch's
genuinely-new examples (batch minus the persisted example log — re-sent
ids and duplicates vanish here) are counted in one aggregate job, and
``rounds_per_batch`` integer batch-perceptron rounds run on the driver
over that counted table (operators/classifier.py) CONTINUING from the
persisted weights; the updated weight row lands in the batch's slot. This
is classic online-by-batch learning: the model state is the integer
weight vector, so continuation is exact — no optimizer moments, no float
accumulation drift. Exactly-once: the commit protocol in
:mod:`vector_db_light_spark.commit`.

Weight state is a HISTORY (one row per applied batch, current = the last
committed slot) — kilobytes forever, and the training trajectory is
auditable the way CORRECTNESS artifacts are. All state is BIGINT: the
trajectory is bit-identical across engines, partitionings, and restarts.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from ..obs import materialize
from ..operators.classifier import count_examples, train_perceptron
from .. import commit


def current_weights(
    spark, weights_dir: str, n_features: int
) -> tuple[list[int], int, int]:
    """(w, b, slot of the last applied batch) from the committed weight
    history; zeros and -1 before any batch has applied."""
    log = commit.Slot(spark, weights_dir)
    slots = log.slots(weights_dir)
    if not slots:
        return [0] * n_features, 0, -1
    r = log.last(weights_dir).collect()[0]
    return [r[f"w{j}"] for j in range(n_features)], r["b"], slots[-1]


def _example_body(
    batch_df: DataFrame,
    slot: commit.Slot,
    examples_dir: str,
    weights_dir: str,
    feature_cols: list[str],
    label_col: str,
    id_col: str,
    rounds_per_batch: int,
) -> None:
    spark = batch_df.sparkSession
    d = len(feature_cols)
    new = batch_df.select(id_col, *feature_cols, label_col).distinct()
    seen = slot.read(examples_dir)
    if seen is not None:
        new = new.join(seen.select(id_col), id_col, "left_anti")
    # feeds the trainer's count and the example-log write
    new = materialize(new)
    if new.isEmpty():
        return
    w, b, _ = current_weights(spark, weights_dir, d)
    curve = train_perceptron(
        count_examples(new, feature_cols, label_col), rounds_per_batch, w, b
    )
    _, n_mis, *wb = curve[-1]
    slot.write(
        spark.createDataFrame(
            [(*wb, n_mis)],
            ", ".join(
                [f"w{j} BIGINT" for j in range(d)] + ["b BIGINT", "n_mis BIGINT"]
            ),
        ),
        weights_dir,
    )
    slot.write(new, examples_dir)


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
    return commit.start(
        example_stream,
        checkpoint_dir,
        [weights_dir, examples_dir],
        partial(
            _example_body,
            examples_dir=examples_dir,
            weights_dir=weights_dir,
            feature_cols=feature_cols,
            label_col=label_col,
            id_col=id_col,
            rounds_per_batch=rounds_per_batch,
        ),
    )
