"""Distributed linear-classifier training, oracle-exact: the batch
perceptron over INTEGER features.

Training-data pipelines do not just filter with hand rules — they train
quality classifiers (fastText-style) on labeled samples and score the
corpus with them. A batch perceptron round is

    misclassified_i :  y_i * (w . x_i + b) <= 0
    w' = w + SUM over misclassified of y_i * x_i
    b' = b + SUM over misclassified of y_i

With integer features and labels in {-1, +1}, EVERY quantity is a BIGINT:
no learning-rate float, no summation-order exposure, bit-identical across
engines and partitionings (the kmeans/pagerank fixed-point discipline
applied to model training). Novikoff's theorem guarantees convergence
when the labels are linearly separable in the features — which a planted
linear rule makes true by construction in the registered query, so the
per-round misclassification count demonstrably falls.

The update is LINEAR in the training multiset: identical (x, y) rows
always land on the same side of the margin, so a round over the distinct
rows weighted by their multiplicity n is the round over the expanded
rows. Training is therefore ONE aggregate job — ``groupBy(x..., y)
.count()``, collected by :func:`count_examples` — plus ``rounds`` plain-
Python integer rounds on the driver (:func:`train_perceptron`), the
bounded-artifact-on-the-driver shape of ``pq_adc_lut``. The collected
table is bounded by the product of the per-feature value ranges (times
two labels), not by the corpus: the 4 stopword-count features of the
registered queries give 45, 50 and 74 distinct tuples at sf0.001, sf0.01
and sf0.1 (500 to 5,000 documents). A Spark job per round would be a
chain of barrier jobs whose cost is scheduling, not arithmetic. At 100 TB
the aggregate is one map-side-combined scan, and scoring the corpus with
the final weights is one narrow no-shuffle map (:func:`linear_score`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def count_examples(
    feats: DataFrame, feature_cols: list[str], label_col: str = "y"
) -> list[tuple[int, ...]]:
    """The training multiset as its distinct ``(x0..x{d-1}, y, n)`` rows:
    one aggregate job, collected (bounded — module docstring)."""
    return [
        tuple(r) for r in feats.groupBy(*feature_cols, label_col).count().collect()
    ]


def train_perceptron(
    counts: list[tuple[int, ...]],
    rounds: int,
    w: list[int] | None = None,
    b: int = 0,
) -> list[tuple[int, ...]]:
    """Run ``rounds`` batch-perceptron rounds over counted examples from
    start weights ``(w, b)`` (zeros by default); returns one tuple per
    round: ``(round, n_mis, w0..w{d-1}, b)`` with the POST-update weights
    and the PRE-update misclassification count — the training curve, the
    oracle-checkable artifact. An empty table trains no rounds (the SQL
    form's ``GROUP BY w, b`` over zero rows is empty too). A row with a
    NULL feature or label never updates: its SQL margin is NULL, so the
    misclassification test is never true."""
    if not counts:
        return []
    w = list(w) if w is not None else [0] * (len(counts[0]) - 2)
    live = [r for r in counts if None not in r]
    curve = []
    for t in range(1, rounds + 1):
        n_mis, gb, g = 0, 0, [0] * len(w)
        for *x, y, n in live:
            if y * (b + sum(wj * xj for wj, xj in zip(w, x))) <= 0:
                n_mis += n
                gb += n * y
                for j, xj in enumerate(x):
                    g[j] += n * y * xj
        w = [wj + gj for wj, gj in zip(w, g)]
        b += gb
        curve.append((t, n_mis, *w, b))
    return curve


def linear_score(
    df: DataFrame,
    weights: list[int],
    bias: int,
    feature_cols: list[str],
) -> DataFrame:
    """Score rows with literal trained weights: margin column (BIGINT) +
    predicted label. The 100 TB serving path — one narrow no-shuffle map
    over the corpus with the model as plan literals."""
    margin = F.lit(int(bias)).cast("long")
    for w, c in zip(weights, feature_cols):
        margin = margin + F.lit(int(w)).cast("long") * F.col(c)
    return df.select(
        "*",
        margin.alias("margin"),
        F.when(margin > 0, 1).otherwise(-1).cast("int").alias("pred"),
    )
