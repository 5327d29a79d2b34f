"""Streaming graph maintenance: an edge stream folded into a persisted
edge list with per-node triangle counts kept current incrementally.

The graph analogue of :mod:`streaming.curation` / :mod:`streaming.media`:
each micro-batch's genuinely-new edges (batch minus persisted — duplicates
and re-sent edges vanish here) are counted by
:func:`operators.graph.triangle_delta`, which probes the persisted graph
ONLY with the new edges (|delta| x degree work, never re-enumerating old
triangles). Each batch writes the previous counts plus its delta into its
own slot; the counts are the last committed one (:func:`triangle_counts`).
Exactly-once: the commit protocol in :mod:`vector_db_light_spark.commit`.

At 100 TB: bucket the persisted edge list by node so the anti-join and
the delta probes co-locate; counts are node-keyed and tiny relative to
edges.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..obs import materialize
from ..operators.graph import triangle_delta
from .. import commit


def triangle_counts(spark: SparkSession, counts_dir: str) -> DataFrame:
    """(node, n_triangles): the last committed counts."""
    counts = commit.Slot(spark, counts_dir).read(counts_dir)
    if counts is None:
        return spark.createDataFrame([], "node long, n_triangles long")
    return counts.select("node", "n_triangles")


def _edge_body(
    batch_df: DataFrame, slot: commit.Slot, edges_dir: str, counts_dir: str
) -> None:
    batch = (
        batch_df.select("u", "v")
        .filter(F.col("u") < F.col("v"))  # canonical undirected form
        .distinct()
    )
    old = slot.read(edges_dir)
    if old is None:
        old = batch_df.sparkSession.createDataFrame([], "u long, v long")
    # feeds the delta probe and the edge write
    new = materialize(batch.subtract(old))
    if new.isEmpty():
        return
    counts = triangle_delta(old, new, src="u", dst="v").select(
        "node", F.col("n_new_triangles").alias("n_triangles")
    )
    prev = slot.read(counts_dir)
    if prev is not None:
        counts = (
            prev.select("node", "n_triangles")
            .unionByName(counts)
            .groupBy("node")
            .agg(F.sum("n_triangles").cast("long").alias("n_triangles"))
        )
    slot.write(counts, counts_dir, retire=True)
    slot.write(new, edges_dir)


def stream_triangle_counts(
    edge_stream: DataFrame,
    edges_dir: str,
    counts_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Fold ``edge_stream`` (u, v) into ``edges_dir`` while keeping the
    per-node triangle counts in ``counts_dir`` incrementally current
    (read them with :func:`triangle_counts`). Returns the running query
    (availableNow trigger — rerun to drain new input)."""
    return commit.start(
        edge_stream,
        checkpoint_dir,
        [counts_dir, edges_dir],
        partial(_edge_body, edges_dir=edges_dir, counts_dir=counts_dir),
    )
