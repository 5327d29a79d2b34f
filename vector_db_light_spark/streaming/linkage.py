"""Streaming entity resolution: link each arriving record against the
persistent corpus by bounded edit distance, micro-batch by micro-batch.

The streaming twin of ``operators/fuzzy.py`` — the same pattern
``streaming/curation.py`` applies to near-dup curation:

  per micro-batch
    1. drop re-sent records (anti-join on id against the committed key
       table)
    2. IN-BATCH links: fuzzy_self_join over the batch (two new records
       matching each other)
    3. CORPUS links: incremental_fuzzy_pairs against the PERSISTED
       positional-gram/length blocking index with prefix-filtered probes
       — the |corpus| x |batch| half is the only work that runs; the
       |corpus|^2 half never does
    4. write the links, the new records' blocking rows and the records
       into the batch's slot of ``pairs_dir``, ``index_dir`` and
       ``keys_dir``. Exactly-once: the commit protocol in
       :mod:`vector_db_light_spark.commit`.

At 100 TB the key and index tables are bucketed by id / (kind, key) so
step 3 joins shuffle-free on the corpus side; batch sides broadcast.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..obs import materialize
from ..operators.fuzzy import (
    fuzzy_blocking_keys,
    fuzzy_self_join,
    incremental_fuzzy_pairs,
)
from .. import commit


def _link_body(
    batch_df: DataFrame,
    slot: commit.Slot,
    keys_dir: str,
    index_dir: str,
    pairs_dir: str,
    key_col: str,
    id_col: str,
    max_dist: int,
    q: int,
) -> None:
    new = batch_df.select(
        F.col(id_col).alias("id"), F.col(key_col).alias("key")
    ).filter(F.col("key").isNotNull())
    corpus = slot.read(keys_dir)
    if corpus is not None:
        # 1. re-sent ids re-link nothing
        new = new.join(corpus.select("id"), "id", "left_anti")
    # feeds the link plans and the index and key writes
    new = materialize(new)
    if new.isEmpty():
        return
    # 2. in-batch links
    links = fuzzy_self_join(
        new, "key", "id", max_dist=max_dist, q=q, prefix_filter=True
    )
    if corpus is not None:
        # 3. batch-vs-corpus links over the persisted index
        cross = incremental_fuzzy_pairs(
            corpus,
            new,
            key_col="key",
            id_col="id",
            max_dist=max_dist,
            q=q,
            index=slot.read(index_dir),
            prefix_filter=True,
        ).select(
            F.least("new_id", "existing_id").alias("id_a"),
            F.greatest("new_id", "existing_id").alias("id_b"),
            "dist",
        )
        links = links.unionByName(cross)
    slot.write(links, pairs_dir)
    slot.write(
        fuzzy_blocking_keys(new, "key", "id", max_dist=max_dist, q=q, probe=False),
        index_dir,
    )
    slot.write(new, keys_dir)


def stream_link(
    record_stream: DataFrame,
    keys_dir: str,
    index_dir: str,
    pairs_dir: str,
    checkpoint_dir: str,
    key_col: str = "key",
    id_col: str = "id",
    max_dist: int = 2,
    q: int = 3,
) -> StreamingQuery:
    """Link ``record_stream`` (id, key, ...) against the persistent corpus:
    ``keys_dir`` holds the records, ``index_dir`` the positional-gram
    blocking index, ``pairs_dir`` the emitted (id_a, id_b, dist) links,
    each link once. Returns the running query (availableNow trigger —
    rerun to drain new input)."""
    return commit.start(
        record_stream,
        checkpoint_dir,
        [keys_dir, index_dir, pairs_dir],
        partial(
            _link_body, keys_dir=keys_dir, index_dir=index_dir,
            pairs_dir=pairs_dir, key_col=key_col, id_col=id_col,
            max_dist=max_dist, q=q,
        ),
    )
