"""Streaming SCD2 dimension maintenance: a CDC change stream (upserts +
tombstones) folded into the versioned dimension table, micro-batch by
micro-batch, via ``operators/incremental.scd2_upsert``.

Idempotence comes from the MERGE SEMANTICS, not a high-water mark: re-
applying a batch to the already-merged dimension is a no-op by
construction — changed keys now compare equal (keep), tombstoned keys are
no longer current (nothing to close), inserted keys exist with identical
attrs (keep). The only protocol obligations are:

  * ``localCheckpoint`` the merged frame BEFORE overwriting the path the
    plan reads (the CLAUDE.md recache-by-path hazard);
  * stamp versions with the micro-batch id — monotone under structured
    streaming, and a replayed batch re-stamps the SAME version, which is
    exactly what keeps the close/open rows identical across replays.

CROSS-BATCH OUT-OF-ORDER RULE (VERDICT r9 #5): last-writer-wins by SOURCE
sequence, not by arrival order — a change whose ``seq_col`` is <= the
key's last APPLIED seq is late data and is REJECTED (dropped), never
applied as if newer. Rationale: the source seq is the authoritative
ordering a CDC feed publishes; applying a stale row would rewrite the
dimension to a state the source had already superseded, and a later
replay of the fresh row would NOT repair it (its seq now compares equal,
so the merge keeps). The ledger is ``src_seq`` on every dimension row —
opened rows stamp their change's seq, a tombstone re-stamps the row it
closes — so the per-key max over the WHOLE table (closed rows included)
is the last applied change, and a stale RESURRECTION of a tombstoned key
is rejected by the same comparison. A tombstone whose key has NO row yet
(first-ever change is a delete, or a re-delete of an already-tombstoned
key) still writes its seq into the ledger as a zero-width closed GHOST
row (valid_from == valid_to, never current) — without it a later stale
resurrection would find no applied seq and be applied as fresh (ADVICE
r10). Replayed batches are a no-op under this rule too (every row's
seq <= its own recorded application).

Per-batch shape: dedupe the batch per key (latest ``seq_col`` wins,
deterministically), anti-filter stale rows against the per-key applied-seq
ledger (one key-scale aggregate + one join), one key-join of current rows
against the survivors, history passes through as a scan. At 100 TB bucket
the dimension by key and both joins co-locate; only current rows join
(history is scan-through except the ledger max, which at cluster scale is
a maintained key->seq sidecar table, not a re-aggregation)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.window import Window

from ..obs import materialize
from ..operators.incremental import scd2_upsert
from .. import commit
from ..commit import _has_parquet

OPEN_VERSION = 99_999


def _apply_change_batch(
    batch_df: DataFrame,
    dim_dir: str,
    key_col: str,
    attr_cols: list[str],
    seq_col: str,
    delete_col: str,
    batch_id: int,
) -> None:
    spark = batch_df.sparkSession
    w = Window.partitionBy(key_col).orderBy(F.col(seq_col).desc())
    latest = (
        batch_df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(key_col, *attr_cols, delete_col, seq_col)
    )
    if _has_parquet(dim_dir):
        dim = spark.read.parquet(dim_dir)
    else:
        first = latest.filter(~F.coalesce(F.col(delete_col), F.lit(False))).select(
            key_col,
            *attr_cols,
            F.lit(batch_id + 2).cast("long").alias("valid_from"),
            F.lit(OPEN_VERSION).cast("long").alias("valid_to"),
            F.lit(1).cast("int").alias("is_current"),
            F.col(seq_col).cast("long").alias("src_seq"),
        )
        # A first-batch tombstone for a never-seen key still writes its
        # seq into the ledger as a zero-width closed ghost row (ADVICE
        # r10) — otherwise a later batch's STALE resurrection (lower seq)
        # finds no applied seq for the key and is applied as fresh.
        ghosts = latest.filter(
            F.coalesce(F.col(delete_col), F.lit(False))
        ).select(
            key_col,
            *attr_cols,
            F.lit(batch_id + 2).cast("long").alias("valid_from"),
            F.lit(batch_id + 2).cast("long").alias("valid_to"),
            F.lit(0).cast("int").alias("is_current"),
            F.col(seq_col).cast("long").alias("src_seq"),
        )
        materialize(first.unionByName(ghosts)).write.mode(
            "overwrite"
        ).parquet(dim_dir)
        return
    # Cross-batch late-data rejection (module docstring): drop batch rows
    # whose seq is <= the key's last APPLIED seq — the per-key max of
    # src_seq over ALL rows, closed included, so a stale resurrection of a
    # tombstoned key is rejected too.
    applied = dim.groupBy(key_col).agg(F.max("src_seq").alias("_applied_seq"))
    fresh = (
        latest.join(applied, key_col, "left")
        .filter(
            F.col("_applied_seq").isNull()
            | (F.col(seq_col) > F.col("_applied_seq"))
        )
        .drop("_applied_seq")
    )
    if fresh.isEmpty():
        return  # everything stale or replayed — the dimension is current
    merged = scd2_upsert(
        dim,
        fresh,
        key_col,
        attr_cols,
        version=batch_id + 2,  # version 1 = initial load, batches from 2+
        open_version=OPEN_VERSION,
        delete_col=delete_col,
        seq_col=seq_col,
    )
    materialize(merged).write.mode("overwrite").parquet(dim_dir)


def stream_scd2(
    change_stream: DataFrame,
    dim_dir: str,
    checkpoint_dir: str,
    key_col: str = "k",
    attr_cols: list[str] | None = None,
    seq_col: str = "seq",
    delete_col: str = "is_delete",
) -> StreamingQuery:
    """Fold ``change_stream`` (key, attrs..., seq, is_delete) into the
    versioned dimension at ``dim_dir``. Returns the running query
    (availableNow trigger — rerun to drain new input). Not on the
    :mod:`vector_db_light_spark.commit` protocol: its one overwrite per batch is
    already idempotent by the merge semantics (module docstring)."""
    attrs = attr_cols or ["bal"]
    return commit.foreach_batch(
        change_stream,
        checkpoint_dir,
        lambda batch_df, batch_id: _apply_change_batch(
            batch_df, dim_dir, key_col, attrs, seq_col, delete_col, batch_id
        ),
    )
