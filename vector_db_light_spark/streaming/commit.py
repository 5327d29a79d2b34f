"""The exactly-once commit protocol of the streaming sinks.

Every micro-batch of a ported sink runs through :func:`apply`:

  * the batch gets a SLOT, the next free one (one past the last committed);
  * every output it produces is written in overwrite mode into its own
    slot directory, ``<dir>/batch=<slot>`` (:meth:`Slot.write`) — no batch
    ever rewrites a path that holds an earlier batch's output, so no plan
    reads a path its own batch writes;
  * ONE commit record, ``<dirs[0]>/_commits.json``, is written LAST and
    atomically (a temp file, then ``os.replace``). It lists every committed
    slot with the directories it wrote, each with the schema written there,
    and the (query, batch_id) that produced it;
  * readers and per-batch state see only committed slots (:meth:`Slot.read`,
    :meth:`Slot.last`), read with the recorded schema: no read infers one,
    so an empty partitioned slot (no files) reads back, and a partition
    column keeps its written type (a hex bucket ``"05"`` is not read back
    as the int 5).

Crash anywhere before the record lands: nothing of the batch is committed,
so the replay recomputes from the same committed state into the SAME slot
(the next free one) and overwrites whatever the crashed attempt left —
leftover slot directories are cleared before the body runs. Crash after
the record, before Spark's offset commit: the re-delivered
(query, batch_id) is found in the record and skipped.

The query is the id Spark persists in ``<checkpoint>/metadata`` before
the first batch: stable across restarts of one checkpoint, new for a
fresh checkpoint — also one deleted and recreated at the same path, where
``batch_id`` restarts at 0 and a path key would skip genuinely new input.
Slots are deliberately not Spark's ``batch_id`` for the same reason:
keying outputs on it would overwrite earlier batches. A re-delivery under
a fresh checkpoint is a new batch to the protocol; each sink's own
anti-join against committed state (content sha, ids, edges) makes it
produce nothing new.

State kept as a monoid (triangle counts, line document frequencies, text
index sidecars, LM counts) is written whole into each slot that changes
it, so a batch reads one snapshot (:meth:`Slot.last`) and its cost does
not grow with the number of committed batches. Spark's file listing skips names starting with
``_``, so a plain ``spark.read.parquet(dir)`` sees the slot directories as
a ``batch`` partition column and never the record.
"""

from __future__ import annotations

import json
import os
import shutil
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

RECORD = "_commits.json"


def _has_parquet(d: str) -> bool:
    return os.path.isdir(d) and any(f.endswith(".parquet") for f in os.listdir(d))


def _load(log_dir: str) -> list[dict]:
    path = os.path.join(log_dir, RECORD)
    if not os.path.exists(path):
        return []
    with open(path) as fh:
        return json.load(fh)


def _query_id(checkpoint_dir: str) -> str:
    with open(os.path.join(checkpoint_dir, "metadata")) as fh:
        return json.loads(fh.readline())["id"]


def _write_record(log_dir: str, commits: list[dict]) -> None:
    os.makedirs(log_dir, exist_ok=True)
    path = os.path.join(log_dir, RECORD)
    with open(path + ".tmp", "w") as fh:
        json.dump(commits, fh)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(path + ".tmp", path)


class Slot:
    """One batch's view of a sink's directories: :meth:`read` sees the
    committed slots, :meth:`write` lands in this batch's slot."""

    def __init__(self, spark: SparkSession, log_dir: str):
        self.spark = spark
        self.log_dir = log_dir
        self.commits = _load(log_dir)
        self.id = len(self.commits)
        self.written: dict[str, dict] = {}

    def _key(self, d: str) -> str:
        return os.path.relpath(d, self.log_dir)

    def path(self, d: str, slot: int | None = None) -> str:
        return os.path.join(d, f"batch={self.id if slot is None else slot}")

    def slots(self, d: str) -> list[int]:
        return [c["slot"] for c in self.commits if self._key(d) in c["dirs"]]

    def _frame(self, d: str, slots: list[int]) -> DataFrame | None:
        if not slots:
            return None
        schema = StructType.fromJson(self.commits[slots[-1]]["dirs"][self._key(d)])
        return (
            self.spark.read.schema(schema)
            .option("basePath", d)
            .parquet(*[self.path(d, s) for s in slots])
            .select(*schema.fieldNames())
        )

    def read(self, d: str) -> DataFrame | None:
        """Union of ``d``'s committed slots; None before any."""
        return self._frame(d, self.slots(d))

    def last(self, d: str) -> DataFrame | None:
        """``d``'s last committed slot (a state snapshot); None before any."""
        return self._frame(d, self.slots(d)[-1:])

    def write(self, df: DataFrame, d: str, partition_col: str | None = None) -> None:
        """Write ``df`` into this batch's slot of ``d``, partitioned by
        ``partition_col`` when given; the record keeps its schema."""
        writer = df.write.mode("overwrite")
        if partition_col is not None:
            writer = writer.partitionBy(partition_col)
        writer.parquet(self.path(d))
        self.written[self._key(d)] = df.schema.jsonValue()


def apply(
    batch_df: DataFrame,
    dirs: list[str | None],
    body: Callable[[DataFrame, Slot], object],
    batch_id: int,
    source: str,
):
    """Run ``body(batch_df, slot)`` for one batch under the protocol and
    return its result. ``dirs`` are the sink's output directories (None
    entries are unconfigured outputs); the record lives in the first.
    A batch whose (source, batch_id) is already committed is skipped."""
    dirs = [d for d in dirs if d is not None]
    slot = Slot(batch_df.sparkSession, dirs[0])
    key = [source, batch_id]
    if key in ([c["source"], c["batch_id"]] for c in slot.commits):
        return None
    for d in dirs:
        shutil.rmtree(slot.path(d), ignore_errors=True)
    out = body(batch_df, slot)
    rec = {"slot": slot.id, "source": source, "batch_id": batch_id, "dirs": slot.written}
    _write_record(dirs[0], slot.commits + [rec])
    return out


def foreach_batch(
    stream: DataFrame,
    checkpoint_dir: str,
    fn: Callable[[DataFrame, int], None],
) -> StreamingQuery:
    """Drain ``stream`` through ``fn(batch_df, batch_id)``, skipping empty
    micro-batches. availableNow trigger — rerun to drain new input."""

    def run(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.isEmpty():
            fn(batch_df, batch_id)

    return (
        stream.writeStream.foreachBatch(run)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def start(
    stream: DataFrame,
    checkpoint_dir: str,
    dirs: list[str | None],
    body: Callable[[DataFrame, Slot], object],
) -> StreamingQuery:
    """:func:`foreach_batch` with every micro-batch applied under the
    protocol, keyed by (query id, batch_id)."""
    return foreach_batch(
        stream,
        checkpoint_dir,
        lambda batch_df, batch_id: apply(
            batch_df, dirs, body, batch_id, _query_id(checkpoint_dir)
        ),
    )
