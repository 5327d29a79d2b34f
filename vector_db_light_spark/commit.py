"""One commit record per database: the crash-safety protocol of the API's
tables and of the streaming sinks.

The record, ``<dir>/_commits.json``, is the whole committed state of the
tables it governs (a database's tables, or a sink's output directories):

  * per table: the schema it was written with, its partition column, its
    live ``slots``, and for a partitioned table the ``floor`` of each
    partition a later slot rewrote (that partition's older slots are
    retired) — so the record grows by one slot number per append, not by
    one entry per partition written; its directory, when a whole
    replacement changed its partitioning (Spark cannot read one root
    holding both layouts); and ``prev``, the state the table's latest
    retiring write replaced;
  * the next slot number;
  * per streaming query id, the last committed ``batch_id``;
  * ``meta``: artifact metadata a reader needs besides the rows (PQ
    codebooks, sketch dimension, the database's creation settings, ...).

A mutation (an API call, a micro-batch) opens the record as a :class:`Slot`
and writes every table it changes into that one slot — a partitioned table
as ``<table>/<part>=<v>/batch=<slot>/``, an unpartitioned one as
``<table>/batch=<slot>/``, each write one ``partitionBy(part, "batch")``
append into the table root (:meth:`Slot.write`). A write appends its slot
to the live slots, rewrites the partitions it names (their floor moves up
to its slot), or retires every older slot of the table (a whole
replacement). Then the mutation commits ONCE: the record is rewritten
whole and atomically (:func:`write_json`). Nothing a mutation writes is
visible before its record lands.

Every read (:meth:`Slot.read`) is one root path, read with the recorded
schema, filtered to the live slots minus the partitions' floors and
projected to the recorded columns. So no read infers a schema (an empty
slot reads back, a hex bucket ``"05"`` stays a string), each read is
pinned to the snapshot it was planned on — a plan reading a table stays
valid while the same mutation rewrites it, so no write needs a lineage cut
first — and uncommitted or retired directories are invisible. The
partition directory is outermost because Spark lists a directory level of
more than 32 entries in a job of its own
(``spark.sql.sources.parallelPartitionDiscovery.threshold``): a table root
costs one listing job, where slot-outer directories would cost one per
slot.

Crash anywhere before the record lands: nothing is committed and a re-run
writes the same slot again. :meth:`Slot.sweep` runs before a mutation's
body and after its record: it removes every ``batch=`` directory that
neither a table's state nor its ``prev`` lists, plus ``_temporary``, so a
crashed attempt's leftovers go, and a retired slot goes with the table's
next change — a read planned on a snapshot keeps its files through one
more change of the table (``vacuum_database`` is the same sweep).
Crash after the record, before Spark's offset commit: the re-delivered
(query, batch_id) is found in the record and skipped.

The query is the id Spark persists in ``<checkpoint>/metadata`` before the
first batch: stable across restarts of one checkpoint, new for a fresh
checkpoint — also one deleted and recreated at the same path, where
``batch_id`` restarts at 0 and a path key would skip genuinely new input.
Slots are deliberately not Spark's ``batch_id`` for the same reason.
Spark re-delivers only the last planned batch, so the last committed
``batch_id`` per query is all the record keeps. A re-delivery under a
fresh checkpoint is a new batch to the protocol; each sink's own anti-join
against committed state (content sha, ids, edges) makes it produce nothing
new.

State kept as a monoid (triangle counts, line document frequencies, text
index sidecars, LM counts) is replaced whole by each batch that changes
it, so a batch reads one snapshot and its cost does not grow with the
number of committed batches. Spark's file listing skips names starting
with ``_``, so a plain ``spark.read.parquet(table)`` sees the slot
directories as a ``batch`` partition column and never the record.
"""

from __future__ import annotations

import json
import os
import shutil
from collections import defaultdict
from typing import Callable
from urllib.parse import unquote

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import IntegerType, StructType

RECORD = "_commits.json"
_NULL = "__HIVE_DEFAULT_PARTITION__"  # Spark's directory name for a null


def _has_parquet(d: str) -> bool:
    return os.path.isdir(d) and any(f.endswith(".parquet") for f in os.listdir(d))


def write_json(path: str, obj) -> None:
    """Replace the JSON file at ``path`` atomically (a temp file, fsync,
    ``os.replace``): a reader sees the old content or the new, never a
    torn file."""
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with open(path + ".tmp", "w") as fh:
        json.dump(obj, fh, sort_keys=True)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(path + ".tmp", path)


def _query_id(checkpoint_dir: str) -> str:
    with open(os.path.join(checkpoint_dir, "metadata")) as fh:
        return json.loads(fh.readline())["id"]


def _sql(v) -> str:
    if isinstance(v, str):
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    return str(v)


def _member(col: str, values: list) -> str:
    """SQL for ``col`` being one of ``values`` (None matches NULL)."""
    known = [v for v in values if v is not None]
    cond = f"`{col}` IN ({', '.join(map(_sql, known))})" if known else "false"
    return f"({cond} OR `{col}` IS NULL)" if None in values else cond


def live(t: dict, name: str | None, s: int) -> bool:
    """Whether table entry ``t`` lists slot ``s`` of the partition whose
    directory value is ``name`` (None for an unpartitioned table)."""
    floor = {_NULL if v is None else str(v): f for v, f in t.get("floor", [])}
    return s in t["slots"] and s >= floor.get(name, s)


def _slot_dirs(root: str, entries: list[dict]) -> list[tuple[str, bool]]:
    """Every ``batch=`` directory (and ``_temporary``) under table root
    ``root``, each with whether one of the table ``entries`` lists it."""

    def listed(name: str | None, b: str) -> bool:
        return any(live(t, name, int(b[len("batch="):])) for t in entries)

    out = []
    for e in sorted(os.listdir(root)):
        p = os.path.join(root, e)
        if e == "_temporary" or e.startswith("batch="):
            out.append((p, e != "_temporary" and listed(None, e)))
        elif "=" in e and os.path.isdir(p):
            name = unquote(e.split("=", 1)[1])
            out += [
                (os.path.join(p, b), listed(name, b))
                for b in sorted(os.listdir(p)) if b.startswith("batch=")
            ]
    return out


class Slot:
    """One mutation's view of a commit record: :meth:`read` sees the
    committed tables (and what this mutation has written so far),
    :meth:`write` lands in the next slot, :meth:`commit` publishes it.
    ``dirs`` are the table directories the record governs (by default
    every directory beside it)."""

    def __init__(self, spark: SparkSession, log_dir: str, dirs: list[str] | None = None):
        self.spark = spark
        self.log_dir = log_dir
        self.dirs = dirs
        path = os.path.join(log_dir, RECORD)
        rec = {"next": 0, "tables": {}, "queries": {}, "meta": {}}
        if os.path.exists(path):
            with open(path) as fh:
                rec = json.load(fh)
        self.id = rec["next"]
        self.tables: dict[str, dict] = rec["tables"]
        self.committed = dict(self.tables)
        self.queries: dict[str, int] = rec["queries"]
        self.meta: dict = rec["meta"]

    def _key(self, d: str) -> str:
        return os.path.relpath(os.path.join(self.log_dir, d), self.log_dir)

    def __contains__(self, d: str) -> bool:
        return self._key(d) in self.tables

    def part(self, d: str) -> str | None:
        """``d``'s partition column."""
        return self.tables[self._key(d)]["part"]

    def slots(self, d: str) -> list[int]:
        """``d``'s live slots, oldest first."""
        t = self.tables.get(self._key(d))
        return [] if t is None else t["slots"]

    def read(self, d: str) -> DataFrame | None:
        """``d``'s live rows; None before its first commit."""
        return self._frame(d, self.slots(d))

    def last(self, d: str) -> DataFrame | None:
        """``d``'s rows in its newest live slot (the head of a history)."""
        return self._frame(d, self.slots(d)[-1:])

    def files(self, d: str) -> list[str]:
        """The parquet files holding ``d``'s live rows."""
        key = self._key(d)
        t = self.tables[key]
        return [
            os.path.join(p, f)
            for p, kept in _slot_dirs(os.path.join(self.log_dir, t.get("dir", key)), [t])
            if kept
            for f in sorted(os.listdir(p))
            if f.endswith(".parquet")
        ]

    def _frame(self, d: str, slots: list[int]) -> DataFrame | None:
        key = self._key(d)
        t = self.tables.get(key)
        if t is None:
            return None
        schema = StructType.fromJson(t["schema"])
        if not slots:
            return self.spark.createDataFrame([], schema)
        conds = [f"batch IN ({', '.join(map(str, slots))})"]
        below = defaultdict(list)
        for v, f in t.get("floor", []):
            below[f].append(v)
        conds += [
            f"NOT coalesce({_member(t['part'], vs)} AND batch < {f}, false)"
            for f, vs in sorted(below.items())
        ]
        names = schema.fieldNames()
        return (
            self.spark.read.schema(schema.add("batch", IntegerType()))
            .parquet(os.path.join(self.log_dir, t.get("dir", key)))
            .filter(" AND ".join(conds))
            .select(*names)
        )

    def write(
        self,
        df: DataFrame,
        d: str,
        part: str | None = None,
        retire: bool | list = False,
        metrics: tuple = (),
    ) -> dict:
        """Write ``df`` into this slot of ``d``. ``retire=False`` appends
        to ``d``'s live set; a list of partition values retires every
        older slot of those partitions first (a touched-partition
        rewrite); ``True`` retires every slot and takes ``df``'s schema and
        ``part`` as the table's (a whole replacement, and a new table).
        Returns the ``metrics`` aggregates over ``df``, observed on the
        write job itself."""
        key = self._key(d)
        old = self.tables.get(key)
        root = key if old is None else old.get("dir", key)
        floor: dict = {}
        if old is None or retire is True:
            schema, slots = df.schema.jsonValue(), [self.id]
            if old is not None and old["part"] != part:
                # a new partitioning gets a fresh root: Spark cannot read
                # one directory that holds both layouts
                root = f"{key}.{self.id}"
        else:
            part, schema = old["part"], old["schema"]
            slots = sorted({*old["slots"], self.id})
            floor = {v: f for v, f in old.get("floor", [])}
            floor.update((v, self.id) for v in retire or [])
        seen = Observation()
        if metrics:
            df = df.observe(seen, *metrics)
        df.withColumn("batch", F.lit(self.id)).write.partitionBy(
            *([part] if part else []), "batch"
        ).mode("append").parquet(os.path.join(self.log_dir, root))
        t = {"schema": schema, "part": part, "slots": slots}
        # a floor at or below the oldest live slot excludes nothing
        floor = [[v, f] for v, f in floor.items() if f > slots[0]]
        if floor:
            t["floor"] = floor
        if root != key:
            t["dir"] = root
        # the snapshot a retiring write replaces stays on disk until the
        # table's next change, so a read planned on it still runs (an
        # append keeps every file of its predecessor anyway)
        prev = self.committed.get(key)
        if retire is False and old is not None:
            prev = None if old is prev else old.get("prev")
        if prev is not None:
            t["prev"] = {k: v for k, v in prev.items() if k != "prev"}
        self.tables[key] = t
        return seen.get if metrics else {}

    def commit(self, query: str | None = None, batch_id: int | None = None) -> None:
        """Publish this slot: the record is rewritten whole, atomically,
        then the slots it no longer lists are swept."""
        if query is not None:
            self.queries[query] = batch_id
        write_json(
            os.path.join(self.log_dir, RECORD),
            {"next": self.id + 1, "tables": self.tables,
             "queries": self.queries, "meta": self.meta},
        )
        self.sweep()

    def sweep(self, dry_run: bool = False) -> list[str]:
        """Remove every ``batch=`` directory the record does not list —
        uncommitted leftovers, and slots retired before each table's
        latest change — and every ``_temporary`` of an abandoned write
        job; with ``dry_run``, only list them. Returns the paths."""
        dirs = self.dirs
        if dirs is None:
            root = self.log_dir
            dirs = [
                os.path.join(root, e) for e in sorted(os.listdir(root))
            ] if os.path.isdir(root) else []
        roots = defaultdict(list)
        for k, t in self.tables.items():
            for v in (t, t.get("prev")):
                if v is not None:
                    roots[v.get("dir", k)].append(v)
        doomed = [
            p
            for d in filter(os.path.isdir, dirs)
            for p, kept in _slot_dirs(d, roots.get(self._key(d), []))
            if not kept
        ]
        if not dry_run:
            for p in doomed:
                shutil.rmtree(p, ignore_errors=True)
        return doomed


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
    slot = Slot(batch_df.sparkSession, dirs[0], dirs)
    slot.sweep()
    if slot.queries.get(source) == batch_id:
        return None
    out = body(batch_df, slot)
    slot.commit(source, batch_id)
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
