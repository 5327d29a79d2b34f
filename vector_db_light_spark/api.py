"""Top-level database lifecycle API — the engine's equivalent of the
reference's ``CreateVectorDB`` / ``QueryVectorDB`` / config-registry trio.

Reference lifecycle (SURVEY.md §3.1, ``vector_db_creator.py:245-288``):
  load documents -> split PDFs from non-PDFs (F5) -> chunk -> clean -> embed
  -> TileDB array + FLAT index + sidecar json (S5/S6) -> SQLite metadata DB
  (S7) -> config.yaml registry entry (S8) + backup (S11).

Spark re-expression: ONE lazy DAG from binaryFile scan to two partitioned
parquet tables (embeddings, documents) — Catalyst plans it, a single write
action executes it — plus a tiny JSON manifest as the registry. Delete /
backup / restore are table-directory operations.

Storage layout for 100 TB: embeddings are written partitioned by an id
bucket (``pmod(chunk_id, n_buckets)``) so brute-force scans parallelize
evenly and point lookups (J1) prune to one bucket; a k-means or LSH
``cluster_id`` column can be added as a second partition level for ANN
partition pruning (operators/similarity.py).
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .functions.embedding import DEFAULT_DIM, embed_documents
from .obs import materialize
from .operators.chunking import chunk_fixed, chunk_overlap_with_pages
from .operators.knn import search as knn_search
from .operators.similarity import sign_rows
from .operators.textstats import LM_ORDERS
from .sources.ingest import ingest

DEFAULT_CHUNK_SIZE = 1200   # reference config.py:26
DEFAULT_CHUNK_OVERLAP = 600  # reference config.py:27
DEFAULT_CONTEXTS = 6         # reference config.py:28
DEFAULT_SIMILARITY = 0.4     # reference config.py:29
N_ID_BUCKETS = 64
# delete_documents broadcasts the doomed doc_id set into its anti-joins; a
# bigint column at this cardinality is ~160 MB serialized, the comfortable
# ceiling for a broadcast. Larger doomed sets (deleting a whole multi-billion
# -chunk source) fall back to a shuffled anti-join, which AQE plans fine.
DELETE_BROADCAST_MAX = 20_000_000
IVF_N_PLANES = 4  # sign-bucket planes: build_ivf_index and incremental
                  # refresh MUST agree or appended vectors land in the
                  # wrong partitions


def _anti_join_doomed(
    table: DataFrame, doomed: DataFrame, broadcast_ok: bool = True
) -> DataFrame:
    """Rows of ``table`` whose key is NOT in ``doomed``, a one-column key
    frame (doc_id; chunk_id for the text index) — the delete path's
    survivor filter. A broadcast left_anti join, not a driver-side
    ``.isin(ids)``: the doomed set can be millions of ids when a whole
    source is deleted, and an In-list that size is a scale-killer in the
    plan. Above DELETE_BROADCAST_MAX the hint is dropped and the anti-join
    shuffles (AQE picks the strategy)."""
    side = F.broadcast(doomed) if broadcast_ok else doomed
    return table.join(side, doomed.columns, "left_anti")


def _semi_join_doomed(
    table: DataFrame, doomed: DataFrame, broadcast_ok: bool = True
) -> DataFrame:
    """Rows of ``table`` whose doc_id IS doomed — used only to discover
    which partition values need rewriting."""
    side = F.broadcast(doomed) if broadcast_ok else doomed
    return table.join(side, "doc_id", "left_semi")


@dataclass
class DatabaseInfo:
    """Registry entry (reference config.py:55-58) + the distance metric the
    reference keeps in the index sidecar json (vector_db_creator.py:218-225);
    the query path dispatches V3 conversion on it (vector_db_query.py:170)."""

    model: str
    chunk_size: int
    chunk_overlap: int
    metric: str = "cosine"
    created_at: float = field(default_factory=time.time)


class Registry:
    """S8: the ``created_databases`` manifest (config.py:166-177), stored as
    one JSON file next to the tables instead of mutable global config."""

    def __init__(self, root: str):
        self.root = root
        self.path = os.path.join(root, "_registry.json")

    def _read(self) -> dict:
        if not os.path.exists(self.path):
            return {}
        with open(self.path) as f:
            return json.load(f)

    def add(self, name: str, info: DatabaseInfo) -> None:
        data = self._read()
        data[name] = info.__dict__
        os.makedirs(self.root, exist_ok=True)
        with open(self.path, "w") as f:
            json.dump(data, f, indent=2, sort_keys=True)

    def remove(self, name: str) -> None:
        data = self._read()
        data.pop(name, None)
        os.makedirs(self.root, exist_ok=True)
        with open(self.path, "w") as f:
            json.dump(data, f, indent=2, sort_keys=True)

    def get(self, name: str) -> DatabaseInfo | None:
        data = self._read().get(name)
        return DatabaseInfo(**data) if data else None

    def list(self) -> dict[str, DatabaseInfo]:
        return {k: DatabaseInfo(**v) for k, v in self._read().items()}


class VectorDatabaseManager:
    """Create / query / delete / backup vector databases on a filesystem
    root (local path here; object-store URI on a cluster)."""

    def __init__(self, spark: SparkSession, root: str):
        from .registry import _ship_package

        self.spark = spark
        self.root = root
        self.registry = Registry(root)
        self._schemas: dict[str, StructType] = {}
        # the build/search pipelines run mapInPandas stages; make the
        # package importable on executor workers regardless of driver cwd
        _ship_package(spark)

    # -- paths ------------------------------------------------------------
    def _db_dir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _table(self, name: str, table: str) -> str:
        return os.path.join(self._db_dir(name), table)

    # -- table reads and replacements ---------------------------------------
    def _read(self, path: str) -> DataFrame:
        """The parquet table at ``path``. The first read infers its schema,
        which costs Spark one job over the file footers; later reads pass
        that schema back, so Spark still lists the files fresh but runs no
        job. The entry is dropped whenever this manager replaces or removes
        the table (``_overwrite``, ``_swap``, ``_forget``). Appends of rows
        in the table's own schema and partition rewrites of its own rows
        keep it, so a table that something other than this manager rewrites
        needs a new manager."""
        schema = self._schemas.get(path)
        if schema is not None:
            return self.spark.read.schema(schema).parquet(path)
        df = self.spark.read.parquet(path)
        self._schemas[path] = df.schema
        return df

    def _forget(self, *paths: str) -> None:
        """Drop the cached schema of each path and of every table under it."""
        for path in paths:
            for key in [
                k for k in self._schemas
                if k == path or k.startswith(path + os.sep)
            ]:
                del self._schemas[key]

    def _overwrite(self, df: DataFrame, path: str, part_col: str | None = None) -> None:
        """Replace the table at ``path`` with ``df`` in place: for build
        outputs, and for merged sidecars already materialized off ``path``."""
        self._forget(path)
        writer = df.write.mode("overwrite")
        if part_col is not None:
            writer = writer.partitionBy(part_col)
        writer.parquet(path)

    def _swap(self, path: str) -> None:
        """Replace the table at ``path`` with the one written at
        ``path.tmp``. The live table is renamed aside to ``path.old`` before
        the new one is renamed in, so a complete copy exists at every step:
        a crash between the two renames leaves ``path.old``, which
        :meth:`vacuum_database` restores. Every ``.tmp`` swap goes through
        here."""
        self._forget(path, path + ".tmp")
        os.rename(path, path + ".old")
        os.rename(path + ".tmp", path)
        shutil.rmtree(path + ".old")

    @contextlib.contextmanager
    def _dynamic_overwrite(self):
        """Partitioned overwrites inside replace only the partitions they
        write (:meth:`_rewrite_touched_partitions`)."""
        key = "spark.sql.sources.partitionOverwriteMode"
        prev = self.spark.conf.get(key, "static")
        self.spark.conf.set(key, "dynamic")
        try:
            yield
        finally:
            self.spark.conf.set(key, prev)

    # -- S5/S6/S7/S8: create (the §3.1 lifecycle, one DAG) -----------------
    def create_database(
        self,
        name: str,
        source_dir: str,
        chunk_size: int = DEFAULT_CHUNK_SIZE,
        chunk_overlap: int = DEFAULT_CHUNK_OVERLAP,
        dim: int = DEFAULT_DIM,
        metric: str = "cosine",
        model: str = "hashed-features-16",
    ) -> None:
        # Precondition checks (utilities.py:131-163 parity): valid name,
        # sane chunk geometry, source dir present.
        if not name or not name.replace("_", "").replace("-", "").isalnum():
            raise ValueError(
                f"invalid database name {name!r}: use letters/digits/_/- only"
            )
        if chunk_size <= 0 or not (0 <= chunk_overlap < chunk_size):
            raise ValueError(
                f"invalid chunk geometry: size={chunk_size} overlap={chunk_overlap}"
            )
        if not os.path.isdir(source_dir):
            raise FileNotFoundError(f"source directory {source_dir!r} not found")
        if self.registry.get(name) is not None:
            raise ValueError(f"database {name!r} already exists")
        self._forget(self._db_dir(name))

        docs = ingest(self.spark, source_dir)
        parsed = docs.filter(F.col("parse_error").isNull()).withColumn(
            "doc_id", F.pmod(F.xxhash64("hash"), F.lit(2**31))
        )
        emb_table = self._build_emb_table(parsed, chunk_size, chunk_overlap, dim)
        emb_table.write.partitionBy("id_bucket").mode("errorifexists").parquet(
            self._table(name, "embeddings")
        )
        parsed.write.mode("errorifexists").parquet(self._table(name, "documents"))
        self.registry.add(
            name,
            DatabaseInfo(model, chunk_size, chunk_overlap, metric),
        )

    def _build_emb_table(self, parsed, chunk_size: int, chunk_overlap: int, dim: int):
        """chunk -> clean -> embed -> joined embeddings table (shared by
        create_database and add_documents so appends run the identical
        pipeline)."""
        # F5: PDFs get the overlapping page-attributed chunker, everything
        # else the fixed splitter (vector_db_creator.py:258-259).
        pdf = parsed.filter(F.col("file_type") == ".pdf")
        other = parsed.filter(F.col("file_type") != ".pdf")
        chunks = chunk_fixed(other, chunk_size).withColumn(
            "page_number", F.lit(None).cast("int")
        ).unionByName(
            chunk_overlap_with_pages(pdf, chunk_size, chunk_overlap).select(
                "doc_id", "chunk_id", "chunk_offset", "chunk_text", "page_number"
            )
        )

        # F8: strip non-printables before embedding (vector_db_creator.py:108-116)
        clean = chunks.withColumn(
            "chunk_text",
            F.regexp_replace("chunk_text", r"[^\x20-\x7E\n\t]", ""),
        )
        embedded = embed_documents(
            clean, id_col="chunk_id", text_col="chunk_text", dim=dim
        )
        return (
            clean.join(embedded, "chunk_id")
            .join(
                parsed.select("doc_id", "hash", "file_path", "file_name", "file_type"),
                "doc_id",
            )
            .withColumn("id_bucket", F.pmod(F.col("chunk_id"), F.lit(N_ID_BUCKETS)))
        )

    def add_documents(
        self,
        name: str,
        source_dir: str,
        dim: int = DEFAULT_DIM,
    ) -> int:
        """Incremental ingest — the scale-correct alternative to the
        reference's delete-and-rebuild model (gui_tabs_databases.py: any
        change rebuilds the whole DB). New files run the SAME parse/chunk/
        embed pipeline and APPEND; files whose content hash is already in
        the documents table are skipped (content-addressed idempotence: a
        re-run or a duplicate upload writes nothing). If the IVF index
        exists, its partitioned table and centroid sidecar are refreshed
        incrementally — only the clusters that received new vectors are
        recomputed and rewritten. Returns the number of NEW documents."""
        info = self.registry.get(name)
        if info is None:
            raise ValueError(f"unknown database {name!r}")
        docs = ingest(self.spark, source_dir)
        parsed = docs.filter(F.col("parse_error").isNull()).withColumn(
            "doc_id", F.pmod(F.xxhash64("hash"), F.lit(2**31))
        )
        existing = self._read(self._table(name, "documents")).select(
            "hash"
        )
        # fresh is cut off the documents table it anti-joins, so no later
        # step can re-evaluate it against the appended ledger; its row
        # count rides the same build job
        seen = Observation()
        fresh = materialize(
            parsed.join(F.broadcast(existing), "hash", "left_anti").observe(
                seen, F.count(F.lit(1)).alias("n")
            )
        )
        n_new = seen.get["n"]
        if n_new == 0:
            return 0
        # read by every artifact write below
        emb_table = materialize(
            self._build_emb_table(fresh, info.chunk_size, info.chunk_overlap, dim)
        )
        # The documents table is the ledger ``existing`` reads, so it is
        # appended LAST: a run that fails part-way leaves its files
        # unrecorded and a re-run ingests them again, instead of skipping
        # files whose vectors never landed.
        emb_table.write.partitionBy("id_bucket").mode("append").parquet(
            self._table(name, "embeddings")
        )
        if os.path.isdir(self._table(name, "embeddings_ivf")):
            self._refresh_ivf_partitions(name, emb_table, dim)
        if os.path.exists(self._table(name, "pq_codebooks.json")):
            self._append_pq_codes(name, emb_table)
        if self._has_sign_sketch(name):
            # the sketch of a vector is a pure per-row function: append-only
            with open(self._table(name, "sign_sketch_meta.json")) as fh:
                _sdim = json.load(fh)["dim"]
            sign_rows(emb_table, _sdim).write.mode("append").parquet(
                self._table(name, "embeddings_sign")
            )
        if self._has_text_index(name):
            self._append_text_index(name, emb_table)
        self._merge_lm(
            name, emb_table.select("chunk_id", "chunk_text"), +1
        )  # no-op when no LM artifact exists
        if self._has_knn_graph(name):
            # probe-closure graph refresh: only the RANK-1 buckets the new
            # chunks land in changed membership (dst candidacy is rank-1
            # only, even under kmeans probing). Buckets computed from the
            # in-memory delta with the PINNED blocking (emb_table is
            # materialized, so this never re-reads the just-appended path).
            with open(self._table(name, "knn_graph_meta.json")) as fh:
                g_meta = json.load(fh)
            affected = materialize(
                self._graph_probe_frame(name, g_meta, emb=emb_table)
                .filter(F.col("probe_rank") == 1)
                .select(F.col("_b").alias("bucket"))
                .distinct()
            )
            self._refresh_knn_graph(name, affected)
        fresh.write.mode("append").parquet(self._table(name, "documents"))
        return n_new

    def _append_pq_codes(self, name: str, new_rows) -> None:
        """Keep the PQ index fresh on incremental ingest: encode ONLY the
        new chunks with the build-time codebook sidecar and append to the
        codes table — the codebooks themselves never change on append
        (re-train = rebuild, like any quantizer). Deterministic chunk ids
        make the append idempotent at the table level."""
        import json

        from .operators.similarity import pq_encode

        with open(self._table(name, "pq_codebooks.json")) as f:
            side = json.load(f)
        pq_encode(new_rows, side["codebooks"], id_col="chunk_id").write.mode(
            "append"
        ).parquet(self._table(name, "embeddings_pq"))

    def delete_documents(self, name: str, file_names: list[str]) -> int:
        """Targeted delete — the other half of incremental maintenance
        (reference parity gap: it can only drop the whole database). Rows
        for the named files are anti-joined out; the bucket-partitioned
        embeddings table and the IVF table are rewritten via DYNAMIC
        partition overwrite, so only partitions that actually contained
        deleted rows are rewritten — untouched partitions keep their files.
        The centroid sidecar refreshes for touched clusters (dropped
        entirely when a cluster empties). On a table format (Iceberg/Delta)
        this whole method becomes a metadata-level DELETE; the plain-parquet
        version here keeps the same partition-local cost model. Returns the
        number of documents removed."""
        if self.registry.get(name) is None:
            raise ValueError(f"unknown database {name!r}")
        docs_path = self._table(name, "documents")
        docs = self._read(docs_path)
        # the doomed set stays a DataFrame end to end: deleting a whole
        # source can doom millions of doc_ids, and a driver-side In-list at
        # that size blows the plan. Only PARTITION VALUES (small by
        # construction: <= N_ID_BUCKETS buckets / 2^n_planes clusters) are
        # ever collected. Materialized: every table below anti-joins it,
        # and the documents table it derives from is about to be swapped.
        seen = Observation()
        doomed = materialize(
            docs.filter(F.col("file_name").isin(file_names))
            .select("doc_id")
            .distinct()
            .observe(seen, F.count(F.lit(1)).alias("n"))
        )
        n_del = seen.get["n"]
        if n_del == 0:
            return 0
        broadcast_ok = n_del <= DELETE_BROADCAST_MAX
        _anti_join_doomed(docs, doomed, broadcast_ok).write.mode(
            "overwrite"
        ).parquet(docs_path + ".tmp")
        self._swap(docs_path)

        text_doomed = None
        has_lm = any(
            os.path.isdir(self._lm_table(name, o)) for o in LM_ORDERS
        )
        if self._has_text_index(name) or has_lm:
            # the doomed chunks' text must come from the PRE-delete
            # embeddings (the bounded-delta index delete and the LM count
            # subtraction both re-derive their deltas from it); checkpoint
            # before the table mutates
            text_doomed = materialize(
                _semi_join_doomed(
                    self._read(self._table(name, "embeddings")),
                    doomed,
                    broadcast_ok,
                )
                .select("chunk_id", "chunk_text")
            )
        graph_affected = None
        if self._has_knn_graph(name):
            # the doomed chunks' RANK-1 buckets must come from the
            # PRE-delete embeddings (their vectors are about to be
            # rewritten away); checkpoint cuts the lineage on the
            # soon-to-mutate path. A doomed node can be graph-invisible
            # (alone in its skew-cap sub-block), so the buckets derive
            # from the embeddings, not from the graph's own rows — and
            # the refresh's bucket anti-join is what evicts the doomed
            # srcs' rows (their own bucket is always in this set).
            with open(self._table(name, "knn_graph_meta.json")) as fh:
                g_meta = json.load(fh)
            graph_affected = materialize(
                self._graph_probe_frame(
                    name,
                    g_meta,
                    emb=_semi_join_doomed(
                        self._read(
                            self._table(name, "embeddings")
                        ),
                        doomed,
                        broadcast_ok,
                    ),
                )
                .filter(F.col("probe_rank") == 1)
                .select(F.col("_b").alias("bucket"))
                .distinct()
            )

        with self._dynamic_overwrite():
            emb_path = self._table(name, "embeddings")
            emb = self._read(emb_path)
            touched_buckets = [
                r["id_bucket"]
                for r in _semi_join_doomed(emb, doomed, broadcast_ok)
                .select("id_bucket")
                .distinct()
                .collect()
            ]
            if touched_buckets:
                self._rewrite_touched_partitions(
                    emb, emb_path, "id_bucket", touched_buckets, doomed, broadcast_ok
                )

            ivf_path = self._table(name, "embeddings_ivf")
            if os.path.isdir(ivf_path):
                ivf = self._read(ivf_path)
                touched = [
                    r["cluster_id"]
                    for r in _semi_join_doomed(ivf, doomed, broadcast_ok)
                    .select("cluster_id")
                    .distinct()
                    .collect()
                ]
                if touched:
                    kept = self._rewrite_touched_partitions(
                        ivf, ivf_path, "cluster_id", touched, doomed, broadcast_ok,
                        F.max(F.size("embedding")).alias("dim"),
                    )
                    # the vectors' dimension rides the rewrite's build job;
                    # it is None only when no vector survives in the
                    # touched clusters, whose refresh then has no rows
                    self._recompute_sidecar(
                        name, touched, kept["dim"] or DEFAULT_DIM
                    )
        if os.path.exists(self._table(name, "pq_codebooks.json")):
            # Re-encode the post-delete embeddings and swap the codes table
            # whole: at 32x compression the codes table is a rounding error
            # next to the partition rewrites above, so the simple rewrite
            # beats threading chunk-level anti-joins through one more
            # artifact. (On Delta/Iceberg this is a metadata-level DELETE
            # keyed on chunk_id instead.)
            from .operators.similarity import pq_encode

            with open(self._table(name, "pq_codebooks.json")) as f:
                side = json.load(f)
            pq_path = self._table(name, "embeddings_pq")
            remaining = self._read(self._table(name, "embeddings"))
            pq_encode(remaining, side["codebooks"], id_col="chunk_id").write.mode(
                "overwrite"
            ).parquet(pq_path + ".tmp")
            self._swap(pq_path)
        if self._has_sign_sketch(name):
            # same treatment as the PQ codes: at 16 bytes/row the whole
            # rewrite is a rounding error next to the partition rewrites
            with open(self._table(name, "sign_sketch_meta.json")) as fh:
                _sdim = json.load(fh)["dim"]
            sp = self._table(name, "embeddings_sign")
            remaining_s = self._read(
                self._table(name, "embeddings")
            )
            sign_rows(remaining_s, _sdim).write.mode("overwrite").parquet(
                sp + ".tmp"
            )
            self._swap(sp)
        if text_doomed is not None and self._has_text_index(name):
            self._delete_from_text_index(name, text_doomed)
        if text_doomed is not None:
            self._merge_lm(name, text_doomed, -1)
        if graph_affected is not None:
            self._refresh_knn_graph(name, graph_affected)
        return n_del

    def _rewrite_touched_partitions(
        self,
        table,
        path: str,
        part_col: str,
        touched: list,
        doomed: DataFrame,
        broadcast_ok: bool = True,
        *metrics,
    ) -> dict:
        """Rewrite only the partitions that held deleted rows. Dynamic
        partition overwrite replaces exactly the partitions PRESENT in the
        written data — a partition whose rows were all deleted writes
        nothing and would silently keep its old files, so emptied
        partitions are removed explicitly afterwards. Kept rows are
        materialized before the write so the job never reads files it is
        replacing; the surviving partition values ride that build job.
        ``doomed`` stays a DataFrame (anti-joined, never collected); only
        ``touched`` — partition VALUES, bounded by the bucket/cluster
        count — rides in the plan as an In-list. Returns the observed
        values, with ``metrics`` (aggregates over the kept rows) beside
        ``parts``."""
        seen = Observation()
        kept = materialize(
            _anti_join_doomed(
                table.filter(F.col(part_col).isin(touched)), doomed, broadcast_ok
            ).observe(seen, F.collect_set(part_col).alias("parts"), *metrics)
        )
        survivors = set(seen.get["parts"])
        if survivors:
            kept.write.partitionBy(part_col).mode("overwrite").parquet(path)
        for val in set(touched) - survivors:
            shutil.rmtree(os.path.join(path, f"{part_col}={val}"), ignore_errors=True)
        return seen.get

    def _recompute_sidecar(self, name: str, touched: list[str], dim: int) -> None:
        """Refresh centroid rows for ``touched`` clusters from the current
        IVF table (partition-pruned); clusters that emptied disappear."""
        from .operators.similarity import ivf_centroids

        ivf = self._read(self._table(name, "embeddings_ivf"))
        refreshed = ivf_centroids(
            ivf.filter(F.col("cluster_id").isin(touched)),
            dim,
            cluster_col="cluster_id",
        )
        sidecar_path = self._table(name, "ivf_centroids")
        old = self._read(sidecar_path)
        kept = old.filter(~F.col("cluster_id").isin(touched))
        kept.unionByName(refreshed).write.mode("overwrite").parquet(
            sidecar_path + ".tmp"
        )
        self._swap(sidecar_path)

    def _refresh_ivf_partitions(self, name: str, new_rows, dim: int) -> None:
        """Append new vectors to their IVF partitions and recompute
        centroids ONLY for the touched clusters: dynamic partition
        overwrite on the big table, anti-join + union on the tiny sidecar.
        Untouched partitions are never read or written.

        Assignment routing follows the index's layout contract (see
        build_ivf_index): 'k'-prefixed partitions mean trained centroids —
        new vectors take a broadcast nearest-centroid pass against the
        sidecar (the correct IVF append; no retraining) — while the 'b'
        prefix re-derives the hyperplane sign bucket. The prefix is read
        off the partition directory names, not off the sidecar's rows."""
        from .operators.similarity import lsh_bucket_expr, random_hyperplanes

        ivf_path = self._table(name, "embeddings_ivf")
        if any(d.startswith("cluster_id=k") for d in os.listdir(ivf_path)):
            from .operators.clustering import kmeans_assign

            cents = self._read(self._table(name, "ivf_centroids"))
            clustered = kmeans_assign(
                new_rows, cents, id_col="chunk_id", vector_col="embedding"
            ).drop("distance")
        else:
            planes = random_hyperplanes(IVF_N_PLANES, dim)
            clustered = new_rows.withColumn(
                "cluster_id",
                F.concat(F.lit("b"), lsh_bucket_expr("embedding", planes)),
            )
        # Align the delta to the EXISTING table's physical schema before
        # appending: id_bucket is a partition column of `embeddings` (so it
        # reads back as int) but a DATA column here — the in-memory delta
        # carries it as bigint, and mixed INT32/INT64 pages in one column
        # fail the whole table's read (found live by the kmeans-blocked
        # graph test: PARQUET_COLUMN_DATA_TYPE_MISMATCH).
        target = self._read(ivf_path).schema
        seen = Observation()
        clustered.select(
            [F.col(f.name).cast(f.dataType) for f in target.fields]
        ).observe(seen, F.collect_set("cluster_id").alias("touched")).write.partitionBy(
            "cluster_id"
        ).mode("append").parquet(ivf_path)
        self._recompute_sidecar(name, seen.get["touched"], dim)

    # -- S6: ANN index build (build-time artifact, queried by search_ann) ----
    def build_ivf_index(
        self,
        name: str,
        dim: int = DEFAULT_DIM,
        n_planes: int = IVF_N_PLANES,
        method: str = "lsh",
        n_clusters: int = 16,
        train_iters: int = 2,
        train_fraction: float = 1.0,
    ) -> None:
        """Build the IVF artifact pair (reference vector_db_creator.py:205-235
        writes a FLAT index + index_metadata.json sidecar; here both sides are
        parquet):

          * ``embeddings_ivf`` — the embeddings table REWRITTEN partitioned by
            a deterministic ``cluster_id``, so a probed search is a
            partition-pruned scan;
          * ``ivf_centroids``  — the tiny (cluster_id, centroid) sidecar the
            query path probes INSTEAD of re-aggregating the corpus per query.

        ``method="lsh"`` (default) buckets by hyperplane sign bits — zero
        training cost, data-independent balance. ``method="kmeans"`` trains
        ``n_clusters`` Lloyd centroids (operators/clustering.py) on a
        deterministic md5-prefix sample of ``train_fraction`` of the corpus
        (no sort — at 100 TB set a small fraction; Lloyd's converges on a
        few million rows regardless of corpus size), then labels the FULL
        corpus with one broadcast nearest-centroid pass — the FAISS IVF
        recipe, typically much better cluster balance/recall per probe than
        sign buckets. The partition value prefix ('b' vs 'k') is part of
        the layout contract: incremental refresh sniffs it to route new
        vectors through the matching assignment.
        """
        from .operators.similarity import (
            ivf_centroids,
            lsh_bucket_expr,
            random_hyperplanes,
        )

        emb = self._read(self._table(name, "embeddings"))
        # 'b'/'k' prefix keeps the key a STRING through the partition-
        # directory round trip: a bare "0010" is type-inferred back as int
        # 10 on read, so a later dynamic-overwrite rewrite would write
        # cluster_id=10 while the data sat in cluster_id=0010.
        if method == "kmeans":
            from .operators.clustering import kmeans_assign, kmeans_train

            train = emb
            if train_fraction < 1.0:
                # deterministic md5-prefix sample: uniform, no shuffle/sort
                cut = format(int(train_fraction * 0xFFFF), "04x")
                train = emb.filter(
                    F.substring(F.md5(F.col("chunk_id").cast("string")), 1, 4)
                    < F.lit(cut)
                )
            _, cents = kmeans_train(
                train,
                k=n_clusters,
                iters=train_iters,
                dim=dim,
                id_col="chunk_id",
                vector_col="embedding",
            )
            labels = cents.select(
                F.format_string("k%04d", F.col("cluster_id")).alias("cluster_id"),
                "centroid",
            )
            clustered = kmeans_assign(
                emb, labels, id_col="chunk_id", vector_col="embedding"
            ).drop("distance")
        else:
            planes = random_hyperplanes(n_planes, dim)
            clustered = emb.withColumn(
                "cluster_id",
                F.concat(F.lit("b"), lsh_bucket_expr("embedding", planes)),
            )
        ivf_path = self._table(name, "embeddings_ivf")
        self._overwrite(clustered, ivf_path, "cluster_id")
        self._overwrite(
            ivf_centroids(self._read(ivf_path), dim, cluster_col="cluster_id"),
            self._table(name, "ivf_centroids"),
        )

    def search_ann(
        self,
        name: str,
        query: str,
        k: int = DEFAULT_CONTEXTS,
        nprobe: int = 2,
    ) -> DataFrame:
        """IVF-pruned ANN search: probe the centroid SIDECAR (never the
        corpus) for the nearest ``nprobe`` clusters, then scan only those
        partitions of ``embeddings_ivf``."""
        from .functions.embedding import HashedFeatureEmbedder
        from .functions.policy import prefixed_query
        from .operators.similarity import ivf_search

        info = self.registry.get(name)
        if info is None:
            raise ValueError(f"unknown database {name!r}")
        qvec = HashedFeatureEmbedder().encode_one(prefixed_query(info.model, query))
        ivf = self._read(self._table(name, "embeddings_ivf"))
        cents = self._read(self._table(name, "ivf_centroids"))
        return ivf_search(
            ivf,
            qvec,
            nprobe=nprobe,
            k=k,
            cluster_col="cluster_id",
            id_col="chunk_id",
            centroids=cents,
        )

    # -- S6b: PQ index (compression tier past IVF) ---------------------------
    def build_pq_index(
        self,
        name: str,
        dim: int = DEFAULT_DIM,
        m: int = 8,
        ksub: int = 16,
        trained: bool = False,
        train_iters: int = 4,
    ) -> None:
        """Build the PQ artifact pair (the compression analogue of
        build_ivf_index's pruning pair):

          * ``embeddings_pq`` — (chunk_id, code_0..code_{m-1}) — the
            32x-smaller table ADC serving scans INSTEAD of the vectors;
          * ``pq_codebooks.json`` — the kilobyte codebook sidecar
            (reference index_metadata.json analogue). ``trained=True``
            swaps in per-subspace fixed-point k-means codebooks
            (operators/similarity.train_pq_codebooks — measured recall@5
            lift 0.275 -> 0.425 on corpus queries, ann_pq_trained_recall);
            the flag changes this file only, never the serving plan.

        The sidecar is written with local-file json (the warehouse is a
        local path in this deployment; on HDFS/S3 the same bytes go
        through the filesystem API)."""
        import json

        from .operators.similarity import (
            pq_codebooks,
            pq_encode,
            train_pq_codebooks,
        )

        emb = self._read(self._table(name, "embeddings"))
        if trained:
            books = train_pq_codebooks(
                emb, m, ksub, dim // m, iters=train_iters, id_col="chunk_id"
            )
        else:
            books = pq_codebooks(m, ksub, dim // m)
        self._overwrite(
            pq_encode(emb, books, id_col="chunk_id"),
            self._table(name, "embeddings_pq"),
        )
        with open(self._table(name, "pq_codebooks.json"), "w") as f:
            json.dump(
                {
                    "m": m,
                    "ksub": ksub,
                    "subdim": dim // m,
                    "trained": trained,
                    "codebooks": books,
                },
                f,
            )

    def search_pq(
        self,
        name: str,
        query: str,
        k: int = DEFAULT_CONTEXTS,
        shortlist: int = 50,
        rerank: bool = True,
    ) -> DataFrame:
        """ADC search over the PQ codes: LUT from the codebook sidecar
        (driver-side, m x ksub doubles), top-``shortlist`` by asymmetric
        distance touching ONLY the codes table, then (default) an exact
        re-rank of the shortlist against the raw vectors — a broadcast
        k-row lookup, never a scan (ann_pq_rerank_recall measures the
        recall this recovers). ``rerank=False`` returns raw ADC ranking
        with an ``adc`` column instead of ``distance``."""
        import json

        from .functions.embedding import HashedFeatureEmbedder
        from .functions.policy import prefixed_query
        from .functions.vector import dot, vector_lit
        from .operators.similarity import pq_adc_lut, pq_adc_topk

        info = self.registry.get(name)
        if info is None:
            raise ValueError(f"unknown database {name!r}")
        with open(self._table(name, "pq_codebooks.json")) as f:
            side = json.load(f)
        qvec = HashedFeatureEmbedder().encode_one(
            prefixed_query(info.model, query)
        )
        lut = pq_adc_lut(qvec, side["codebooks"])
        codes = self._read(self._table(name, "embeddings_pq"))
        short = pq_adc_topk(
            codes, lut, k=(shortlist if rerank else k), id_col="chunk_id"
        )
        if not rerank:
            return short
        emb = self._read(self._table(name, "embeddings"))
        d = (F.lit(1.0) - dot("embedding", list(qvec))).alias(
            "distance"
        )
        return (
            emb.join(F.broadcast(short.select("chunk_id")), "chunk_id")
            .select(F.col("chunk_id"), F.col("chunk_text"), d)
            .orderBy(F.col("distance").asc(), F.col("chunk_id").asc())
            .limit(k)
        )

    def build_sign_sketch(self, name: str) -> None:
        """Persist the 1-BIT SIGN SKETCH artifact: (chunk_id, w0..wN) —
        each w a 32-bit sign word of the embedding
        (operators/similarity.sign_words_expr), 64x smaller than the
        float vectors. :meth:`search_hamming`'s coarse pass scans ONLY
        this table with integer xor+popcount; the sketch of a vector is a
        pure per-row function, so the incremental story is trivial:
        append on add, rewrite-whole on delete (the table is 16 bytes a
        row — the PQ-codes treatment). Dim is pinned in a json sidecar
        (read from the table like build_knn_graph: a dim-mismatched
        sketch would be silently all-zero words past the vector's
        end)."""
        if self.registry.get(name) is None:
            raise ValueError(f"unknown database {name!r}")
        emb = self._read(self._table(name, "embeddings"))
        dims = emb.agg(
            F.min(F.size("embedding")).alias("dmin"),
            F.max(F.size("embedding")).alias("dmax"),
        ).first()
        if dims["dmin"] != dims["dmax"]:
            raise ValueError(
                f"mixed embedding dimensions in {name!r}: "
                f"{dims['dmin']}..{dims['dmax']}"
            )
        dim = int(dims["dmin"])
        self._overwrite(sign_rows(emb, dim), self._table(name, "embeddings_sign"))
        with open(self._table(name, "sign_sketch_meta.json"), "w") as fh:
            json.dump({"dim": dim}, fh)

    def _has_sign_sketch(self, name: str) -> bool:
        return os.path.exists(self._table(name, "sign_sketch_meta.json"))

    def search_hamming(
        self,
        name: str,
        query: str,
        k: int = DEFAULT_CONTEXTS,
        shortlist: int = 50,
    ) -> DataFrame:
        """Two-stage 1-bit ANN over the persisted sketch: coarse
        top-``shortlist`` by Hamming distance reading ONLY the 16-byte
        sketch table (integer xor+popcount per row, id tie-break), then
        exact cosine rerank of the shortlist against the raw vectors — a
        broadcast shortlist-row semi-join, never a vector scan. The
        recall/shortlist trade-off is the ann_hamming_recall measurement
        (0.50/0.63/0.77 at 10/25/50 on the sf0.01 fixture)."""
        from .functions.embedding import HashedFeatureEmbedder
        from .functions.policy import prefixed_query
        from .functions.vector import dot
        from .operators.similarity import sign_words_py

        info = self.registry.get(name)
        if info is None:
            raise ValueError(f"unknown database {name!r}")
        with open(self._table(name, "sign_sketch_meta.json")) as fh:
            dim = json.load(fh)["dim"]
        qvec = HashedFeatureEmbedder().encode_one(
            prefixed_query(info.model, query)
        )
        q_words = sign_words_py(list(qvec), dim)
        sk = self._read(self._table(name, "embeddings_sign"))
        hd = None
        for j, qw in enumerate(q_words):
            term = F.bit_count(F.col(f"w{j}").bitwiseXOR(F.lit(int(qw))))
            hd = term if hd is None else hd + term
        short = (
            sk.select("chunk_id", hd.cast("bigint").alias("hamming"))
            .orderBy(F.col("hamming").asc(), F.col("chunk_id").asc())
            .limit(shortlist)
        )
        emb = self._read(self._table(name, "embeddings"))
        d = (F.lit(1.0) - dot("embedding", list(qvec))).alias("distance")
        return (
            emb.join(F.broadcast(short), "chunk_id")
            .select(F.col("chunk_id"), F.col("chunk_text"), F.col("hamming"), d)
            .orderBy(F.col("distance").asc(), F.col("chunk_id").asc())
            .limit(k)
        )

    # -- lexical index: build / append / serve -------------------------------
    def build_text_index(self, name: str) -> None:
        """Persist the lexical index artifact trio (VERDICT r10 #2 — the
        lexical twin of :meth:`build_ivf_index`): ``text_index`` (the
        postings of operators/text_search.term_frequencies, parquet-
        partitioned by the 256-way md5-prefix ``term_bucket`` so a query
        is a partition-pruned scan), ``text_index_terms`` (per-term df +
        WAND's (tf_max, dl_min) upper-bound inputs), and
        ``text_index_stats`` (one row of monoid components n_docs/sum_dl/
        n_dl), and ``text_index_blocks`` (the BLOCK-MAX per-(term,
        id-block) extrema sidecar — WAND serving reads its bounds from
        the artifact). After this, :meth:`search_bm25` and the streaming
        lexical server never re-tokenize the corpus."""
        from .operators.text_search import build_text_index

        if self.registry.get(name) is None:
            raise ValueError(f"unknown database {name!r}")
        tables = build_text_index(
            self._read(self._table(name, "embeddings")),
            id_col="chunk_id",
            text_col="chunk_text",
        )
        for df, table, part_col in zip(
            tables,
            ("text_index", "text_index_terms", "text_index_stats",
             "text_index_blocks", "text_index_positions"),
            ("term_bucket", None, None, "term_bucket", "term_bucket"),
        ):
            self._overwrite(df, self._table(name, table), part_col)

    def _has_text_index(self, name: str) -> bool:
        return os.path.isdir(self._table(name, "text_index"))

    def _read_text_index(self, name: str):
        return (
            self._read(self._table(name, "text_index")),
            self._read(self._table(name, "text_index_terms")),
            self._read(self._table(name, "text_index_stats")),
        )

    def _append_text_index(self, name: str, new_rows) -> None:
        """Incremental index maintenance on ingest: the NEW chunks'
        postings and positions append to their term_bucket partitions and
        the term, stats and block sidecars merge by their monoids
        (operators/text_search.merge_text_index) — append-then-merge ==
        rebuild bit-for-bit (pinned by test_text_index). Each merged
        sidecar is materialized before it overwrites the path its plan
        reads (CLAUDE.md recache-by-path rule)."""
        from .operators.text_search import build_text_index, merge_text_index

        postings, terms, stats, _, positions = build_text_index(
            new_rows, id_col="chunk_id", text_col="chunk_text"
        )
        # new term buckets can change the partition type Spark infers for
        # term_bucket (hex "12" alone reads back as int), so these appends
        # drop the cached schemas
        index_path = self._table(name, "text_index")
        self._forget(index_path)
        postings.write.partitionBy("term_bucket").mode("append").parquet(
            index_path
        )
        pos_path = self._table(name, "text_index_positions")
        if os.path.isdir(pos_path):
            self._forget(pos_path)
            positions.write.partitionBy("term_bucket").mode("append").parquet(
                pos_path
            )
        paths = [
            self._table(name, t)
            for t in ("text_index_terms", "text_index_stats", "text_index_blocks")
        ]
        old = [self._read(p) if os.path.isdir(p) else None for p in paths]
        merged = merge_text_index(old, postings, terms, stats, id_col="chunk_id")
        for df, path, part_col in zip(merged, paths, (None, None, "term_bucket")):
            if df is not None:
                self._overwrite(materialize(df), path, part_col)

    def _delete_from_text_index(self, name: str, doomed_rows: DataFrame) -> None:
        """Bounded-delta text-index DELETE (VERDICT r11 #5 — the path the
        old full-rebuild comment only designed): cost is O(deleted docs'
        postings + their term buckets), not O(corpus).

        ``doomed_rows`` = (chunk_id, chunk_text) of the deleted chunks,
        checkpointed by the caller from the PRE-delete embeddings. Their
        postings delta is re-derived by the same tokenizer that produced
        the original appends, which gives the affected term set WITHOUT
        scanning the postings table. Then, per sidecar:

        * postings / positions: doomed chunks' rows anti-joined out, only
          the affected term-bucket partitions rewritten (dynamic
          overwrite; emptied buckets removed explicitly).
        * stats: all components are sums — subtract the delta EXACTLY.
        * term_meta / blocks: df would decrement, but tf_max / dl_min are
          not invertible — recompute rows for the AFFECTED TERMS ONLY
          from the post-delete postings (scan pruned to the affected
          buckets), carry every other row over untouched. Terms whose
          postings emptied drop out, exactly as a rebuild would drop
          them.

        Delta-delete == full rebuild bit-for-bit (pinned by test)."""
        from .operators.text_search import (
            build_text_block_meta,
            build_text_index_tables,
            index_block_size,
        )

        del_postings, _del_terms, del_stats = build_text_index_tables(
            doomed_rows, id_col="chunk_id", text_col="chunk_text"
        )
        seen = Observation()
        affected_terms = materialize(
            del_postings.select("term", "term_bucket")
            .distinct()
            .observe(seen, F.collect_set("term_bucket").alias("buckets"))
        )
        touched = seen.get["buckets"]
        if touched:
            doomed_ids = doomed_rows.select("chunk_id")
            with self._dynamic_overwrite():
                for path in (
                    self._table(name, "text_index"),
                    self._table(name, "text_index_positions"),
                ):
                    if os.path.isdir(path):
                        self._rewrite_touched_partitions(
                            self._read(path), path, "term_bucket", touched, doomed_ids
                        )

        if touched:
            # post-delete postings for the affected terms, scan pruned to
            # their buckets (PartitionFilters)
            post = materialize(  # feeds term_meta AND blocks
                self._read(self._table(name, "text_index"))
                .filter(F.col("term_bucket").isin(touched))
                .join(
                    F.broadcast(affected_terms.select("term")),
                    "term",
                    "left_semi",
                )
            )
            terms_path = self._table(name, "text_index_terms")
            recomputed_terms = post.groupBy("term").agg(
                F.count(F.lit(1)).cast("long").alias("df"),
                F.max("tf").cast("long").alias("tf_max"),
                F.min("dl").cast("long").alias("dl_min"),
            )
            merged_terms = materialize(
                self._read(terms_path)
                .join(
                    F.broadcast(affected_terms.select("term")),
                    "term",
                    "left_anti",
                )
                .unionByName(recomputed_terms)
            )
            self._overwrite(merged_terms, terms_path)
            blocks_path = self._table(name, "text_index_blocks")
            if os.path.isdir(blocks_path):
                old_blocks = self._read(blocks_path)
                recomputed_blocks = build_text_block_meta(
                    post,
                    id_col="chunk_id",
                    block_size=index_block_size(old_blocks),
                )
                merged_blocks = materialize(
                    old_blocks.join(
                        F.broadcast(affected_terms.select("term")),
                        "term",
                        "left_anti",
                    )
                    .select(recomputed_blocks.columns)
                    .unionByName(recomputed_blocks)
                )
                self._overwrite(merged_blocks, blocks_path, "term_bucket")
        # stats last: pure sums, subtract the delta exactly — this runs
        # even when the deleted docs had zero tokens (they still counted
        # into n_docs)
        stats_path = self._table(name, "text_index_stats")
        old_stats = self._read(stats_path)
        merged_stats = materialize(
            old_stats.crossJoin(
                del_stats.select(
                    F.col("n_docs").alias("_dn"),
                    # all-tokenless doomed set: the delta's dl-sum aggregates
                    # over zero rows and returns NULL, not 0
                    F.coalesce(F.col("sum_dl"), F.lit(0)).alias("_ds"),
                    F.col("n_dl").alias("_dd"),
                )
            )
            .select(
                (F.col("n_docs") - F.col("_dn")).cast("long").alias("n_docs"),
                (F.col("sum_dl") - F.col("_ds")).cast("long").alias("sum_dl"),
                (F.col("n_dl") - F.col("_dd")).cast("long").alias("n_dl"),
            )
        )
        self._overwrite(merged_stats, stats_path)

    # -- persisted n-gram language model (VERDICT r11 #7) -------------------
    def _lm_table(self, name: str, order: int) -> str:
        return self._table(name, f"lm_{order}gram")

    def build_lm(self, name: str, order: int = 2) -> None:
        """Persist the Kneser-Ney LM artifact: the raw n-gram count table
        over the chunk corpus (order 2 -> (w1,w2,c_ab), order 3 ->
        (w1,w2,w3,c_abc)). ONLY the base counts persist — they are a pure
        SUM monoid, so incremental ingest merges and deletes SUBTRACT
        exactly (maintained == rebuilt bit-for-bit, unlike the text
        index's non-invertible extrema); every backoff table (history
        marginals, fanout, continuation counts, type total) derives from
        the base counts in dictionary-scale aggregations at scoring time
        (operators/textstats.kn_score_bigrams / kn_score_trigrams). The
        build-once-score-many contract kn_fluency_scores' docstring
        promised for 100 TB, now first-class like the text index."""
        from .operators.textstats import kn_counts

        if self.registry.get(name) is None:
            raise ValueError(f"unknown database {name!r}")
        counts = kn_counts(
            self._read(self._table(name, "embeddings")),
            order,
            id_col="chunk_id",
            text_col="chunk_text",
        )
        self._overwrite(counts, self._lm_table(name, order))

    def _merge_lm(self, name: str, delta_rows: DataFrame, sign: int) -> None:
        """Fold a (chunk_id, chunk_text) delta into every persisted LM
        count table: +1 on ingest, -1 on delete. Counts are sums, so both
        directions are exact; rows whose count reaches 0 drop, exactly as
        a rebuild would drop them (operators/textstats.merge_kn_counts).
        The merged table is materialized before it overwrites the path its
        plan reads (recache-by-path rule)."""
        from .operators.textstats import kn_counts, merge_kn_counts

        for order in LM_ORDERS:
            path = self._lm_table(name, order)
            if not os.path.isdir(path):
                continue
            delta = kn_counts(delta_rows, order, id_col="chunk_id", text_col="chunk_text")
            self._overwrite(
                materialize(merge_kn_counts(self._read(path), delta, sign)), path
            )

    def score_fluency(self, name: str, order: int = 2) -> DataFrame:
        """Per-chunk KN fluency served FROM the persisted LM artifact —
        no corpus-wide count derivation at query time. Returns
        (chunk_id, n_bigrams|n_trigrams, fluency_u6)."""
        from .operators.dedup import tokens_expr
        from .operators.textstats import (
            bigram_structs,
            kn_score_bigrams,
            kn_score_trigrams,
            trigram_structs,
        )

        path = self._lm_table(name, order)
        if not os.path.isdir(path):
            self.build_lm(name, order)
        counts = self._read(path)
        toks = self._read(
            self._table(name, "embeddings")
        ).select(
            "chunk_id",
            F.lit("doc").alias("variant"),
            tokens_expr("chunk_text").alias("toks"),
        )
        if order == 2:
            grams = toks.select(
                "chunk_id",
                "variant",
                F.explode(bigram_structs(F.col("toks"))).alias("b"),
            ).select("chunk_id", "variant", "b.w1", "b.w2")
            return kn_score_bigrams(grams, counts, id_col="chunk_id").drop(
                "variant"
            )
        grams = toks.select(
            "chunk_id",
            "variant",
            F.explode(trigram_structs(F.col("toks"))).alias("t"),
        ).select("chunk_id", "variant", "t.w1", "t.w2", "t.w3")
        return kn_score_trigrams(grams, counts, id_col="chunk_id").drop(
            "variant"
        )

    # -- tokenizer artifact: train once, apply forever ------------------------
    def build_tokenizer(
        self,
        name: str,
        n_merges: int = 8,
        sample_mod: int | None = None,
        sample_keep: int | None = None,
    ) -> None:
        """Persist the BPE TOKENIZER artifact: the ordered merge table
        (merge_round, pair, cnt) trained on the chunk corpus, written to
        a ``tokenizer.json`` sidecar like the PQ codebooks. Deliberately
        NO incremental maintenance: a tokenizer is pinned once trained —
        retokenizing a corpus under a drifting merge table silently
        changes every downstream token budget, so new documents are
        tokenized with the FROZEN merges (exactly how production
        pipelines version tokenizers) and retrain = rebuild = a new
        artifact version.

        Trainer shape (r13): past the toy merge counts — or whenever a
        sample is requested — training runs the production-shape sampled
        trainer (operators/textstats.bpe_train_sampled: deterministic md5
        doc sample, ONE Spark job for the vocabulary word counts, exact
        driver-side Sennrich loop), which is bit-identical to the
        one-job-per-merge engine loop on the same input (property-pinned)
        but costs O(1) jobs instead of O(n_merges). ``sample_mod`` /
        ``sample_keep`` pick the md5 residue fraction; None trains on the
        full corpus."""
        from .operators.textstats import bpe_train, bpe_train_sampled

        if self.registry.get(name) is None:
            raise ValueError(f"unknown database {name!r}")
        docs = self._read(
            self._table(name, "embeddings")
        ).select(
            F.col("chunk_id").alias("doc_id"),
            F.col("chunk_text").alias("text"),
        )
        if sample_mod is None and n_merges <= 8:
            trained = bpe_train(docs, n_merges=n_merges)
        else:
            trained = bpe_train_sampled(
                docs,
                n_merges=n_merges,
                sample_mod=sample_mod,
                sample_keep=sample_keep,
            )
        rows = sorted(
            (int(r["merge_round"]), r["pair"], int(r["cnt"]))
            for r in trained.collect()
        )
        with open(self._table(name, "tokenizer.json"), "w") as fh:
            json.dump(
                {"n_merges": n_merges,
                 "sample_mod": sample_mod,
                 "sample_keep": sample_keep,
                 "merges": [{"round": r, "pair": p, "cnt": c}
                            for r, p, c in rows]},
                fh,
            )

    def tokenize_counts(self, name: str) -> DataFrame:
        """Per-chunk token budget under the PERSISTED tokenizer: apply
        the frozen merge table to every chunk and report symbol counts
        before/after — the corpus token-budget estimate served from the
        artifact, never retraining. Builds the tokenizer on demand if
        absent. The apply is ALWAYS the rank-based vocabulary-factored
        mapInPandas one (operators/textstats.bpe_tokenize_counts_scalable)
        — identical output to the chained-replace expression
        (property-pinned), plan size independent of the merge count, and
        measured FASTER at every merge count on the fixture (SCALE.md
        crossover table: the Python loop runs once per DISTINCT word,
        the expression once per token occurrence — vocab << corpus
        always)."""
        from .operators.textstats import bpe_tokenize_counts_scalable

        path = self._table(name, "tokenizer.json")
        if not os.path.exists(path):
            self.build_tokenizer(name)
        with open(path) as fh:
            merges = [m["pair"] for m in json.load(fh)["merges"]]
        docs = self._read(
            self._table(name, "embeddings")
        ).select(F.col("chunk_id"), F.col("chunk_text").alias("text"))
        return bpe_tokenize_counts_scalable(docs, merges, id_col="chunk_id")

    def search_phrase(self, name: str, phrase: str) -> DataFrame:
        """Exact-phrase search over the chunk table via the positional
        chain join (operators/text_search.phrase_match). With a built
        text index the positional postings come from the persisted
        ``text_index_positions`` artifact (partition-pruned to the
        phrase's term buckets); otherwise they derive from the corpus.
        Returns (chunk_id, doc_id, file_name, chunk_text, n_matches,
        first_pos) ordered by (n_matches desc, chunk_id)."""
        from .operators.text_search import (
            phrase_match,
            positional_postings,
            positions_for_terms,
        )

        if self.registry.get(name) is None:
            raise ValueError(f"unknown database {name!r}")
        terms = [t for t in phrase.lower().split() if t]
        if not terms:
            raise ValueError("empty phrase")
        emb = self._read(self._table(name, "embeddings"))
        pos_path = self._table(name, "text_index_positions")
        if os.path.isdir(pos_path):
            postings = positions_for_terms(
                self._read(pos_path), terms
            )
        else:
            postings = positional_postings(
                emb, id_col="chunk_id", text_col="chunk_text"
            )
        hits = phrase_match(postings, terms, id_col="chunk_id")
        return (
            emb.select("chunk_id", "doc_id", "chunk_text", "file_name")
            .join(F.broadcast(hits), "chunk_id")
            .orderBy(F.col("n_matches").desc(), F.col("chunk_id").asc())
        )

    def search_near(
        self, name: str, term_a: str, term_b: str, slop: int = 4
    ) -> DataFrame:
        """NEAR/slop proximity search over the chunk table
        (operators/text_search.proximity_match), served from the persisted
        positional artifact when built (partition-pruned to the two terms'
        buckets), else corpus-derived. Returns chunk rows with
        (n_matches, min_span), ordered by (min_span asc, chunk_id)."""
        from .operators.text_search import (
            positional_postings,
            positions_for_terms,
            proximity_match,
        )

        if self.registry.get(name) is None:
            raise ValueError(f"unknown database {name!r}")
        emb = self._read(self._table(name, "embeddings"))
        pos_path = self._table(name, "text_index_positions")
        if os.path.isdir(pos_path):
            postings = positions_for_terms(
                self._read(pos_path), [term_a, term_b]
            )
        else:
            postings = positional_postings(
                emb, id_col="chunk_id", text_col="chunk_text"
            )
        hits = proximity_match(postings, term_a, term_b, slop, id_col="chunk_id")
        return (
            emb.select("chunk_id", "doc_id", "chunk_text", "file_name")
            .join(F.broadcast(hits), "chunk_id")
            .orderBy(F.col("min_span").asc(), F.col("chunk_id").asc())
        )

    KNN_GRAPH_MAX_BLOCK = 192

    def build_knn_graph(
        self, name: str, k: int = 5, method: str = "auto", probes: int = 3
    ) -> None:
        """Persist the chunk-embedding k-NN GRAPH artifact:
        (src, dst, rk, distance, bucket) per chunk — the reusable
        precursor for SemDeDup-style pruning (:meth:`duplicate_clusters`
        / :meth:`semantic_prune` serve from it), duplicate clustering and
        graph-ANN bootstrap, built once instead of per consumer. Written
        partitioned by src bucket (pmod 64) so per-node neighbor lookups
        prune.

        BLOCKING is picked from data (VERDICT r11 #2, budget-matched at
        sf0.01, table in SCALE.md): when a TRAINED IVF sidecar exists
        (``build_ivf_index(method="kmeans")``'s 'k'-prefixed centroids),
        the graph blocks by nearest trained cell with the src side
        probing its ``probes`` nearest cells — at the ~150-candidate/node
        budget Hamming-1 LSH spends, 3-probe kmeans reads recall@3 0.61
        vs LSH's 0.52, and trained cells also split the tight clusters
        that collapse sign-LSH (the round-11 sf1 finding). Without
        trained centroids it falls back to adaptive-plane LSH (rank-1).
        ``method`` forces 'lsh'/'kmeans' explicitly.

        The blocking function is PINNED in ``knn_graph_meta.json``
        (planes, or the trained centroids + probe count — re-train =
        rebuild, like the PQ codebooks), which is what keeps the
        incremental refresh exact: a node's neighbor set is a pure
        function of its PROBE SET's buckets' members, so add/delete
        recompute exactly the srcs whose probe set intersects a
        membership-changed bucket (rank-1 LSH: the bucket's own members),
        and untouched rows are bit-identical to a rebuild."""
        from .operators.similarity import adaptive_planes

        if self.registry.get(name) is None:
            raise ValueError(f"unknown database {name!r}")
        emb = self._read(self._table(name, "embeddings"))
        # ADVICE r11 (high): the planes MUST match the stored embedding
        # dimension — V.dot's size guard NULLs every plane dot on mismatch,
        # every sign bit renders '0', and the whole corpus collapses into
        # one bucket (the artifact then silently holds md5-residue
        # sub-block neighbors, not LSH-block neighbors). Read the actual
        # dim from the table (one bounded scalar agg, same class as the
        # adaptive-planes count) instead of trusting a default.
        stats = emb.agg(
            F.count(F.lit(1)).alias("n"),
            F.min(F.size("embedding")).alias("dmin"),
            F.max(F.size("embedding")).alias("dmax"),
        ).first()
        if stats["dmin"] != stats["dmax"]:
            raise ValueError(
                f"mixed embedding dimensions in {name!r}: "
                f"{stats['dmin']}..{stats['dmax']}"
            )
        cents = self._trained_centroids(name) if method != "lsh" else None
        if method == "kmeans" and cents is None:
            raise ValueError(
                f"build_knn_graph(method='kmeans') needs trained centroids"
                f" — run build_ivf_index({name!r}, method='kmeans') first"
            )
        if cents is not None:
            meta = {
                "method": "kmeans",
                "centroids": cents,
                "probes": int(probes),
                "k": k,
                "max_block": self.KNN_GRAPH_MAX_BLOCK,
            }
        else:
            meta = {
                "method": "lsh",
                "planes": adaptive_planes(stats["n"], dim=stats["dmin"]),
                "k": k,
                "max_block": self.KNN_GRAPH_MAX_BLOCK,
            }
        g = self._knn_graph_for_srcs(name, meta, srcs=None)
        self._overwrite(g, self._table(name, "knn_graph"), "src_bucket")
        with open(self._table(name, "knn_graph_meta.json"), "w") as fh:
            json.dump(meta, fh)

    def _trained_centroids(self, name: str) -> list | None:
        """The trained ('k'-prefixed) IVF centroids as a plain list of
        [cluster_id, centroid] pairs, or None when the sidecar is absent
        or holds LSH sign-bucket means ('b' prefix — bucket means are not
        trained cells and block no better than the signs themselves).
        k x dim doubles — the same dictionary scale the meta pins planes
        at."""
        path = self._table(name, "ivf_centroids")
        if not os.path.isdir(path):
            return None
        rows = self._read(path).collect()
        if not rows or not str(rows[0]["cluster_id"]).startswith("k"):
            return None
        return [
            [r["cluster_id"], [float(x) for x in r["centroid"]]]
            for r in sorted(rows, key=lambda r: r["cluster_id"])
        ]

    def _graph_probe_frame(self, name: str, meta: dict, emb=None) -> DataFrame:
        """(chunk_id, embedding, _b, probe_rank) under the artifact's
        PINNED blocking. probe_rank==1 is the node's rank-1 bucket — the
        membership/dst-side truth (each node is a CANDIDATE in exactly one
        bucket, so no pair generates twice); kmeans adds src-side probe
        rows up to meta['probes']; LSH is rank-1 only."""
        if emb is None:
            emb = self._read(self._table(name, "embeddings"))
        if meta.get("method", "lsh") == "kmeans":
            from .operators.clustering import kmeans_assign_topn

            cents = self.spark.createDataFrame(
                [(cid, vec) for cid, vec in meta["centroids"]],
                schema="cluster_id string, centroid array<double>",
            )
            return kmeans_assign_topn(
                emb.select("chunk_id", "embedding"),
                cents,
                n=int(meta.get("probes", 1)),
                id_col="chunk_id",
                vector_col="embedding",
            ).select(
                "chunk_id",
                "embedding",
                F.col("cluster_id").alias("_b"),
                "probe_rank",
            )
        from .operators.similarity import lsh_bucket_expr

        return emb.select(
            "chunk_id",
            "embedding",
            lsh_bucket_expr("embedding", meta["planes"]).alias("_b"),
            F.lit(1).alias("probe_rank"),
        )

    def _knn_graph_for_srcs(
        self, name: str, meta: dict, srcs: DataFrame | None
    ) -> DataFrame:
        """The graph rows for the src nodes in ``srcs`` (a one-column
        ``chunk_id`` frame; None = all nodes), computed from the CURRENT
        embeddings table with the pinned blocking. Restricting to a src
        subset is exact, not approximate: a src's neighbor set is a pure
        function of its probe set's buckets' MEMBERS (rank-1 assignments),
        and the skew-cap sub-split counts derive from full per-bucket
        membership, so a src-closed subset reproduces the full build's
        rows for those srcs bit-for-bit."""
        from .operators.similarity import _blocked_topk

        # consumed 3x (pair sides + the src->bucket join-back); checkpoint
        # so the wide assignment chain evaluates once per row (rule 4)
        probes = materialize(self._graph_probe_frame(name, meta))
        rank1 = probes.filter(F.col("probe_rank") == 1)
        bucketed = rank1.select("chunk_id", F.col("_b").alias("_bucket"))
        a = probes.select(
            F.col("chunk_id").alias("src"),
            F.col("embedding").alias("_emb_a"),
            F.col("_b").alias("_bucket"),
        )
        if srcs is not None:
            a = a.join(
                srcs.withColumnRenamed("chunk_id", "src"), "src", "left_semi"
            )
        b = rank1.select(
            F.col("chunk_id").alias("dst"),
            F.col("embedding").alias("_emb_b"),
            F.col("_b").alias("_bucket"),
        )
        g = _blocked_topk(a, b, bucketed, meta["k"], meta["max_block"])
        return g.join(
            rank1.select(
                F.col("chunk_id").alias("src"), F.col("_b").alias("bucket")
            ),
            "src",
        ).withColumn("src_bucket", F.pmod(F.col("src"), F.lit(64)))

    def _refresh_knn_graph(self, name: str, affected: DataFrame) -> None:
        """Probe-closure incremental refresh of the persisted k-NN graph.
        ``affected`` is the one-column ``bucket`` frame of buckets whose
        MEMBERSHIP changed (the rank-1 buckets of added/deleted nodes;
        localCheckpoint'ed by the caller if its lineage reads a table this
        method's recompute also reads). Exactly the srcs whose probe set
        intersects an affected bucket are recomputed (rank-1 LSH: the
        bucket's own members — the round-11 bucket-local case); every
        other row is carried over untouched, so incremental == rebuild
        bit-for-bit. Deleted srcs are caught by the bucket anti-join
        (their own rank-1 bucket is in ``affected`` by construction).
        Kept ∪ recomputed is checkpointed, then swapped in via
        write-audit-rename (the graph is k rows/node — the write is the
        artifact's own size, the COMPUTE is only the affected srcs' pair
        work, bounded by probe degree x bucket size)."""
        meta_path = self._table(name, "knn_graph_meta.json")
        with open(meta_path) as fh:
            meta = json.load(fh)
        graph_path = self._table(name, "knn_graph")
        affected_srcs = materialize(
            self._graph_probe_frame(name, meta)
            .join(
                F.broadcast(affected.withColumnRenamed("bucket", "_b")),
                "_b",
                "left_semi",
            )
            .select("chunk_id")
            .distinct()
        )
        old = self._read(graph_path)
        kept = old.join(F.broadcast(affected), "bucket", "left_anti").join(
            affected_srcs.withColumnRenamed("chunk_id", "src"),
            "src",
            "left_anti",
        )
        sub = self._knn_graph_for_srcs(name, meta, srcs=affected_srcs)
        merged = materialize(kept.select(sub.columns).unionByName(sub))
        merged.write.partitionBy("src_bucket").mode("overwrite").parquet(
            graph_path + ".tmp"
        )
        self._swap(graph_path)

    def _has_knn_graph(self, name: str) -> bool:
        return os.path.exists(self._table(name, "knn_graph_meta.json"))

    def duplicate_clusters(self, name: str, tau: float = 0.05) -> DataFrame:
        """SemDeDup-style duplicate clusters served FROM the persisted
        k-NN graph artifact (the lexical index's serve-vs-rebuild contract
        applied to the vector side): near-dup edges (distance <= tau) are
        read from the partition-pruned parquet — no pairwise stage runs —
        and transitively closed into clusters (label = min chunk_id).
        Returns (chunk_id, cluster_id, cluster_size, is_canonical) for
        every chunk. Builds the graph on demand if absent."""
        from .operators.dedup import connected_components

        if self.registry.get(name) is None:
            raise ValueError(f"unknown database {name!r}")
        if not self._has_knn_graph(name):
            self.build_knn_graph(name)
        edges = (
            self._read(self._table(name, "knn_graph"))
            .filter(F.col("distance") <= tau)
            .select(F.col("src").alias("id_a"), F.col("dst").alias("id_b"))
        )
        labels = connected_components(edges).withColumnRenamed(
            "id", "chunk_id"
        )
        chunks = self._read(
            self._table(name, "embeddings")
        ).select("chunk_id")
        labeled = chunks.join(labels, "chunk_id", "left").select(
            "chunk_id",
            F.coalesce("label", F.col("chunk_id")).alias("cluster_id"),
        )
        sizes = labeled.groupBy("cluster_id").agg(
            F.count(F.lit(1)).alias("cluster_size")
        )
        return labeled.join(sizes, "cluster_id").select(
            "chunk_id",
            "cluster_id",
            F.col("cluster_size").cast("bigint").alias("cluster_size"),
            (F.col("chunk_id") == F.col("cluster_id"))
            .cast("int")
            .alias("is_canonical"),
        )

    def semantic_prune(self, name: str, tau: float = 0.05) -> DataFrame:
        """The chunk ids a SemDeDup pass would DROP: every non-canonical
        member of a near-dup cluster (keep = min chunk_id per cluster).
        Pure consumer of :meth:`duplicate_clusters` — served from the
        persisted graph, no pairwise work."""
        return (
            self.duplicate_clusters(name, tau)
            .filter(F.col("is_canonical") == 0)
            .select("chunk_id", "cluster_id")
        )

    # -- maintenance: compaction / clustering rewrite ------------------------
    def optimize_table(
        self,
        name: str,
        table: str = "embeddings",
        target_files: int = 8,
        zorder: tuple[str, str] | None = None,
    ) -> int:
        """Rewrite a table into ``target_files`` files, optionally z-order
        clustered on two numeric columns (Morton key over their %256
        buckets — plans/zorder.py) so parquet min/max stats prune 2-D
        range predicates. The streaming/incremental paths append small
        files per micro-batch; this is the periodic OPTIMIZE that keeps
        scan task counts sane (a 100 TB table of 1 MB files is a
        100-million-task scan). Write-audit-swap: the rewrite lands in a
        tmp dir and replaces the table (:meth:`_swap`) only after its row
        count matches. Returns the new file count."""
        from .plans.zorder import morton_key

        path = self._table(name, table)
        df = self._read(path)
        n_before = df.count()
        if zorder is not None:
            cx, cy = zorder
            keyed = df.withColumn(
                "_z",
                morton_key(
                    F.pmod(F.col(cx).cast("bigint"), F.lit(256)),
                    F.pmod(F.col(cy).cast("bigint"), F.lit(256)),
                ),
            )
            out = (
                keyed.repartitionByRange(target_files, "_z")
                .sortWithinPartitions("_z")
                .drop("_z")
            )
        else:
            out = df.repartition(target_files)
        out.write.mode("overwrite").parquet(path + ".tmp")
        rewritten = self._read(path + ".tmp")
        if rewritten.count() != n_before:
            self._forget(path + ".tmp")
            shutil.rmtree(path + ".tmp")
            raise RuntimeError(f"optimize_table row-count audit failed for {path}")
        self._swap(path)
        return len(self._read(path).inputFiles())

    # -- S9: metadata scan --------------------------------------------------
    def list_files(self, name: str) -> DataFrame:
        return (
            self._read(self._table(name, "documents"))
            .select("file_name", "file_path")
            .distinct()
        )

    # -- §3.2: query --------------------------------------------------------
    def search(
        self,
        name: str,
        query: str,
        k: int = DEFAULT_CONTEXTS,
        score_threshold: float = DEFAULT_SIMILARITY,
        search_term: str = "",
        document_types: str = "",
    ) -> DataFrame:
        """The reference search pipeline (vector_db_query.py:136-267) with a
        V1 driver-side query embed (1-row encode is not a cluster job).
        The registered model's family-specific instruction prefix is
        prepended to the QUERY before encoding (embedding_models.py:27-33,
        159-162 parity — e.g. qwen's 'Instruct: ...' / bge's 'Represent
        this sentence ...'); corpus passages are never prefixed here."""
        from .functions.embedding import HashedFeatureEmbedder
        from .functions.policy import prefixed_query

        info = self.registry.get(name)
        if info is None:
            raise ValueError(f"unknown database {name!r}")
        qvec = HashedFeatureEmbedder().encode_one(prefixed_query(info.model, query))
        emb = self._read(self._table(name, "embeddings"))
        # the embeddings table carries text + metadata inline, so it is both
        # the scan side and the lookup side of the shared pipeline
        joined = knn_search(
            emb,
            emb,
            qvec,
            k=k,
            score_threshold=score_threshold,
            search_term=search_term,
            metric=info.metric,
            id_col="chunk_id",
            vector_col="embedding",
            doc_id_col="chunk_id",
            text_col="chunk_text",
            document_types=document_types,
            doc_type_col="file_type",
        )
        return joined.select(
            "chunk_id", "doc_id", "chunk_text", "file_name", "file_type",
            "page_number", "similarity", "distance",
        ).orderBy(F.col("similarity").desc(), F.col("chunk_id").asc())

    def search_bm25(
        self,
        name: str,
        query: str,
        k: int = DEFAULT_CONTEXTS,
        prune: bool = False,
    ) -> DataFrame:
        """Lexical BM25 ranking over the chunk table (beyond-reference: the
        keyword complement to vector search). Query terms are the
        whitespace tokens of ``query``. When :meth:`build_text_index` has
        run, the ranking is served from the persisted index (partition-
        pruned postings read + sidecar stats — no corpus tokenize);
        results are bit-identical either way (pinned by test_text_index).
        ``prune=True`` additionally applies WAND upper-bound pruning with
        the persisted BLOCK-MAX sidecar when available (index-backed only;
        lossless, so still bit-identical)."""
        from .operators.text_search import (
            bm25_topk,
            bm25_topk_from_index,
            bm25_wand_topk_from_index,
        )

        if self.registry.get(name) is None:
            raise ValueError(f"unknown database {name!r}")
        emb = self._read(self._table(name, "embeddings"))
        terms = [t for t in query.lower().split() if t]
        if self._has_text_index(name):
            if prune:
                blocks_path = self._table(name, "text_index_blocks")
                bm = (
                    self._read(blocks_path)
                    if os.path.isdir(blocks_path)
                    else None
                )
                ranked = bm25_wand_topk_from_index(
                    *self._read_text_index(name),
                    terms,
                    k=k,
                    id_col="chunk_id",
                    block_meta=bm,
                )
            else:
                ranked = bm25_topk_from_index(
                    *self._read_text_index(name), terms, k=k, id_col="chunk_id"
                )
        else:
            ranked = bm25_topk(
                emb, terms, k=k, id_col="chunk_id", text_col="chunk_text"
            )
        return (
            emb.select("chunk_id", "doc_id", "chunk_text", "file_name")
            .join(F.broadcast(ranked), "chunk_id")
            .orderBy(F.col("bm25").desc(), F.col("chunk_id").asc())
        )

    def search_hybrid(
        self,
        name: str,
        query: str,
        k: int = DEFAULT_CONTEXTS,
        rrf_k: int = 60,
        candidates: int = 20,
    ) -> DataFrame:
        """Hybrid retrieval: reciprocal-rank fusion of the vector search and
        the BM25 ranking for the same query string. Both candidate lists are
        ``candidates``-row top-ks, so the fuse is constant-size; the two
        retrievals keep their own 100 TB shapes."""
        from pyspark.sql.window import Window

        if self.registry.get(name) is None:
            raise ValueError(f"unknown database {name!r}")
        vec = self.search(name, query, k=candidates, score_threshold=0.0)
        bm = self.search_bm25(name, query, k=candidates)
        vr = vec.select(
            "chunk_id",
            F.row_number()
            .over(
                Window.orderBy(F.col("similarity").desc(), F.col("chunk_id").asc())
            )
            .alias("vrn"),
        )
        br = bm.select(
            "chunk_id",
            F.row_number()
            .over(Window.orderBy(F.col("bm25").desc(), F.col("chunk_id").asc()))
            .alias("brn"),
        )
        fused = vr.join(br, "chunk_id", "full_outer")
        rrf = F.coalesce(
            F.lit(1.0) / (F.lit(rrf_k) + F.col("vrn")), F.lit(0.0)
        ) + F.coalesce(F.lit(1.0) / (F.lit(rrf_k) + F.col("brn")), F.lit(0.0))
        emb = self._read(self._table(name, "embeddings"))
        return (
            fused.select("chunk_id", rrf.alias("rrf_score"))
            .join(
                emb.select("chunk_id", "doc_id", "chunk_text", "file_name"),
                "chunk_id",
            )
            .orderBy(F.col("rrf_score").desc(), F.col("chunk_id").asc())
            .limit(k)
        )

    def vacuum_database(self, name: str, dry_run: bool = False) -> list[str]:
        """Remove crash debris from a database directory: ``*.tmp`` /
        ``*.old`` siblings left by an interrupted :meth:`_swap` and
        ``_temporary`` dirs abandoned by killed Spark write jobs. The Delta
        VACUUM analogue for this layout — debris is identified purely by
        the swap protocol's naming, never by age or reachability
        guesswork, so a live table can never match. An ``X.old`` whose
        live ``X`` is missing is a swap cut between its two renames: it is
        the only complete copy, so it is renamed back to ``X`` (not with
        ``dry_run``), never removed. Returns the removed (or, with
        ``dry_run``, would-be-removed) paths."""
        root = self._db_dir(name)
        if not os.path.isdir(root):
            return []
        orphans = [
            os.path.join(root, entry)
            for entry in sorted(os.listdir(root))
            if entry.endswith(".old")
            and not os.path.exists(os.path.join(root, entry[: -len(".old")]))
        ]
        if not dry_run:
            for old in orphans:
                live = old[: -len(".old")]
                os.rename(old, live)
                self._forget(live)
        doomed: list[str] = []
        for entry in sorted(os.listdir(root)):
            full = os.path.join(root, entry)
            if full in orphans:
                continue
            if entry.endswith((".tmp", ".old")):
                doomed.append(full)
            elif os.path.isdir(full):
                tmp = os.path.join(full, "_temporary")
                if os.path.isdir(tmp):
                    doomed.append(tmp)
        if not dry_run:
            for path in doomed:
                if os.path.isdir(path):
                    shutil.rmtree(path)
                else:
                    os.remove(path)
        return doomed

    # -- S8 delete / S11 backup-restore --------------------------------------
    def delete_database(self, name: str) -> None:
        self._forget(self._db_dir(name))
        shutil.rmtree(self._db_dir(name), ignore_errors=True)
        self.registry.remove(name)

    def backup_database(self, name: str, backup_root: str) -> None:
        """S11 (utilities.py:79-105): table-directory copy. On a cluster:
        CREATE TABLE ... AS SELECT, or table-format time travel."""
        dst = os.path.join(backup_root, name)
        if os.path.exists(dst):
            shutil.rmtree(dst)
        shutil.copytree(self._db_dir(name), dst)

    def restore_database(self, name: str, backup_root: str) -> None:
        src = os.path.join(backup_root, name)
        if not os.path.isdir(src):
            raise FileNotFoundError(src)
        self._forget(self._db_dir(name))
        shutil.rmtree(self._db_dir(name), ignore_errors=True)
        shutil.copytree(src, self._db_dir(name))
        if self.registry.get(name) is None:
            self.registry.add(name, DatabaseInfo("hashed-features-16",
                                                 DEFAULT_CHUNK_SIZE,
                                                 DEFAULT_CHUNK_OVERLAP))
