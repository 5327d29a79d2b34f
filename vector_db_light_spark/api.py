"""Top-level database lifecycle API — the engine's equivalent of the
reference's ``CreateVectorDB`` / ``QueryVectorDB`` / config-registry trio.

Reference lifecycle (SURVEY.md §3.1, ``vector_db_creator.py:245-288``):
  load documents -> split PDFs from non-PDFs (F5) -> chunk -> clean -> embed
  -> TileDB array + FLAT index + sidecar json (S5/S6) -> SQLite metadata DB
  (S7) -> config.yaml registry entry (S8) + backup (S11).

Spark re-expression: ONE lazy DAG from binaryFile scan to two partitioned
parquet tables (embeddings, documents) — Catalyst plans it, a single write
action executes it — plus a tiny JSON manifest as the registry. Every
table of a database lives under one commit record
(:mod:`vector_db_light_spark.commit`): each public mutation writes new
slots and commits once, every read sees only committed slots, and the
artifact metadata (PQ codebooks, sketch dimension, kNN-graph blocking,
IVF method, creation settings) lives in the record, not in side files.
Backup / restore copy the database directory.

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

from . import commit
from .functions.embedding import DEFAULT_DIM, embed_documents
from .obs import materialize
from .operators.chunking import chunk_fixed, chunk_overlap_with_pages
from .operators.knn import search as knn_search
from .operators.similarity import pq_encode, sign_rows
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


def _rewrite(
    log: commit.Slot,
    table: str,
    col: str,
    touched: list,
    doomed: DataFrame,
    broadcast_ok: bool = True,
    *metrics,
) -> dict:
    """Rewrite only the ``col`` partitions of ``table`` that held doomed
    rows: their surviving rows land in the mutation's slot and the touched
    partitions' older slots retire, so a partition whose rows were all
    deleted simply leaves the live set. ``doomed`` stays a DataFrame
    (anti-joined, never collected); only ``touched`` — partition VALUES,
    bounded by the bucket/cluster count — rides in the plan as an In-list.
    A table optimize_table compacted out of its partitioning is rewritten
    whole. Returns the write's observations (``metrics`` over the kept
    rows)."""
    rows = log.read(table)
    by_part = log.part(table) == col
    if by_part:
        rows = rows.filter(F.col(col).isin(touched))
    return log.write(
        _anti_join_doomed(rows, doomed, broadcast_ok),
        table,
        retire=touched if by_part else True,
        metrics=metrics,
    )


def _lm_table(order: int) -> str:
    return f"lm_{order}gram"


_TEXT_INDEX = (
    "text_index", "text_index_terms", "text_index_stats",
    "text_index_blocks", "text_index_positions",
)
_TEXT_INDEX_PARTS = ("term_bucket", None, None, "term_bucket", "term_bucket")


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
        commit.write_json(self.path, {**self._read(), name: info.__dict__})

    def remove(self, name: str) -> None:
        data = self._read()
        data.pop(name, None)
        commit.write_json(self.path, data)

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
        # the build/search pipelines run mapInPandas stages; make the
        # package importable on executor workers regardless of driver cwd
        _ship_package(spark)

    # -- paths and the commit record ----------------------------------------
    def _db_dir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _log(self, name: str) -> commit.Slot:
        """The committed state of database ``name``, for reading."""
        return commit.Slot(self.spark, self._db_dir(name))

    @contextlib.contextmanager
    def _commit(self, name: str):
        """One mutation of database ``name``: its reads see the committed
        tables, its writes land in one new slot, and the record is
        committed once, when the body returns."""
        log = self._log(name)
        log.sweep()
        yield log
        log.commit()

    def read_table(self, name: str, table: str) -> DataFrame:
        """The committed rows of ``table`` in database ``name``."""
        return self._log(name).read(table)

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
        # a directory the registry does not list is what a failed create
        # left behind, not a database
        shutil.rmtree(self._db_dir(name), ignore_errors=True)

        docs = ingest(self.spark, source_dir)
        parsed = docs.filter(F.col("parse_error").isNull()).withColumn(
            "doc_id", F.pmod(F.xxhash64("hash"), F.lit(2**31))
        )
        emb_table = self._build_emb_table(parsed, chunk_size, chunk_overlap, dim)
        info = DatabaseInfo(model, chunk_size, chunk_overlap, metric)
        with self._commit(name) as log:
            log.write(emb_table, "embeddings", "id_bucket")
            log.write(parsed, "documents")
            log.meta["info"] = info.__dict__
        self.registry.add(name, info)

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
        recomputed and rewritten — and so is every other built artifact.
        Everything lands in one slot and commits once, so a crashed call
        leaves nothing behind and its re-run does the whole job. Returns
        the number of NEW documents."""
        info = self.registry.get(name)
        if info is None:
            raise ValueError(f"unknown database {name!r}")
        docs = ingest(self.spark, source_dir)
        parsed = docs.filter(F.col("parse_error").isNull()).withColumn(
            "doc_id", F.pmod(F.xxhash64("hash"), F.lit(2**31))
        )
        with self._commit(name) as log:
            existing = log.read("documents").select("hash")
            # feeds the embeddings build and the ledger append; its row
            # count rides the build job
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
            log.write(emb_table, "embeddings")
            if "embeddings_ivf" in log:
                self._refresh_ivf_partitions(log, emb_table, dim)
            if "pq" in log.meta:
                # the codebooks never change on append (re-train = rebuild)
                log.write(
                    pq_encode(emb_table, log.meta["pq"]["codebooks"], id_col="chunk_id"),
                    "embeddings_pq",
                )
            if "sign_dim" in log.meta:
                # the sketch of a vector is a pure per-row function
                log.write(sign_rows(emb_table, log.meta["sign_dim"]), "embeddings_sign")
            if "text_index" in log:
                self._append_text_index(log, emb_table)
            self._merge_lm(log, emb_table.select("chunk_id", "chunk_text"), +1)
            if "knn_graph" in log.meta:
                # probe-closure graph refresh: only the RANK-1 buckets the
                # new chunks land in changed membership (dst candidacy is
                # rank-1 only, even under kmeans probing), computed from
                # the delta with the PINNED blocking
                affected = materialize(  # anti-joined twice by the refresh
                    self._graph_probe_frame(log, emb=emb_table)
                    .filter(F.col("probe_rank") == 1)
                    .select(F.col("_b").alias("bucket"))
                    .distinct()
                )
                self._refresh_knn_graph(log, affected)
            log.write(fresh, "documents")
        return n_new

    def delete_documents(self, name: str, file_names: list[str]) -> int:
        """Targeted delete — the other half of incremental maintenance
        (reference parity gap: it can only drop the whole database). Rows
        for the named files are anti-joined out; of the bucket-partitioned
        embeddings table and the IVF table only the partitions that
        actually contained deleted rows are rewritten — untouched
        partitions keep their files. The centroid sidecar refreshes for
        touched clusters (dropped entirely when a cluster empties). Every
        rewrite lands in one slot and commits once. On a table format (Iceberg/Delta)
        this whole method becomes a metadata-level DELETE; the plain-parquet
        version here keeps the same partition-local cost model. Returns the
        number of documents removed."""
        if self.registry.get(name) is None:
            raise ValueError(f"unknown database {name!r}")
        with self._commit(name) as log:
            return self._delete(log, file_names)

    def _delete(self, log: commit.Slot, file_names: list[str]) -> int:
        docs = log.read("documents")
        # the doomed set stays a DataFrame end to end: deleting a whole
        # source can doom millions of doc_ids, and a driver-side In-list at
        # that size blows the plan. Only PARTITION VALUES (small by
        # construction: <= N_ID_BUCKETS buckets / 2^n_planes clusters) are
        # ever collected. Materialized: every table below anti-joins it.
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
        ok = n_del <= DELETE_BROADCAST_MAX
        log.write(_anti_join_doomed(docs, doomed, ok), "documents", retire=True)
        emb = log.read("embeddings")

        text_doomed = None
        if "text_index" in log or any(_lm_table(o) in log for o in LM_ORDERS):
            # the doomed chunks' text, from the pre-delete embeddings: the
            # text-index delete derives its postings and stats deltas from
            # it and the LM merge its counts delta
            text_doomed = materialize(
                _semi_join_doomed(emb, doomed, ok).select("chunk_id", "chunk_text")
            )
        graph_affected = None
        if "knn_graph" in log.meta:
            # the doomed chunks' RANK-1 buckets, from the pre-delete
            # embeddings. A doomed node can be graph-invisible (alone in
            # its skew-cap sub-block), so the buckets derive from the
            # embeddings, not from the graph's own rows — and the refresh's
            # bucket anti-join is what evicts the doomed srcs' rows (their
            # own bucket is always in this set). Joined twice by the refresh.
            graph_affected = materialize(
                self._graph_probe_frame(log, emb=_semi_join_doomed(emb, doomed, ok))
                .filter(F.col("probe_rank") == 1)
                .select(F.col("_b").alias("bucket"))
                .distinct()
            )

        touched_buckets = [
            r["id_bucket"]
            for r in _semi_join_doomed(emb, doomed, ok)
            .select("id_bucket")
            .distinct()
            .collect()
        ]
        if touched_buckets:
            _rewrite(log, "embeddings", "id_bucket", touched_buckets, doomed, ok)
        if "embeddings_ivf" in log:
            ivf = log.read("embeddings_ivf")
            touched = [
                r["cluster_id"]
                for r in _semi_join_doomed(ivf, doomed, ok)
                .select("cluster_id")
                .distinct()
                .collect()
            ]
            if touched:
                kept = _rewrite(
                    log, "embeddings_ivf", "cluster_id", touched, doomed, ok,
                    F.max(F.size("embedding")).alias("dim"),
                )
                # the vectors' dimension rides the rewrite's job; it is
                # None only when no vector survives in the touched
                # clusters, whose refresh then has no rows
                self._recompute_sidecar(log, touched, kept["dim"] or DEFAULT_DIM)
        remaining = log.read("embeddings")
        if "pq" in log.meta:
            # Re-encode the post-delete embeddings and replace the codes
            # table whole: at 32x compression the codes table is a rounding
            # error next to the partition rewrites above, so the simple
            # rewrite beats threading chunk-level anti-joins through one
            # more artifact. (On Delta/Iceberg this is a metadata-level
            # DELETE keyed on chunk_id instead.)
            log.write(
                pq_encode(remaining, log.meta["pq"]["codebooks"], id_col="chunk_id"),
                "embeddings_pq",
                retire=True,
            )
        if "sign_dim" in log.meta:
            # same treatment as the PQ codes: 16 bytes a row
            log.write(
                sign_rows(remaining, log.meta["sign_dim"]), "embeddings_sign", retire=True
            )
        if "text_index" in log:
            self._delete_from_text_index(log, text_doomed)
        if text_doomed is not None:
            self._merge_lm(log, text_doomed, -1)
        if graph_affected is not None:
            self._refresh_knn_graph(log, graph_affected)
        return n_del

    def _recompute_sidecar(self, log: commit.Slot, touched: list[str], dim: int) -> None:
        """Refresh centroid rows for ``touched`` clusters from the current
        IVF table (partition-pruned); clusters that emptied disappear."""
        from .operators.similarity import ivf_centroids

        refreshed = ivf_centroids(
            log.read("embeddings_ivf").filter(F.col("cluster_id").isin(touched)),
            dim,
            cluster_col="cluster_id",
        )
        kept = log.read("ivf_centroids").filter(~F.col("cluster_id").isin(touched))
        log.write(kept.unionByName(refreshed), "ivf_centroids", retire=True)

    def _refresh_ivf_partitions(self, log: commit.Slot, new_rows, dim: int) -> None:
        """Append new vectors to their IVF partitions and recompute
        centroids ONLY for the touched clusters (observed on the append).
        Untouched partitions are never read or written.

        Assignment routing follows the index's method, recorded by
        build_ivf_index: trained centroids ('k') route new vectors through
        a broadcast nearest-centroid pass against the sidecar (the correct
        IVF append; no retraining), LSH ('b') re-derives the hyperplane
        sign bucket."""
        from .operators.similarity import lsh_bucket_expr, random_hyperplanes

        if log.meta["ivf"] == "k":
            from .operators.clustering import kmeans_assign

            clustered = kmeans_assign(
                new_rows, log.read("ivf_centroids"), id_col="chunk_id",
                vector_col="embedding",
            ).drop("distance")
        else:
            planes = random_hyperplanes(IVF_N_PLANES, dim)
            clustered = new_rows.withColumn(
                "cluster_id",
                F.concat(F.lit("b"), lsh_bucket_expr("embedding", planes)),
            )
        touched = log.write(
            clustered, "embeddings_ivf",
            metrics=(F.collect_set("cluster_id").alias("touched"),),
        )["touched"]
        self._recompute_sidecar(log, touched, dim)

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
        sign buckets. The method ('b' or 'k', also the partition values'
        prefix) is recorded in the commit record: incremental refresh reads
        it to route new vectors through the matching assignment.
        """
        from .operators.similarity import (
            ivf_centroids,
            lsh_bucket_expr,
            random_hyperplanes,
        )

        with self._commit(name) as log:
            emb = log.read("embeddings")
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
            log.write(clustered, "embeddings_ivf", "cluster_id", retire=True)
            log.write(
                ivf_centroids(log.read("embeddings_ivf"), dim, cluster_col="cluster_id"),
                "ivf_centroids",
                retire=True,
            )
            log.meta["ivf"] = "k" if method == "kmeans" else "b"

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
        log = self._log(name)
        return ivf_search(
            log.read("embeddings_ivf"),
            qvec,
            nprobe=nprobe,
            k=k,
            cluster_col="cluster_id",
            id_col="chunk_id",
            centroids=log.read("ivf_centroids"),
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
          * the kilobyte codebooks, kept in the commit record's ``pq`` entry
            (reference index_metadata.json analogue). ``trained=True``
            swaps in per-subspace fixed-point k-means codebooks
            (operators/similarity.train_pq_codebooks — measured recall@5
            lift 0.275 -> 0.425 on corpus queries, ann_pq_trained_recall);
            the flag changes the codebooks only, never the serving plan."""
        from .operators.similarity import pq_codebooks, train_pq_codebooks

        with self._commit(name) as log:
            emb = log.read("embeddings")
            if trained:
                books = train_pq_codebooks(
                    emb, m, ksub, dim // m, iters=train_iters, id_col="chunk_id"
                )
            else:
                books = pq_codebooks(m, ksub, dim // m)
            log.write(pq_encode(emb, books, id_col="chunk_id"), "embeddings_pq", retire=True)
            log.meta["pq"] = {
                "m": m,
                "ksub": ksub,
                "subdim": dim // m,
                "trained": trained,
                "codebooks": books,
            }

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
        from .functions.embedding import HashedFeatureEmbedder
        from .functions.policy import prefixed_query
        from .functions.vector import dot
        from .operators.similarity import pq_adc_lut, pq_adc_topk

        info = self.registry.get(name)
        if info is None:
            raise ValueError(f"unknown database {name!r}")
        log = self._log(name)
        qvec = HashedFeatureEmbedder().encode_one(
            prefixed_query(info.model, query)
        )
        lut = pq_adc_lut(qvec, log.meta["pq"]["codebooks"])
        short = pq_adc_topk(
            log.read("embeddings_pq"), lut, k=(shortlist if rerank else k), id_col="chunk_id"
        )
        if not rerank:
            return short
        emb = log.read("embeddings")
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
        row — the PQ-codes treatment). Dim is pinned in the commit record
        (read from the table like build_knn_graph: a dim-mismatched
        sketch would be silently all-zero words past the vector's
        end)."""
        if self.registry.get(name) is None:
            raise ValueError(f"unknown database {name!r}")
        with self._commit(name) as log:
            emb = log.read("embeddings")
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
            log.write(sign_rows(emb, dim), "embeddings_sign", retire=True)
            log.meta["sign_dim"] = dim

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
        log = self._log(name)
        qvec = HashedFeatureEmbedder().encode_one(
            prefixed_query(info.model, query)
        )
        q_words = sign_words_py(list(qvec), log.meta["sign_dim"])
        sk = log.read("embeddings_sign")
        hd = None
        for j, qw in enumerate(q_words):
            term = F.bit_count(F.col(f"w{j}").bitwiseXOR(F.lit(int(qw))))
            hd = term if hd is None else hd + term
        short = (
            sk.select("chunk_id", hd.cast("bigint").alias("hamming"))
            .orderBy(F.col("hamming").asc(), F.col("chunk_id").asc())
            .limit(shortlist)
        )
        emb = log.read("embeddings")
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
        with self._commit(name) as log:
            tables = build_text_index(
                log.read("embeddings"), id_col="chunk_id", text_col="chunk_text"
            )
            for df, table, part in zip(tables, _TEXT_INDEX, _TEXT_INDEX_PARTS):
                log.write(df, table, part, retire=True)

    def _append_text_index(self, log: commit.Slot, new_rows) -> None:
        """Incremental index maintenance on ingest: the NEW chunks'
        postings and positions append to their term_bucket partitions and
        the term, stats and block sidecars merge by their monoids
        (operators/text_search.merge_text_index) — append-then-merge ==
        rebuild bit-for-bit (pinned by test_text_index)."""
        from .operators.text_search import build_text_index, merge_text_index

        postings, terms, stats, _, positions = build_text_index(
            new_rows, id_col="chunk_id", text_col="chunk_text"
        )
        sidecars = ("text_index_terms", "text_index_stats", "text_index_blocks")
        merged = merge_text_index(
            [log.read(t) for t in sidecars], postings, terms, stats, id_col="chunk_id"
        )
        log.write(postings, "text_index")
        log.write(positions, "text_index_positions")
        for df, table, part in zip(merged, sidecars, (None, None, "term_bucket")):
            log.write(df, table, part, retire=True)

    def _delete_from_text_index(self, log: commit.Slot, doomed_rows: DataFrame) -> None:
        """Bounded-delta text-index DELETE (VERDICT r11 #5 — the path the
        old full-rebuild comment only designed): cost is O(deleted docs'
        postings + their term buckets), not O(corpus).

        ``doomed_rows`` = (chunk_id, chunk_text) of the deleted chunks,
        read by the caller from the PRE-delete embeddings. Their
        postings delta is re-derived by the same tokenizer that produced
        the original appends, which gives the affected term set WITHOUT
        scanning the postings table. Then, per sidecar:

        * postings / positions: doomed chunks' rows anti-joined out, only
          the affected term-bucket partitions rewritten.
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
        # feeds the post-delete postings probe and both sidecar anti-joins
        affected_terms = materialize(
            del_postings.select("term", "term_bucket")
            .distinct()
            .observe(seen, F.collect_set("term_bucket").alias("buckets"))
        )
        touched = seen.get["buckets"]
        if touched:
            doomed_ids = doomed_rows.select("chunk_id")
            for table in ("text_index", "text_index_positions"):
                _rewrite(log, table, "term_bucket", touched, doomed_ids)
            # post-delete postings for the affected terms, scan pruned to
            # their buckets (PartitionFilters)
            post = materialize(  # feeds term_meta AND blocks
                log.read("text_index")
                .filter(F.col("term_bucket").isin(touched))
                .join(F.broadcast(affected_terms.select("term")), "term", "left_semi")
            )
            recomputed_terms = post.groupBy("term").agg(
                F.count(F.lit(1)).cast("long").alias("df"),
                F.max("tf").cast("long").alias("tf_max"),
                F.min("dl").cast("long").alias("dl_min"),
            )
            log.write(
                log.read("text_index_terms")
                .join(F.broadcast(affected_terms.select("term")), "term", "left_anti")
                .unionByName(recomputed_terms),
                "text_index_terms",
                retire=True,
            )
            old_blocks = log.read("text_index_blocks")
            recomputed_blocks = build_text_block_meta(
                post, id_col="chunk_id", block_size=index_block_size(old_blocks)
            )
            log.write(
                old_blocks.join(
                    F.broadcast(affected_terms.select("term")), "term", "left_anti"
                )
                .select(recomputed_blocks.columns)
                .unionByName(recomputed_blocks),
                "text_index_blocks",
                "term_bucket",
                retire=True,
            )
        # stats: pure sums, subtract the delta exactly — this runs even
        # when the deleted docs had zero tokens (they still counted into
        # n_docs)
        merged_stats = (
            log.read("text_index_stats")
            .crossJoin(
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
        log.write(merged_stats, "text_index_stats", retire=True)

    # -- persisted n-gram language model (VERDICT r11 #7) -------------------
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
        with self._commit(name) as log:
            counts = kn_counts(
                log.read("embeddings"), order, id_col="chunk_id", text_col="chunk_text"
            )
            log.write(counts, _lm_table(order), retire=True)

    def _merge_lm(self, log: commit.Slot, delta_rows: DataFrame, sign: int) -> None:
        """Fold a (chunk_id, chunk_text) delta into every persisted LM
        count table: +1 on ingest, -1 on delete. Counts are sums, so both
        directions are exact; rows whose count reaches 0 drop, exactly as
        a rebuild would drop them (operators/textstats.merge_kn_counts)."""
        from .operators.textstats import kn_counts, merge_kn_counts

        for order in LM_ORDERS:
            if _lm_table(order) not in log:
                continue
            delta = kn_counts(delta_rows, order, id_col="chunk_id", text_col="chunk_text")
            log.write(
                merge_kn_counts(log.read(_lm_table(order)), delta, sign),
                _lm_table(order),
                retire=True,
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

        if _lm_table(order) not in self._log(name):
            self.build_lm(name, order)
        log = self._log(name)
        counts = log.read(_lm_table(order))
        toks = log.read("embeddings").select(
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
        the commit record like the PQ codebooks. Deliberately
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
        docs = self._log(name).read("embeddings").select(
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
        with self._commit(name) as log:
            log.meta["tokenizer"] = {
                "n_merges": n_merges,
                "sample_mod": sample_mod,
                "sample_keep": sample_keep,
                "merges": [{"round": r, "pair": p, "cnt": c} for r, p, c in rows],
            }

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

        if "tokenizer" not in self._log(name).meta:
            self.build_tokenizer(name)
        log = self._log(name)
        merges = [m["pair"] for m in log.meta["tokenizer"]["merges"]]
        docs = log.read("embeddings").select(
            F.col("chunk_id"), F.col("chunk_text").alias("text")
        )
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
        log = self._log(name)
        emb = log.read("embeddings")
        if "text_index_positions" in log:
            postings = positions_for_terms(log.read("text_index_positions"), terms)
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
        log = self._log(name)
        emb = log.read("embeddings")
        if "text_index_positions" in log:
            postings = positions_for_terms(log.read("text_index_positions"), [term_a, term_b])
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

        The blocking function is PINNED in the commit record's
        ``knn_graph`` entry (planes, or the trained centroids + probe
        count — re-train =
        rebuild, like the PQ codebooks), which is what keeps the
        incremental refresh exact: a node's neighbor set is a pure
        function of its PROBE SET's buckets' members, so add/delete
        recompute exactly the srcs whose probe set intersects a
        membership-changed bucket (rank-1 LSH: the bucket's own members),
        and untouched rows are bit-identical to a rebuild."""
        from .operators.similarity import adaptive_planes

        if self.registry.get(name) is None:
            raise ValueError(f"unknown database {name!r}")
        cents = self._trained_centroids(name) if method != "lsh" else None
        if method == "kmeans" and cents is None:
            raise ValueError(
                f"build_knn_graph(method='kmeans') needs trained centroids"
                f" — run build_ivf_index({name!r}, method='kmeans') first"
            )
        with self._commit(name) as log:
            emb = log.read("embeddings")
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
            log.meta["knn_graph"] = meta
            g = self._knn_graph_for_srcs(log, srcs=None)
            log.write(g, "knn_graph", "src_bucket", retire=True)

    def _trained_centroids(self, name: str) -> list | None:
        """The trained ('k'-prefixed) IVF centroids as a plain list of
        [cluster_id, centroid] pairs, or None when the sidecar is absent
        or holds LSH sign-bucket means ('b' prefix — bucket means are not
        trained cells and block no better than the signs themselves).
        k x dim doubles — the same dictionary scale the meta pins planes
        at."""
        log = self._log(name)
        if log.meta.get("ivf") != "k":
            return None
        rows = log.read("ivf_centroids").collect()
        if not rows:
            return None
        return [
            [r["cluster_id"], [float(x) for x in r["centroid"]]]
            for r in sorted(rows, key=lambda r: r["cluster_id"])
        ]

    def _graph_probe_frame(self, log: commit.Slot, emb=None) -> DataFrame:
        """(chunk_id, embedding, _b, probe_rank) under the artifact's
        PINNED blocking. probe_rank==1 is the node's rank-1 bucket — the
        membership/dst-side truth (each node is a CANDIDATE in exactly one
        bucket, so no pair generates twice); kmeans adds src-side probe
        rows up to meta['probes']; LSH is rank-1 only."""
        meta = log.meta["knn_graph"]
        if emb is None:
            emb = log.read("embeddings")
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

    def _knn_graph_for_srcs(self, log: commit.Slot, srcs: DataFrame | None) -> DataFrame:
        """The graph rows for the src nodes in ``srcs`` (a one-column
        ``chunk_id`` frame; None = all nodes), computed from the CURRENT
        embeddings table with the pinned blocking. Restricting to a src
        subset is exact, not approximate: a src's neighbor set is a pure
        function of its probe set's buckets' MEMBERS (rank-1 assignments),
        and the skew-cap sub-split counts derive from full per-bucket
        membership, so a src-closed subset reproduces the full build's
        rows for those srcs bit-for-bit."""
        from .operators.similarity import _blocked_topk

        meta = log.meta["knn_graph"]
        # consumed 3x (pair sides + the src->bucket join-back); checkpoint
        # so the wide assignment chain evaluates once per row (rule 4)
        probes = materialize(self._graph_probe_frame(log))
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

    def _refresh_knn_graph(self, log: commit.Slot, affected: DataFrame) -> None:
        """Probe-closure incremental refresh of the persisted k-NN graph.
        ``affected`` is the one-column ``bucket`` frame of buckets whose
        MEMBERSHIP changed (the rank-1 buckets of added/deleted nodes).
        Exactly the srcs whose probe set
        intersects an affected bucket are recomputed (rank-1 LSH: the
        bucket's own members — the round-11 bucket-local case); every
        other row is carried over untouched, so incremental == rebuild
        bit-for-bit. Deleted srcs are caught by the bucket anti-join
        (their own rank-1 bucket is in ``affected`` by construction).
        Kept ∪ recomputed replaces the graph whole (the graph is k
        rows/node — the write is the artifact's own size, the COMPUTE is
        only the affected srcs' pair work, bounded by probe degree x
        bucket size)."""
        # joined by the kept rows and the recompute
        affected_srcs = materialize(
            self._graph_probe_frame(log)
            .join(
                F.broadcast(affected.withColumnRenamed("bucket", "_b")),
                "_b",
                "left_semi",
            )
            .select("chunk_id")
            .distinct()
        )
        kept = log.read("knn_graph").join(F.broadcast(affected), "bucket", "left_anti").join(
            affected_srcs.withColumnRenamed("chunk_id", "src"),
            "src",
            "left_anti",
        )
        sub = self._knn_graph_for_srcs(log, srcs=affected_srcs)
        log.write(
            kept.select(sub.columns).unionByName(sub), "knn_graph", "src_bucket",
            retire=True,
        )

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
        if "knn_graph" not in self._log(name).meta:
            self.build_knn_graph(name)
        log = self._log(name)
        edges = (
            log.read("knn_graph")
            .filter(F.col("distance") <= tau)
            .select(F.col("src").alias("id_a"), F.col("dst").alias("id_b"))
        )
        labels = connected_components(edges).withColumnRenamed(
            "id", "chunk_id"
        )
        chunks = log.read("embeddings").select("chunk_id")
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
        100-million-task scan). The rewrite replaces the table only after
        its row count matches; a partitioned table comes out unpartitioned
        (its partition column stays a data column), in a directory of its
        own. Returns the new file count."""
        from .plans.zorder import morton_key

        with self._commit(name) as log:
            df = log.read(table)
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
            log.write(out, table, retire=True)
            if log.read(table).count() != n_before:
                raise RuntimeError(
                    f"optimize_table row-count audit failed for {name}/{table}"
                )
        return len(self._log(name).files(table))

    # -- S9: metadata scan --------------------------------------------------
    def list_files(self, name: str) -> DataFrame:
        return (
            self._log(name).read("documents")
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
        emb = self._log(name).read("embeddings")
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
        log = self._log(name)
        emb = log.read("embeddings")
        terms = [t for t in query.lower().split() if t]
        if "text_index" in log:
            index = [log.read(t) for t in _TEXT_INDEX[:3]]
            if prune:
                ranked = bm25_wand_topk_from_index(
                    *index,
                    terms,
                    k=k,
                    id_col="chunk_id",
                    block_meta=log.read("text_index_blocks"),
                )
            else:
                ranked = bm25_topk_from_index(*index, terms, k=k, id_col="chunk_id")
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
        emb = self._log(name).read("embeddings")
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
        """Remove crash debris from a database directory: every ``batch=``
        slot directory its commit record does not list (a crashed
        mutation's writes, or retired slots a crash kept from being
        deleted) and every ``_temporary`` of an abandoned Spark write job.
        The Delta VACUUM analogue for this layout — debris is whatever the
        record does not reference, never guessed by age. Returns the
        removed (or, with ``dry_run``, would-be-removed) paths."""
        return self._log(name).sweep(dry_run)

    # -- S8 delete / S11 backup-restore --------------------------------------
    def delete_database(self, name: str) -> None:
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
        """Copy a backup back and register it with the settings it was
        created with (kept in its commit record)."""
        src = os.path.join(backup_root, name)
        if not os.path.isdir(src):
            raise FileNotFoundError(src)
        shutil.rmtree(self._db_dir(name), ignore_errors=True)
        shutil.copytree(src, self._db_dir(name))
        if self.registry.get(name) is None:
            self.registry.add(name, DatabaseInfo(**self._log(name).meta["info"]))
