"""Crash-injection harness for the API's commit record
(vector_db_light_spark/commit.py), on one database that carries every
maintained artifact: an LSH IVF index, a sign sketch, PQ codes, a text
index, an order-2 LM and a kNN graph.

For add_documents, delete_documents and optimize_table: crash the call at
each parquet write (one attempt per write), at the commit record, and
just after the record landed; re-run the same call; every committed
table must equal a crash-free run's and search / search_bm25 must return
the same rows.
Plus three regressions of the write orderings the record replaced. They
read through search or the table directories plainly (the tables each
reads hold no retired slot), so they run against any layout."""

from __future__ import annotations

import json
import os
import shutil

import pyarrow.parquet as pq
import pytest
from pyspark.sql import DataFrameWriter
from pyspark.sql import functions as F

from test_stream_commit import _arm, _Crash
from vector_db_light_spark import commit
from vector_db_light_spark.api import VectorDatabaseManager

DB = "kb"


def _write_files(d, files: dict) -> str:
    os.makedirs(d, exist_ok=True)
    for name, text in files.items():
        with open(os.path.join(d, name), "w") as fh:
            fh.write(text)
    return str(d)


def _corpus(root) -> str:
    return _write_files(os.path.join(root, "docs"), {
        "spark.txt": "spark is a distributed engine for large scale data processing. " * 40,
        "duck.txt": "duckdb is an in process analytical database. " * 40,
        "web.html": "<p>catalyst optimizes logical plans</p>",
    })


def _more(root) -> str:
    return _write_files(os.path.join(root, "more"), {
        "flink.txt": "flink processes unbounded streams with checkpointed state. " * 30,
        "kafka.txt": "kafka keeps an ordered log of spark events. " * 30,
    })


CALLS = {
    "add": lambda mgr, root: mgr.add_documents(DB, os.path.join(root, "more")),
    "delete": lambda mgr, root: mgr.delete_documents(DB, ["duck.txt"]),
    "optimize": lambda mgr, root: mgr.optimize_table(DB, "embeddings", target_files=2),
}


def _state(spark, mgr) -> dict:
    """Every committed table's rows and the two searches' answers. The
    tables are read with pyarrow straight from the slot directories the
    record lists: an independent reader, and no Spark job per table."""
    def canon(v):
        return tuple(canon(x) for x in v) if isinstance(v, (list, tuple)) else v

    db = mgr._db_dir(DB)
    with open(os.path.join(db, commit.RECORD)) as fh:
        tables = json.load(fh)["tables"]
    out = {}
    for name, t in tables.items():
        root = os.path.join(db, t.get("dir", name))
        parts = [
            (e.split("=", 1)[1], os.path.join(root, e)) for e in os.listdir(root)
            if e.startswith(f"{t['part']}=")
        ] if t["part"] else [(None, root)]
        rows = []
        for v, s, d in [
            (v, s, os.path.join(p, f"batch={s}")) for v, p in parts for s in t["slots"]
        ]:
            if not commit.live(t, v, s):
                continue
            for f in sorted(os.listdir(d)) if os.path.isdir(d) else []:
                if f.endswith(".parquet"):
                    rows += [
                        canon((v, *r.values()))
                        for r in pq.read_table(os.path.join(d, f)).to_pylist()
                    ]
        out[name] = sorted(rows, key=repr)
    out["search"] = [
        (r["chunk_id"], r["similarity"])
        for r in mgr.search(DB, "spark data engine", k=5, score_threshold=0.0).collect()
    ]
    out["search_bm25"] = [
        (r["chunk_id"], r["bm25"]) for r in mgr.search_bm25(DB, "spark data", k=5).collect()
    ]
    return out


_STATE: dict = {}


def _prepared(spark, tmp_path_factory, call: str):
    """(root, base, writes, reference): ``base`` holds the database with
    every artifact built; ``reference`` is the crash-free call's state."""
    if "base" not in _STATE:
        work = str(tmp_path_factory.mktemp("api_commit"))
        root, base = f"{work}/root", f"{work}/base"
        mgr = VectorDatabaseManager(spark, f"{root}/dbs")
        mgr.create_database(DB, _corpus(root), chunk_size=200, chunk_overlap=100)
        mgr.build_ivf_index(DB)
        mgr.build_sign_sketch(DB)
        mgr.build_pq_index(DB)
        mgr.build_text_index(DB)
        mgr.build_lm(DB, 2)
        mgr.build_knn_graph(DB, k=2)
        _more(root)  # written once: the files' mtimes land in documents
        shutil.copytree(root, base)
        _STATE["base"] = (root, base)
    root, base = _STATE["base"]
    if call not in _STATE:
        _restore(root, base)
        mgr = VectorDatabaseManager(spark, f"{root}/dbs")
        with pytest.MonkeyPatch.context() as mp:
            seen = _arm(mp)
            CALLS[call](mgr, root)
        _STATE[call] = (seen["n"], _state(spark, mgr))
    return (root, base, *_STATE[call])


def _restore(root: str, base: str) -> None:
    shutil.rmtree(root, ignore_errors=True)
    shutil.copytree(base, root)


# parquet writes per call on the prepared database, then the record
_WRITES = {"add": 13, "delete": 13, "optimize": 1}
_CASES = [(call, b) for call in _WRITES for b in ("every_write", "record", "after_record")]


@pytest.mark.parametrize("call,boundary", _CASES)
def test_api_crash_and_rerun_equals_crash_free(
    spark, tmp_path_factory, call, boundary
):
    """``every_write`` runs one attempt of the call per parquet write, the
    k-th dying at write k over the leftovers of the attempts before it;
    then the call is re-run once and compared."""
    root, base, writes, want = _prepared(spark, tmp_path_factory, call)
    assert writes == _WRITES[call] + 1, "the call's write count changed"
    _restore(root, base)
    mgr = VectorDatabaseManager(spark, f"{root}/dbs")
    crashes = {
        "every_write": [{"crash_at": k} for k in range(1, writes)],
        "record": [{"crash_at": writes}],
        "after_record": [{"after_record": True}],
    }[boundary]
    for crash in crashes:
        with pytest.MonkeyPatch.context() as mp:
            seen = _arm(mp, **crash)
            with pytest.raises(_Crash):
                CALLS[call](mgr, root)
        assert seen["n"] == crash.get("crash_at", writes)
    CALLS[call](mgr, root)  # the re-run
    assert _state(spark, mgr) == want


def _crash_on_table(monkeypatch, table: str, crash=None) -> None:
    """Make the parquet write into ``table``'s directory fail; ``crash``
    (writer -> writer) fails it inside Spark's write instead."""
    real = DataFrameWriter.parquet

    def parquet(self, path, *args, **kwargs):
        if os.path.basename(path.rstrip("/")) == table:
            if crash is None:
                raise _Crash(f"injected crash writing {table}")
            self = crash(self)
        return real(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)


def test_add_documents_crash_before_ledger_does_not_duplicate_chunks(
    spark, tmp_path, monkeypatch
):
    """A crash as add_documents appends to the documents ledger, after its
    vectors landed, used to leave the vectors in place: the re-run found
    the files unrecorded and appended the same chunk ids again."""
    mgr = VectorDatabaseManager(spark, str(tmp_path / "dbs"))
    mgr.create_database(DB, _corpus(str(tmp_path)), chunk_size=200, chunk_overlap=100)
    _crash_on_table(monkeypatch, "documents")
    with pytest.raises(_Crash):
        mgr.add_documents(DB, _more(str(tmp_path)))
    monkeypatch.undo()
    assert mgr.add_documents(DB, _more(str(tmp_path))) == 2
    ids = [
        r["chunk_id"]
        for r in spark.read.parquet(str(tmp_path / "dbs" / DB / "embeddings"))
        .select("chunk_id")
        .collect()
    ]
    assert len(ids) == len(set(ids))


def test_delete_documents_crash_after_documents_rewrite_still_deletes(
    spark, tmp_path, monkeypatch
):
    """A crash after delete_documents rewrote the documents table, as it
    rewrites the embeddings, used to leave the deleted file's vectors
    behind: the re-run found nothing to delete and returned 0."""
    mgr = VectorDatabaseManager(spark, str(tmp_path / "dbs"))
    mgr.create_database(DB, _corpus(str(tmp_path)), chunk_size=200, chunk_overlap=100)
    _crash_on_table(monkeypatch, "embeddings")
    with pytest.raises(_Crash):
        mgr.delete_documents(DB, ["duck.txt"])
    monkeypatch.undo()
    assert mgr.delete_documents(DB, ["duck.txt"]) == 1
    hits = mgr.search(DB, "duck", k=10_000, score_threshold=-1.0)
    assert hits.count() > 0
    assert hits.filter(F.col("file_name") == "duck.txt").count() == 0


def test_merged_sidecar_survives_a_crash_during_its_write(spark, tmp_path, monkeypatch):
    """A merged text-index sidecar used to be overwritten in place: Spark
    deleted the live table before its write job ran, so a crash inside
    that job lost the sidecar. Here the job fails inside Spark's write (an
    unknown compression codec), after any in-place delete would have run."""
    mgr = VectorDatabaseManager(spark, str(tmp_path / "dbs"))
    mgr.create_database(DB, _corpus(str(tmp_path)), chunk_size=200, chunk_overlap=100)
    mgr.build_text_index(DB)
    terms = str(tmp_path / "dbs" / DB / "text_index_terms")

    def rows():
        return sorted(map(tuple, spark.read.parquet(terms).collect()))

    before = rows()
    _crash_on_table(
        monkeypatch, "text_index_terms", lambda w: w.option("compression", "no-such-codec")
    )
    with pytest.raises(Exception, match="no-such-codec"):
        mgr.add_documents(DB, _more(str(tmp_path)))
    monkeypatch.undo()
    assert rows() == before
    assert mgr.search_bm25(DB, "spark data", k=3).count() > 0
