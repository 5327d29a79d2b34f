"""End-to-end lifecycle tests: create -> search -> list -> backup ->
delete -> restore, plus the RAG formatting layer."""

from __future__ import annotations

import pytest

from vector_db_light_spark.api import VectorDatabaseManager
from vector_db_light_spark.rag import (
    assemble_rag_prompt,
    format_chunks,
    format_citations,
)


@pytest.fixture()
def corpus_dir(tmp_path):
    src = tmp_path / "docs"
    src.mkdir()
    (src / "spark.txt").write_text(
        "spark is a distributed engine for large scale data processing. " * 40
    )
    (src / "duck.txt").write_text(
        "duckdb is an in process analytical database. " * 40
    )
    (src / "web.html").write_text("<p>catalyst optimizes logical plans</p>")
    return str(src)


def test_full_lifecycle(spark, tmp_path, corpus_dir):
    mgr = VectorDatabaseManager(spark, str(tmp_path / "dbs"))
    mgr.create_database("kb", corpus_dir, chunk_size=200, chunk_overlap=100)

    assert mgr.registry.get("kb").chunk_size == 200
    with pytest.raises(ValueError):
        mgr.create_database("kb", corpus_dir)

    files = {r["file_name"] for r in mgr.list_files("kb").collect()}
    assert files == {"spark.txt", "duck.txt", "web.html"}

    hits = mgr.search("kb", "distributed spark engine", k=4, score_threshold=0.0)
    rows = hits.collect()
    assert 0 < len(rows) <= 4
    assert rows[0]["file_name"] == "spark.txt"  # on-topic doc ranks first
    sims = [r["similarity"] for r in rows]
    assert sims == sorted(sims, reverse=True)

    # keyword filter (F2) and doc-type filter (F3 analogue)
    only_duck = mgr.search("kb", "analytical database", k=6,
                           score_threshold=0.0, search_term="duckdb").collect()
    assert all("duckdb" in r["chunk_text"].lower() for r in only_duck)

    # backup -> delete -> restore -> still searchable
    entry = mgr.registry.get("kb")
    mgr.backup_database("kb", str(tmp_path / "bak"))
    mgr.delete_database("kb")
    assert mgr.registry.get("kb") is None
    with pytest.raises(ValueError):
        mgr.search("kb", "anything")
    mgr.restore_database("kb", str(tmp_path / "bak"))
    assert mgr.search("kb", "spark", k=2, score_threshold=0.0).count() > 0
    # restored with the settings it was created with
    assert mgr.registry.get("kb") == entry


def test_rag_formatting():
    rows = [
        {"chunk_text": "alpha\n\n\n\nbeta", "file_name": "a.pdf",
         "file_type": ".pdf", "similarity": 0.9, "page_number": 3},
        {"chunk_text": "gamma", "file_name": "a.pdf",
         "file_type": ".pdf", "similarity": 0.7, "page_number": 4},
        {"chunk_text": "delta", "file_name": "b.txt",
         "file_type": ".txt", "similarity": 0.8, "page_number": None},
    ]
    chunks = format_chunks(rows)
    assert "CONTEXT 1 | a.pdf" in chunks and "CONTEXT 3 | b.txt" in chunks
    assert "alpha\n\nbeta" in chunks  # F9 blank-run collapse

    prompt = assemble_rag_prompt([r["chunk_text"] for r in rows], "what is alpha?")
    assert "what is alpha?" in prompt and "---" in prompt
    with pytest.raises(ValueError):
        assemble_rag_prompt([], "q")

    html = format_citations(rows)
    assert "a.pdf" in html and "p.3-4" in html and "b.txt" in html
    # a.pdf has the lower min score -> listed first (utilities.py:74)
    assert html.index("a.pdf") < html.index("b.txt")


def test_chat_client_payload_and_stub():
    from vector_db_light_spark.rag import ChatClient

    c = ChatClient()
    payload = c.build_payload("hello")
    assert payload["messages"][1]["content"] == "hello"
    assert payload["messages"][0]["role"] == "system"
    with pytest.raises(NotImplementedError):
        c.ask("hello")
    with pytest.raises(NotImplementedError):
        next(c.ask_stream("hello"))


def test_chat_client_streams_sse_incrementally():
    """L2 streaming against a stubbed OpenAI-compatible SSE server: the
    exact stream payload is POSTed, tokens arrive INCREMENTALLY (the server
    holds chunk 2 until the test has consumed chunk 1), the first chunk is
    lstripped (LM Studio parity, chat_llm.py:85-86), role-only and null
    deltas are skipped, and the stream ends with the reference's trailing
    newline after [DONE] (chat_llm.py:151)."""
    import json as _json
    import threading
    from http.server import BaseHTTPRequestHandler, HTTPServer

    from vector_db_light_spark.rag import ChatClient

    received: dict = {}
    got_first = threading.Event()

    class Handler(BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.0"  # close-delimited body: no chunked framing

        def do_POST(self):
            n = int(self.headers["Content-Length"])
            received["payload"] = _json.loads(self.rfile.read(n))
            received["auth"] = self.headers.get("Authorization")
            self.send_response(200)
            self.send_header("Content-Type", "text/event-stream")
            self.end_headers()

            def send(obj):
                self.wfile.write(f"data: {_json.dumps(obj)}\n\n".encode())
                self.wfile.flush()

            send({"choices": [{"delta": {"role": "assistant"}}]})  # no content
            send({"choices": [{"delta": {"content": " Hello"}}]})
            # incremental-delivery proof: chunk 2 is only written after the
            # client has already yielded chunk 1
            assert got_first.wait(timeout=10)
            send({"choices": [{"delta": {"content": " world"}}]})
            send({"choices": [{"delta": {"content": None}}]})  # null delta
            self.wfile.write(b"data: [DONE]\n\n")
            self.wfile.flush()

        def log_message(self, *a):  # keep pytest output clean
            pass

    srv = HTTPServer(("127.0.0.1", 0), Handler)
    t = threading.Thread(target=srv.handle_request, daemon=True)
    t.start()
    try:
        c = ChatClient(base_url=f"http://127.0.0.1:{srv.server_port}/v1")
        gen = c.ask_stream("question", timeout=10.0)
        first = next(gen)
        assert first == "Hello"  # leading space stripped on chunk 1 only
        got_first.set()
        rest = list(gen)
        assert rest == [" world", "\n"]
    finally:
        got_first.set()
        t.join(timeout=10)
        srv.server_close()

    assert received["payload"] == c.build_payload("question", stream=True)
    assert received["payload"]["stream"] is True
    assert received["auth"] == "Bearer not-needed"


def test_create_database_preconditions(spark, tmp_path, corpus_dir):
    mgr = VectorDatabaseManager(spark, str(tmp_path / "dbs2"))
    with pytest.raises(ValueError, match="invalid database name"):
        mgr.create_database("bad name!", corpus_dir)
    with pytest.raises(ValueError, match="chunk geometry"):
        mgr.create_database("ok", corpus_dir, chunk_size=100, chunk_overlap=100)
    with pytest.raises(FileNotFoundError):
        mgr.create_database("ok", str(tmp_path / "nope"))


def test_metric_sidecar_roundtrip(spark, tmp_path, corpus_dir):
    mgr = VectorDatabaseManager(spark, str(tmp_path / "dbs3"))
    mgr.create_database("l2db", corpus_dir, chunk_size=200, chunk_overlap=100,
                        metric="l2")
    assert mgr.registry.get("l2db").metric == "l2"
    rows = mgr.search("l2db", "distributed spark engine", k=3,
                      score_threshold=0.0).collect()
    assert rows  # l2 similarity = 1 - d/max(d): top hit scores 1.0 is possible
    assert all(0.0 <= r["similarity"] <= 1.0 for r in rows)


def test_delete_before_any_create_is_noop(spark, tmp_path):
    mgr = VectorDatabaseManager(spark, str(tmp_path / "fresh_root"))
    mgr.delete_database("never_existed")  # must not raise
    assert mgr.registry.list() == {}


def test_ivf_index_build_and_ann_search(spark, tmp_path, corpus_dir):
    """S6: build_ivf_index writes the partitioned embeddings_ivf table and
    the ivf_centroids sidecar; search_ann probes the sidecar (never the
    corpus) and returns ranked hits from the probed clusters only."""
    import os

    mgr = VectorDatabaseManager(spark, str(tmp_path / "dbs"))
    mgr.create_database("kb2", corpus_dir, chunk_size=200, chunk_overlap=100)
    mgr.build_ivf_index("kb2")

    db_dir = str(tmp_path / "dbs" / "kb2")
    assert os.path.isdir(os.path.join(db_dir, "embeddings_ivf"))
    assert os.path.isdir(os.path.join(db_dir, "ivf_centroids"))
    # the rewrite is physically partitioned by cluster_id
    assert any(
        d.startswith("cluster_id=")
        for d in os.listdir(os.path.join(db_dir, "embeddings_ivf"))
    )

    hits = mgr.search_ann("kb2", "distributed spark engine", k=4, nprobe=2).collect()
    assert 0 < len(hits) <= 4
    dists = [r["distance"] for r in hits]
    assert dists == sorted(dists)

    # ANN hits must be a subset of the probed clusters' brute-force ranking:
    # every returned distance appears in the full-corpus scoring
    full = {
        r["chunk_id"]
        for r in mgr.read_table("kb2", "embeddings").select(
            "chunk_id"
        ).collect()
    }
    assert {r["chunk_id"] for r in hits} <= full


def test_search_uses_model_instruction_prefix(spark, tmp_path, corpus_dir):
    """V1 prefix hook end-to-end: a bge-registered database encodes
    prompt+query; results stay valid and the registry carries the model."""
    mgr = VectorDatabaseManager(spark, str(tmp_path / "dbs"))
    mgr.create_database(
        "kbp", corpus_dir, chunk_size=200, chunk_overlap=100,
        model="bge-small-en-v1.5",
    )
    assert mgr.registry.get("kbp").model == "bge-small-en-v1.5"
    hits = mgr.search("kbp", "distributed spark engine", k=3,
                      score_threshold=0.0).collect()
    assert 0 < len(hits) <= 3


def test_search_bm25_and_hybrid(spark, tmp_path, corpus_dir):
    """Lexical + hybrid retrieval over the lifecycle tables: BM25 favors the
    term-bearing chunks; RRF fuses both rankings and stays k-bounded."""
    mgr = VectorDatabaseManager(spark, str(tmp_path / "dbs"))
    mgr.create_database("kb3", corpus_dir, chunk_size=200, chunk_overlap=100)

    bm = mgr.search_bm25("kb3", "distributed spark engine", k=4).collect()
    assert 0 < len(bm) <= 4
    assert all("spark" in r["chunk_text"].lower() for r in bm)
    scores = [r["bm25"] for r in bm]
    assert scores == sorted(scores, reverse=True)

    hy = mgr.search_hybrid("kb3", "distributed spark engine", k=4).collect()
    assert 0 < len(hy) <= 4
    rrfs = [r["rrf_score"] for r in hy]
    assert rrfs == sorted(rrfs, reverse=True)
    # a doc ranked by both retrievers must outscore a vector-only straggler
    assert rrfs[0] > 1.0 / (60 + 20)

    with pytest.raises(ValueError):
        mgr.search_bm25("nope", "x")


def test_add_documents_incremental_and_ivf_refresh(spark, tmp_path, corpus_dir):
    """Incremental append: new files join the same tables; re-adding the
    same content is a no-op (content-addressed); the IVF partitioned table
    and centroid sidecar refresh only for touched clusters."""
    mgr = VectorDatabaseManager(spark, str(tmp_path / "dbs"))
    mgr.create_database("kb4", corpus_dir, chunk_size=200, chunk_overlap=100)
    mgr.build_ivf_index("kb4")
    before = {
        r["cluster_id"]: r["centroid"]
        for r in mgr.read_table("kb4", "ivf_centroids").collect()
    }
    n_docs0 = mgr.read_table("kb4", "documents").count()

    # same content again -> nothing happens
    assert mgr.add_documents("kb4", corpus_dir) == 0

    newdir = tmp_path / "more_docs"
    newdir.mkdir()
    (newdir / "flink.txt").write_text(
        "flink processes unbounded streams with checkpointed state. " * 30
    )
    n_new = mgr.add_documents("kb4", str(newdir))
    assert n_new == 1

    docs = mgr.read_table("kb4", "documents")
    assert docs.count() == n_docs0 + 1
    # appended chunks are searchable through the same pipeline
    hits = mgr.search_bm25("kb4", "flink unbounded streams", k=3).collect()
    assert hits and all("flink" in r["chunk_text"] for r in hits)

    # the new doc's vectors MUST be present in the partitioned IVF table —
    # this is the assertion that catches the lazy-recompute hazard where
    # the refresh silently appends nothing (emb_table's anti-join lineage
    # re-evaluated empty after the documents append)
    ivf = mgr.read_table("kb4", "embeddings_ivf")
    emb = mgr.read_table("kb4", "embeddings")
    assert ivf.count() == emb.count()
    touched = {
        r["cluster_id"]
        for r in ivf.join(
            docs.filter(docs["file_name"] == "flink.txt").select("doc_id"), "doc_id"
        ).select("cluster_id").distinct().collect()
    }
    assert touched, "appended vectors missing from embeddings_ivf"
    after = {
        r["cluster_id"]: r["centroid"]
        for r in mgr.read_table("kb4", "ivf_centroids").collect()
    }
    assert set(after) == {r["cluster_id"] for r in ivf.select("cluster_id").distinct().collect()}
    for cid, cent in before.items():
        if cid not in touched:
            assert after[cid] == cent

    # idempotence of the second add too
    assert mgr.add_documents("kb4", str(newdir)) == 0


def test_delete_documents_partial_rewrite(spark, tmp_path, corpus_dir):
    """Targeted delete: rows disappear from documents/embeddings/IVF, only
    affected partitions rewrite, the sidecar stays consistent, and deleting
    an unknown file is a no-op."""
    mgr = VectorDatabaseManager(spark, str(tmp_path / "dbs"))
    mgr.create_database("kb5", corpus_dir, chunk_size=200, chunk_overlap=100)
    mgr.build_ivf_index("kb5")
    base = str(tmp_path / "dbs" / "kb5")

    assert mgr.delete_documents("kb5", ["no_such_file.txt"]) == 0

    n_del = mgr.delete_documents("kb5", ["duck.txt"])
    assert n_del == 1
    docs = mgr.read_table("kb5", "documents")
    assert docs.filter(docs["file_name"] == "duck.txt").count() == 0
    emb = mgr.read_table("kb5", "embeddings")
    assert emb.filter(emb["file_name"] == "duck.txt").count() == 0
    ivf = mgr.read_table("kb5", "embeddings_ivf")
    assert ivf.filter(ivf["file_name"] == "duck.txt").count() == 0

    # sidecar clusters == clusters still present in the IVF table
    cents = mgr.read_table("kb5", "ivf_centroids")
    assert {r["cluster_id"] for r in cents.select("cluster_id").collect()} == {
        r["cluster_id"] for r in ivf.select("cluster_id").distinct().collect()
    }

    # the surviving corpus still searches end to end
    hits = mgr.search_bm25("kb5", "distributed spark engine", k=3).collect()
    assert hits and all("duck" not in r["chunk_text"].lower() for r in hits)
    assert mgr.search("kb5", "spark engine", k=3, score_threshold=0.0).count() > 0


def test_delete_documents_mass_delete_is_anti_join_not_in_list(
    spark, tmp_path, corpus_dir
):
    """Deleting MOST of the corpus must not build a driver-side In-list of
    doomed doc_ids: the survivor filter is a broadcast anti-join whose plan
    carries no doc_id IN (...) literal list (VERDICT r5 'What's wrong' #1)."""
    import pyspark.sql.functions as F

    from vector_db_light_spark.api import _anti_join_doomed
    from vector_db_light_spark.plans.explain import explain_string

    mgr = VectorDatabaseManager(spark, str(tmp_path / "dbs"))
    mgr.create_database("kb6", corpus_dir, chunk_size=200, chunk_overlap=100)
    mgr.build_ivf_index("kb6")
    base = str(tmp_path / "dbs" / "kb6")

    # the exact survivor plan delete_documents executes, on the real tables
    docs = mgr.read_table("kb6", "documents")
    doomed = (
        docs.filter(F.col("file_name").isin(["spark.txt", "duck.txt"]))
        .select("doc_id")
        .distinct()
    )
    plan = explain_string(_anti_join_doomed(docs, doomed))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    assert "LeftAnti" in plan
    # no literal id list over doc_id anywhere in the survivor plan: the only
    # In-list the plan may carry is the small file_name one in the doomed side
    import re

    assert not re.search(r"doc_id#\d+L? (IN \(|INSET)", plan), plan

    # 2 of 3 documents doomed — more than half the corpus
    n_del = mgr.delete_documents("kb6", ["spark.txt", "duck.txt"])
    assert n_del == 2
    for table in ("documents", "embeddings", "embeddings_ivf"):
        left = mgr.read_table("kb6", table)
        assert {r["file_name"] for r in left.select("file_name").distinct().collect()} == {
            "web.html"
        }
    cents = mgr.read_table("kb6", "ivf_centroids")
    ivf = mgr.read_table("kb6", "embeddings_ivf")
    assert {r["cluster_id"] for r in cents.select("cluster_id").collect()} == {
        r["cluster_id"] for r in ivf.select("cluster_id").distinct().collect()
    }
    assert mgr.search("kb6", "catalyst plans", k=2, score_threshold=0.0).count() > 0


def test_pq_index_build_and_search(spark, tmp_path, corpus_dir):
    """S6b: build_pq_index writes the codes table + codebook json sidecar;
    search_pq ranks by ADC over the codes only, and the default exact
    re-rank returns the true nearest chunks OF the shortlist."""
    import os

    from vector_db_light_spark import commit

    mgr = VectorDatabaseManager(spark, str(tmp_path / "dbs"))
    mgr.create_database("kbpq", corpus_dir, chunk_size=200, chunk_overlap=100)
    mgr.build_pq_index("kbpq")

    db_dir = str(tmp_path / "dbs" / "kbpq")
    assert os.path.isdir(os.path.join(db_dir, "embeddings_pq"))
    side = commit.Slot(spark, db_dir).meta["pq"]
    assert side["m"] == 8 and side["ksub"] == 16

    codes = mgr.read_table("kbpq", "embeddings_pq")
    assert set(codes.columns) == {"chunk_id"} | {
        f"code_{s}" for s in range(8)
    }  # no vectors in the serving table
    n_corpus = mgr.read_table("kbpq", "embeddings").count()
    assert codes.count() == n_corpus

    hits = mgr.search_pq("kbpq", "distributed spark engine", k=4).collect()
    assert 0 < len(hits) <= 4
    dists = [r["distance"] for r in hits]
    assert dists == sorted(dists)

    # ADC-only mode exposes the quantized ranking
    raw = mgr.search_pq("kbpq", "distributed spark engine", k=4, rerank=False)
    assert "adc" in raw.columns
    adc = [r["adc"] for r in raw.limit(4).collect()]
    assert adc == sorted(adc)


def test_optimize_table_compacts_and_preserves_data(spark, tmp_path, corpus_dir):
    """Maintenance rewrite: fewer files, identical rows; z-order variant
    clusters on (doc_id, chunk_offset) and still round-trips the data."""
    mgr = VectorDatabaseManager(spark, str(tmp_path / "dbs"))
    mgr.create_database("kbopt", corpus_dir, chunk_size=200, chunk_overlap=100)
    import os

    path = str(tmp_path / "dbs" / "kbopt" / "embeddings")
    before_rows = mgr.read_table("kbopt", "embeddings").count()
    before_ids = {r["chunk_id"] for r in
                  mgr.read_table("kbopt", "embeddings").select("chunk_id").collect()}

    n_files = mgr.optimize_table("kbopt", "embeddings", target_files=2)
    assert n_files <= 2
    assert mgr.read_table("kbopt", "embeddings").count() == before_rows

    n_files = mgr.optimize_table(
        "kbopt", "embeddings", target_files=2,
        zorder=("doc_id", "chunk_offset"),
    )
    assert n_files <= 2
    after = mgr.read_table("kbopt", "embeddings")
    assert after.count() == before_rows
    assert {r["chunk_id"] for r in after.select("chunk_id").collect()} == before_ids
    assert "_z" not in after.columns


def test_pq_index_stays_fresh_through_add_and_delete(spark, tmp_path, corpus_dir):
    """Incremental CRUD keeps the PQ codes table consistent with the
    embeddings table: add_documents appends codes for new chunks only;
    delete_documents leaves codes exactly for the surviving chunks."""
    mgr = VectorDatabaseManager(spark, str(tmp_path / "dbs"))
    mgr.create_database("kbpqc", corpus_dir, chunk_size=200, chunk_overlap=100)
    mgr.build_pq_index("kbpqc")
    db = str(tmp_path / "dbs" / "kbpqc")

    def ids(table):
        return {r["chunk_id"] for r in
                mgr.read_table("kbpqc", table).select("chunk_id").collect()}

    assert ids("embeddings_pq") == ids("embeddings")

    extra = tmp_path / "more_docs"
    extra.mkdir()
    (extra / "new1.txt").write_text("entirely new content about tungsten codegen. " * 30)
    (extra / "new2.txt").write_text("another new file on shuffle partitioning. " * 30)
    assert mgr.add_documents("kbpqc", str(extra)) == 2
    assert ids("embeddings_pq") == ids("embeddings")

    assert mgr.delete_documents("kbpqc", ["new1.txt", "spark.txt"]) == 2
    assert ids("embeddings_pq") == ids("embeddings")

    hits = mgr.search_pq("kbpqc", "shuffle partitioning", k=3).collect()
    assert 0 < len(hits) <= 3


def test_ivf_kmeans_build_search_and_incremental_routing(spark, tmp_path, corpus_dir):
    """S6 trained variant: method='kmeans' trains Lloyd centroids
    (operators/clustering.py), labels the corpus with one broadcast
    nearest-centroid pass, and writes 'k'-prefixed partition values.
    Probing ALL clusters must equal the exact brute-force top-k (IVF with
    nprobe = n_clusters is lossless); an incremental add must route new
    vectors through nearest-centroid assignment (no 'b' buckets appear)."""
    import os

    from pyspark.sql import functions as F

    from vector_db_light_spark.functions import vector as V
    from vector_db_light_spark.functions.embedding import HashedFeatureEmbedder
    from vector_db_light_spark.functions.policy import prefixed_query

    mgr = VectorDatabaseManager(spark, str(tmp_path / "dbs"))
    mgr.create_database("kbk", corpus_dir, chunk_size=200, chunk_overlap=100)
    mgr.build_ivf_index("kbk", method="kmeans", n_clusters=3, train_iters=2)

    db_dir = str(tmp_path / "dbs" / "kbk")
    parts = [
        d
        for d in os.listdir(os.path.join(db_dir, "embeddings_ivf"))
        if d.startswith("cluster_id=")
    ]
    assert parts and all(p.startswith("cluster_id=k") for p in parts)
    cents = mgr.read_table("kbk", "ivf_centroids")
    assert 0 < cents.count() <= 3

    # nprobe >= n_clusters scans every partition -> must equal brute force
    hits = mgr.search_ann("kbk", "distributed spark engine", k=4, nprobe=3).collect()
    info = mgr.registry.get("kbk")
    qvec = HashedFeatureEmbedder().encode_one(
        prefixed_query(info.model, "distributed spark engine")
    )
    emb = mgr.read_table("kbk", "embeddings")
    brute = (
        emb.select(
            "chunk_id",
            (F.lit(1.0) - V.dot(F.col("embedding"), V.vector_lit(qvec))).alias("d"),
        )
        .orderBy(F.col("d").asc(), F.col("chunk_id").asc())
        .limit(4)
        .collect()
    )
    assert [r["chunk_id"] for r in hits] == [r["chunk_id"] for r in brute]

    # incremental append routes through nearest-centroid (layout sniffing)
    newdir = tmp_path / "more_docs_k"
    newdir.mkdir()
    (newdir / "flink.txt").write_text(
        "flink processes unbounded streams with checkpointed state. " * 30
    )
    assert mgr.add_documents("kbk", str(newdir)) == 1
    parts_after = [
        d
        for d in os.listdir(os.path.join(db_dir, "embeddings_ivf"))
        if d.startswith("cluster_id=")
    ]
    assert all(p.startswith("cluster_id=k") for p in parts_after)
    ivf_n = mgr.read_table("kbk", "embeddings_ivf").count()
    assert ivf_n == mgr.read_table("kbk", "embeddings").count()


def test_vacuum_database_removes_debris_only(spark, tmp_path, corpus_dir):
    """S8 maintenance: vacuum removes slot directories the commit record
    does not list and abandoned _temporary job dirs — and nothing else;
    dry_run lists without deleting; the database stays fully queryable."""
    import os

    mgr = VectorDatabaseManager(spark, str(tmp_path / "dbs"))
    mgr.create_database("kbv", corpus_dir, chunk_size=200, chunk_overlap=100)
    db = str(tmp_path / "dbs" / "kbv")

    stray = os.path.join(db, "embeddings", "id_bucket=3", "batch=7")
    os.makedirs(stray)
    os.makedirs(os.path.join(db, "documents", "batch=7"))
    os.makedirs(os.path.join(db, "embeddings", "_temporary", "0"))
    (tmp_path / "dbs" / "kbv" / "documents" / "batch=7" / "part-junk").write_text("x")

    preview = mgr.vacuum_database("kbv", dry_run=True)
    assert len(preview) == 3
    assert os.path.isdir(stray)  # dry run

    removed = mgr.vacuum_database("kbv")
    assert sorted(removed) == sorted(preview)
    assert not os.path.exists(stray)
    assert not os.path.exists(os.path.join(db, "documents", "batch=7"))
    assert not os.path.exists(os.path.join(db, "embeddings", "_temporary"))
    assert os.path.isdir(os.path.join(db, "embeddings"))
    assert mgr.vacuum_database("kbv") == []
    assert mgr.vacuum_database("never_existed") == []
    hits = mgr.search("kbv", "distributed spark engine", k=2, score_threshold=0.0)
    assert hits.count() > 0


def test_delete_recomputes_ivf_centroids_at_the_index_dimension(
    spark, tmp_path, corpus_dir
):
    """A delete refreshes the touched clusters' centroids at the dimension
    of the indexed vectors, not at the default embedder's: a 32-dim
    database keeps 32-element centroids."""
    from pyspark.sql import functions as F

    from vector_db_light_spark import commit

    mgr = VectorDatabaseManager(spark, str(tmp_path / "dbs"))
    mgr.create_database("kb32", corpus_dir, chunk_size=200, chunk_overlap=100)
    log = commit.Slot(spark, str(tmp_path / "dbs" / "kb32"))
    doubled = log.read("embeddings").withColumn(
        "embedding", F.concat("embedding", "embedding")
    )
    log.write(doubled, "embeddings", "id_bucket", retire=True)
    log.commit()
    # one cluster, so the delete touches a cluster that survives it
    mgr.build_ivf_index("kb32", dim=32, method="kmeans", n_clusters=1)
    assert mgr.delete_documents("kb32", ["duck.txt"]) == 1
    cents = mgr.read_table("kb32", "ivf_centroids")
    assert [len(r["centroid"]) for r in cents.collect()] == [32]


def _spark_jobs(spark, fn):
    """(fn's result, the number of Spark jobs it ran), counted by job group."""
    import uuid

    sc = spark.sparkContext
    group = f"count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the status tracker learns of jobs from the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_api_mutations_run_one_pass_per_artifact(spark, tmp_path, corpus_dir):
    """add / delete / searches on a database with an IVF index and a sign
    sketch: no count-before-write jobs, no distinct-collects of partition
    values that the build job can observe, and no schema-inference job
    (every read takes its schema from the commit record)."""
    mgr = VectorDatabaseManager(spark, str(tmp_path / "dbs"))
    mgr.create_database("kbj", corpus_dir, chunk_size=200, chunk_overlap=100)
    mgr.build_ivf_index("kbj")
    mgr.build_sign_sketch("kbj")
    newdir = tmp_path / "more_docs"
    newdir.mkdir()
    (newdir / "flink.txt").write_text(
        "flink processes unbounded streams with checkpointed state. " * 30
    )
    n_new, add_jobs = _spark_jobs(spark, lambda: mgr.add_documents("kbj", str(newdir)))
    hits, ann_jobs = _spark_jobs(
        spark, lambda: mgr.search_ann("kbj", "unbounded streams", k=3).collect()
    )
    _, search_jobs = _spark_jobs(
        spark,
        lambda: mgr.search("kbj", "unbounded streams", k=3, score_threshold=0.0).collect(),
    )
    _, hamming_jobs = _spark_jobs(
        spark, lambda: mgr.search_hamming("kbj", "unbounded streams", k=3).collect()
    )
    n_del, delete_jobs = _spark_jobs(
        spark, lambda: mgr.delete_documents("kbj", ["flink.txt"])
    )
    assert (n_new, n_del) == (1, 1) and hits
    # before one pass per artifact: add 29, search_ann 4, delete 41
    assert add_jobs <= 16
    assert ann_jobs <= 2  # no read infers a schema
    assert search_jobs <= 4
    assert hamming_jobs <= 3
    assert delete_jobs <= 19


def test_recreated_database_is_read_with_its_new_schema(spark, tmp_path):
    """Every read takes its schema from the database's commit record: a
    database deleted and recreated at a wider dimension is read with the
    schema its new record holds, so it serves its new sketch columns
    (w2, w3)."""
    from vector_db_light_spark import commit
    from vector_db_light_spark.api import DatabaseInfo

    mgr = VectorDatabaseManager(spark, str(tmp_path / "dbs"))
    db = str(tmp_path / "dbs" / "kbd")

    def create(dim):
        rows = [
            (i, f"chunk {i}", [float((i * 7 + j) % 5 - 2) for j in range(dim)])
            for i in range(8)
        ]
        log = commit.Slot(spark, db)
        log.write(
            spark.createDataFrame(
                rows, "chunk_id bigint, chunk_text string, embedding array<double>"
            ),
            "embeddings",
        )
        log.commit()
        mgr.registry.add("kbd", DatabaseInfo("hashed-features-16", 200, 100))
        mgr.build_sign_sketch("kbd")
        return mgr.search_hamming("kbd", "chunk three", k=3).collect()

    assert len(create(64)) == 3
    mgr.delete_database("kbd")
    rows = create(128)
    assert len(rows) == 3 and all(r["hamming"] is not None for r in rows)
    sketch = mgr.read_table("kbd", "embeddings_sign")
    assert sketch.columns == ["chunk_id", "w0", "w1", "w2", "w3"]


def test_vacuum_restores_a_table_cut_between_the_swap_renames(
    spark, tmp_path, corpus_dir, monkeypatch
):
    """A delete that crashes as its commit record is written has replaced
    no table: vacuum removes what the delete wrote, and the reads give
    every pre-delete row. (The table swap the name refers to is gone; the
    commit record is now the one point a mutation can be cut at.)"""
    from vector_db_light_spark import commit

    mgr = VectorDatabaseManager(spark, str(tmp_path / "dbs"))
    mgr.create_database("kbc", corpus_dir, chunk_size=200, chunk_overlap=100)

    def doc_rows():
        df = mgr.read_table("kbc", "documents")
        return sorted(map(tuple, df.select("doc_id", "file_name").collect()))

    before = doc_rows()

    def crashing_record(path, obj):
        raise OSError("crash at the commit record")

    monkeypatch.setattr(commit, "write_json", crashing_record)
    with pytest.raises(OSError, match="crash at the commit record"):
        mgr.delete_documents("kbc", ["duck.txt"])
    monkeypatch.undo()

    removed = mgr.vacuum_database("kbc")
    assert removed and all("batch=1" in p for p in removed)
    assert doc_rows() == before
    assert {r["file_name"] for r in mgr.list_files("kbc").collect()} == {
        "spark.txt", "duck.txt", "web.html"
    }


def test_registry_write_is_atomic(tmp_path, monkeypatch):
    """A crash while the registry manifest is being written leaves the
    previous manifest readable, with every old entry."""
    import json

    from vector_db_light_spark.api import DatabaseInfo, Registry

    reg = Registry(str(tmp_path))
    reg.add("a", DatabaseInfo("hashed-features-16", 200, 100))

    def torn_dump(obj, fh, *args, **kwargs):
        fh.write(json.dumps(obj)[:10])
        fh.flush()
        raise OSError("crash mid-write")

    monkeypatch.setattr(json, "dump", torn_dump)
    with pytest.raises(OSError, match="crash mid-write"):
        reg.add("b", DatabaseInfo("hashed-features-16", 300, 100))
    monkeypatch.undo()
    assert set(reg.list()) == {"a"}
