"""Persisted lexical index (VERDICT r10 #2): build / serve / append /
streaming — every serving path must be bit-identical to the corpus path,
and incremental append must equal a full rebuild."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vector_db_light_spark.operators.text_search import (
    batch_bm25_topk,
    batch_bm25_topk_from_index,
    bm25_topk,
    bm25_topk_from_index,
    bm25_wand_topk,
    bm25_wand_topk_from_index,
    build_text_block_meta,
    build_text_index_tables,
)

TERMS = ["spark", "data", "alpha"]


@pytest.fixture()
def docs(spark):
    rows = [
        (1, "spark data engine spark"),
        (2, "data alpha beta gamma data data"),
        (3, "spark alpha"),
        (4, "unrelated words entirely"),
        (5, "alpha alpha alpha spark data"),
        (6, ""),
        (7, "data spark data spark data"),
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def _persist(df_trio, spark, root):
    postings, term_meta, stats = df_trio
    postings.write.partitionBy("term_bucket").mode("overwrite").parquet(
        f"{root}/postings"
    )
    term_meta.write.mode("overwrite").parquet(f"{root}/terms")
    stats.write.mode("overwrite").parquet(f"{root}/stats")
    return (
        spark.read.parquet(f"{root}/postings"),
        spark.read.parquet(f"{root}/terms"),
        spark.read.parquet(f"{root}/stats"),
    )


def test_index_serving_equals_corpus_paths(spark, docs, tmp_path):
    """bm25 / WAND / batched serving from the persisted artifact are all
    bit-identical to their corpus-tokenizing twins — also with one more
    zero-token chunk, which counts into N but not into avgdl on both
    paths (the corpus path's dl > 0 rule vs the index's sum_dl / n_dl)."""
    blank = spark.createDataFrame([(8, " \t\n  ")], docs.schema)
    for i, corpus_docs in enumerate((docs, docs.unionByName(blank))):
        _assert_serving_equals_corpus(spark, corpus_docs, str(tmp_path / str(i)))


def _assert_serving_equals_corpus(spark, docs, root):
    idx = _persist(build_text_index_tables(docs), spark, root)
    for k in (2, 5, 50):
        corpus = [r.asDict() for r in bm25_topk(docs, TERMS, k=k).collect()]
        served = [
            r.asDict()
            for r in bm25_topk_from_index(*idx, TERMS, k=k).collect()
        ]
        assert served == corpus, k
        wand = [
            r.asDict()
            for r in bm25_wand_topk_from_index(*idx, TERMS, k=k).collect()
        ]
        assert wand == corpus, k
        # persisted BLOCK-MAX sidecar: still lossless
        blocks = build_text_block_meta(idx[0], block_size=2)
        bmx = [
            r.asDict()
            for r in bm25_wand_topk_from_index(
                *idx, TERMS, k=k, block_meta=blocks
            ).collect()
        ]
        assert bmx == corpus, k
    qterms = spark.createDataFrame(
        [("q1", "spark"), ("q1", "data"), ("q2", "alpha")],
        "query_id string, term string",
    )
    batch_corpus = sorted(
        map(tuple, batch_bm25_topk(docs, qterms, k=3).collect())
    )
    batch_idx = sorted(
        map(tuple, batch_bm25_topk_from_index(*idx, qterms, k=3).collect())
    )
    assert batch_idx == batch_corpus


def test_incremental_append_equals_rebuild(spark, docs, tmp_path):
    """Append-then-merge == full rebuild for all three tables (the
    term_meta merge is a commutative monoid; stats adds componentwise)."""
    first = docs.filter(F.col("doc_id") <= 4)
    second = docs.filter(F.col("doc_id") > 4)
    p1, m1, s1 = build_text_index_tables(first)
    p2, m2, s2 = build_text_index_tables(second)
    merged_m = (
        m1.unionByName(m2)
        .groupBy("term")
        .agg(
            F.sum("df").cast("long").alias("df"),
            F.max("tf_max").cast("long").alias("tf_max"),
            F.min("dl_min").cast("long").alias("dl_min"),
        )
    )
    merged_s = s1.unionByName(s2).agg(
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.sum("sum_dl").cast("long").alias("sum_dl"),
        F.sum("n_dl").cast("long").alias("n_dl"),
    )
    pf, mf, sf = build_text_index_tables(docs)
    assert sorted(map(tuple, p1.unionByName(p2).collect())) == sorted(
        map(tuple, pf.collect())
    )
    assert sorted(map(tuple, merged_m.collect())) == sorted(
        map(tuple, mf.collect())
    )
    assert merged_s.collect() == sf.collect()
    # block sidecar merges by the (max, min) monoid per (term, block)
    merged_b = (
        build_text_block_meta(p1, block_size=2)
        .unionByName(build_text_block_meta(p2, block_size=2))
        .groupBy("term", "term_bucket", "_blk")
        .agg(
            F.max("tf_max").alias("tf_max"),
            F.min("dl_min").alias("dl_min"),
            F.max("block_size").alias("block_size"),
        )
    )
    assert sorted(map(tuple, merged_b.collect())) == sorted(
        map(tuple, build_text_block_meta(pf, block_size=2).collect())
    )


def test_api_text_index_lifecycle(spark, tmp_path):
    """api.build_text_index -> search_bm25 serves from the artifact with
    identical rows; add_documents appends incrementally (== rebuild);
    delete_documents applies a BOUNDED DELTA (affected terms/buckets only)
    that equals a rebuild bit-for-bit."""
    from vector_db_light_spark.api import VectorDatabaseManager

    src = tmp_path / "docs"
    src.mkdir()
    (src / "a.txt").write_text("spark query engine for big data " * 30)
    (src / "b.txt").write_text("analytical database for fast query " * 30)
    mgr = VectorDatabaseManager(spark, str(tmp_path / "dbs"))
    mgr.create_database("kb", str(src), chunk_size=120, chunk_overlap=40)

    before = [r.asDict() for r in mgr.search_bm25("kb", "query data").collect()]
    mgr.build_text_index("kb")
    assert "text_index" in mgr._log("kb")
    served = [r.asDict() for r in mgr.search_bm25("kb", "query data").collect()]
    assert served == before
    pruned = [
        r.asDict()
        for r in mgr.search_bm25("kb", "query data", prune=True).collect()
    ]
    assert pruned == before  # WAND + block sidecar is lossless

    # positional artifact: phrase search from the index == corpus-derived
    from vector_db_light_spark.operators.text_search import (
        phrase_match,
        positional_postings,
    )

    emb0 = mgr.read_table("kb", "embeddings")
    want_phrase = sorted(
        map(
            tuple,
            phrase_match(
                positional_postings(emb0, id_col="chunk_id", text_col="chunk_text"),
                ["query", "engine"],
                id_col="chunk_id",
            ).collect(),
        )
    )
    got_phrase = sorted(
        (r["chunk_id"], r["n_matches"], r["first_pos"])
        for r in mgr.search_phrase("kb", "query engine").collect()
    )
    assert got_phrase == want_phrase and got_phrase

    from vector_db_light_spark.operators.text_search import proximity_match

    want_near = sorted(
        map(
            tuple,
            proximity_match(
                positional_postings(emb0, id_col="chunk_id", text_col="chunk_text"),
                "spark", "data", 4, id_col="chunk_id",
            ).collect(),
        )
    )
    got_near = sorted(
        (r["chunk_id"], r["n_matches"], r["min_span"])
        for r in mgr.search_near("kb", "spark", "data", slop=4).collect()
    )
    assert got_near == want_near and got_near

    # incremental ingest: append path == rebuild
    more = tmp_path / "more"
    more.mkdir()
    (more / "c.txt").write_text("streaming data pipelines query spark " * 30)
    assert mgr.add_documents("kb", str(more)) == 1
    p, m, s = (
        mgr.read_table("kb", t)
        for t in ("text_index", "text_index_terms", "text_index_stats")
    )
    emb = mgr.read_table("kb", "embeddings")
    pf, mf, sf = build_text_index_tables(
        emb, id_col="chunk_id", text_col="chunk_text"
    )
    assert sorted(map(tuple, m.collect())) == sorted(map(tuple, mf.collect()))
    assert s.collect() == sf.collect()
    assert sorted(map(tuple, p.drop("term_bucket").collect())) == sorted(
        map(tuple, pf.drop("term_bucket").collect())
    )
    # positions appended == rebuild
    px = mgr.read_table("kb", "text_index_positions")
    assert sorted(map(tuple, px.drop("term_bucket").collect())) == sorted(
        map(
            tuple,
            positional_postings(
                emb, id_col="chunk_id", text_col="chunk_text"
            ).collect(),
        )
    )

    # bounded-delta delete == full rebuild bit-for-bit on ALL FIVE tables
    assert mgr.delete_documents("kb", ["b.txt"]) == 1
    emb2 = mgr.read_table("kb", "embeddings")
    p2, m2, s2 = (
        mgr.read_table("kb", t)
        for t in ("text_index", "text_index_terms", "text_index_stats")
    )
    pf2, mf2, sf2 = build_text_index_tables(
        emb2, id_col="chunk_id", text_col="chunk_text"
    )
    assert sorted(map(tuple, m2.collect())) == sorted(map(tuple, mf2.collect()))
    assert s2.collect() == sf2.collect()
    assert sorted(map(tuple, p2.drop("term_bucket").collect())) == sorted(
        map(tuple, pf2.drop("term_bucket").collect())
    )
    from vector_db_light_spark.operators.text_search import (
        build_text_block_meta as _blocks2,
    )

    b2 = mgr.read_table("kb", "text_index_blocks")
    bf2 = _blocks2(pf2, id_col="chunk_id")
    assert sorted(
        map(tuple, b2.select(sorted(b2.columns)).collect())
    ) == sorted(map(tuple, bf2.select(sorted(bf2.columns)).collect()))
    x2 = mgr.read_table("kb", "text_index_positions")
    assert sorted(map(tuple, x2.drop("term_bucket").collect())) == sorted(
        map(
            tuple,
            positional_postings(
                emb2, id_col="chunk_id", text_col="chunk_text"
            ).collect(),
        )
    )
    # the served ranking matches a fresh corpus ranking
    fresh = [
        r.asDict()
        for r in bm25_topk(
            emb2, ["query", "data"], k=4, id_col="chunk_id",
            text_col="chunk_text",
        ).collect()
    ]
    got = [
        (r["chunk_id"], r["bm25"])
        for r in mgr.search_bm25("kb", "query data", k=4).collect()
    ]
    assert got == [(r["chunk_id"], r["bm25"]) for r in fresh]
    pruned2 = [
        (r["chunk_id"], r["bm25"])
        for r in mgr.search_bm25("kb", "query data", k=4, prune=True).collect()
    ]
    assert pruned2 == got  # WAND from the delta-maintained sidecar, lossless


def test_index_postings_scan_is_partition_pruned(spark, docs, tmp_path):
    """The serving plan must carry the md5-bucket PartitionFilters — the
    ~terms/256 pruned read is the artifact's whole point at scale."""
    idx = _persist(build_text_index_tables(docs), spark, str(tmp_path))
    plan = (
        bm25_topk_from_index(*idx, TERMS, k=3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters: [term_bucket" in plan


def test_stream_lexical_search_from_index(spark, docs, tmp_path):
    """Streaming lexical serving from the artifact: answers bit-identical
    to the corpus-backed stream and to single-query bm25_topk."""
    from vector_db_light_spark.streaming.serving import stream_lexical_search

    idx = _persist(build_text_index_tables(docs), spark, str(tmp_path / "ix"))
    qdir = tmp_path / "queries"
    qdir.mkdir()
    spark.createDataFrame(
        [("q1", "spark data"), ("q2", "alpha")],
        "query_id string, terms string",
    ).write.mode("append").parquet(str(qdir))
    stream = spark.readStream.schema("query_id string, terms string").parquet(
        str(qdir)
    )
    out = str(tmp_path / "out")
    stream_lexical_search(
        stream, docs, out, str(tmp_path / "ckpt"), k=3, index=idx
    ).awaitTermination(180)
    got = {}
    for r in spark.read.parquet(out).collect():
        got.setdefault(r["query_id"], []).append(
            (r["rk"], r["doc_id"], r["bm25"])
        )
    single = [
        (i + 1, r["doc_id"], r["bm25"])
        for i, r in enumerate(bm25_topk(docs, ["spark", "data"], k=3).collect())
    ]
    assert sorted(got["q1"]) == single
    assert len(got["q2"]) == 3


def test_stream_text_index_maintenance_equals_rebuild(spark, docs, tmp_path):
    """Streaming index maintenance: after draining N micro-batches the
    committed index equals a batch rebuild over the union; an in-batch
    duplicate doc counts once; a REPLAYED batch (same docs arriving again)
    appends nothing and leaves every sidecar bit-identical (doc-level
    anti-join idempotence). Run twice: first batch docs 1-3, and first
    batch only zero-token docs (empty and whitespace-only), whose empty
    partitioned slots must still read back."""
    blank = spark.createDataFrame([(8, " \t\n  ")], docs.schema)
    corpus = docs.unionByName(blank)
    zero_token = F.col("doc_id").isin(6, 8)
    for i, first in enumerate((F.col("doc_id") <= 3, zero_token)):
        _assert_stream_index_equals_rebuild(
            spark, corpus, first, tmp_path / str(i)
        )


def _assert_stream_index_equals_rebuild(spark, docs, first, root):
    from vector_db_light_spark.operators.text_search import build_text_index
    from vector_db_light_spark.streaming.serving import (
        stream_text_index_maintenance,
        text_index,
    )

    src = root / "stream"
    src.mkdir(parents=True)
    idx = str(root / "ix")
    ckpt = str(root / "ckpt")

    def drain():
        stream = spark.readStream.schema("doc_id bigint, text string").parquet(
            str(src)
        )
        stream_text_index_maintenance(stream, idx, ckpt).awaitTermination(180)

    def rows(df):
        cols = sorted(df.columns)  # partitioned reads reorder columns
        return sorted(map(tuple, df.select(cols).collect()))

    tables = ("postings", "terms", "stats", "blocks", "positions")

    def snap():
        return {t: rows(df) for t, df in zip(tables, text_index(spark, idx))}

    docs.filter(first).write.mode("append").parquet(str(src))
    drain()
    built = build_text_index(docs.filter(first))
    assert snap() == {t: rows(df) for t, df in zip(tables, built)}
    # the second batch carries doc 5 twice (an in-batch duplicate)
    rest = docs.filter(~first)
    rest.unionByName(docs.filter(F.col("doc_id") == 5)).write.mode(
        "append"
    ).parquet(str(src))
    drain()
    got = snap()

    pf, mf, sf = build_text_index_tables(docs)
    from vector_db_light_spark.operators.text_search import (
        build_text_block_meta as _blocks,
    )

    assert got["postings"] == rows(pf)
    assert got["terms"] == rows(mf)
    assert got["stats"] == rows(sf)
    assert got["blocks"] == rows(_blocks(pf))
    from vector_db_light_spark.operators.text_search import (
        build_text_positions as _pos,
    )

    assert got["positions"] == rows(_pos(docs))

    # replay: the same docs arrive again -> anti-join drops them all
    rest.write.mode("append").parquet(str(src))
    drain()
    assert snap() == got


def test_index_block_size_invariant(spark, docs, tmp_path):
    """block_size is an index-level invariant (ADVICE r11 medium): a
    mixed-size sidecar makes the WAND serving path raise instead of
    silently computing _blk with an arbitrary row's size (which drops the
    other size's postings from the (term, _blk) join and turns the
    'lossless' prune lossy)."""
    from vector_db_light_spark.operators.text_search import index_block_size

    idx = _persist(build_text_index_tables(docs), spark, str(tmp_path))
    uniform = build_text_block_meta(idx[0], block_size=8)
    assert index_block_size(uniform) == 8
    mixed = uniform.unionByName(build_text_block_meta(idx[0], block_size=4))
    with pytest.raises(ValueError, match="mixed block_size"):
        index_block_size(mixed)
    with pytest.raises(ValueError, match="mixed block_size"):
        bm25_wand_topk_from_index(
            *idx, TERMS, k=3, block_meta=mixed
        ).collect()
    # empty sidecar (terms absent) falls back to the default, no raise
    empty = uniform.filter(F.lit(False))
    from vector_db_light_spark.operators.text_search import (
        TEXT_INDEX_BLOCK_SIZE,
    )

    assert index_block_size(empty) == TEXT_INDEX_BLOCK_SIZE


def test_append_adopts_existing_block_size(spark, tmp_path):
    """_append_text_index builds its block-meta delta with the EXISTING
    sidecar's block_size, so an append after a default change cannot mix
    sizes (the merge would otherwise silently tolerate it)."""
    from vector_db_light_spark.api import VectorDatabaseManager

    src = tmp_path / "docs"
    src.mkdir()
    (src / "a.txt").write_text("spark data engine for queries " * 30)
    mgr = VectorDatabaseManager(spark, str(tmp_path / "dbs"))
    mgr.create_database("bz", str(src), chunk_size=80, chunk_overlap=20)
    mgr.build_text_index("bz")
    # rewrite the sidecar at a NON-default size from the persisted postings
    log = mgr._log("bz")
    rebuilt = build_text_block_meta(
        log.read("text_index"), id_col="chunk_id", block_size=4
    )
    log.write(rebuilt, "text_index_blocks", "term_bucket", retire=True)
    log.commit()
    (src / "b.txt").write_text("alpha beta gamma spark data " * 30)
    mgr.add_documents("bz", str(src / "b.txt"))
    sizes = [
        r[0]
        for r in mgr.read_table("bz", "text_index_blocks")
        .select("block_size")
        .distinct()
        .collect()
    ]
    assert sizes == [4]


def test_stream_maintenance_torn_batch_detection(spark, docs, tmp_path, monkeypatch):
    """A batch that crashes after its postings write and before its ledger
    write leaves nothing committed: the restart on the same checkpoint
    re-runs it, and the index equals a crash-free run's."""
    from pyspark.sql import DataFrameWriter

    from vector_db_light_spark.streaming.serving import (
        stream_text_index_maintenance,
        text_index,
    )

    def run(root, crash: bool):
        src, idx, ckpt = (str(root / n) for n in ("stream", "ix", "ckpt"))

        def drain():
            stream = spark.readStream.schema(
                "doc_id bigint, text string"
            ).parquet(src)
            stream_text_index_maintenance(stream, idx, ckpt).awaitTermination(180)

        docs.filter(F.col("doc_id") <= 3).write.mode("append").parquet(src)
        drain()
        docs.filter(F.col("doc_id") > 3).write.mode("append").parquet(src)
        if crash:
            real = DataFrameWriter.parquet
            writes = []

            def parquet(self, path, *args, **kwargs):
                writes.append(path)
                if len(writes) == 2:  # the postings landed, the ledger not
                    raise RuntimeError("injected crash")
                return real(self, path, *args, **kwargs)

            monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
            with pytest.raises(Exception):
                drain()
            monkeypatch.undo()
            assert "/postings/" in writes[0]
        drain()
        return [
            sorted(map(tuple, df.select(sorted(df.columns)).collect()))
            for df in text_index(spark, idx)
        ]

    assert run(tmp_path / "crash", True) == run(tmp_path / "clean", False)


def test_knn_graph_incremental_maintenance(spark, tmp_path):
    """add_documents / delete_documents keep the persisted k-NN graph
    fresh BUCKET-LOCALLY (only buckets whose membership changed are
    recomputed), and the result is bit-identical to an operator rebuild
    with the pinned build-time planes — the artifact's incremental
    contract (VERDICT r11 #1)."""

    from vector_db_light_spark.api import VectorDatabaseManager
    from vector_db_light_spark.operators.similarity import knn_graph

    src = tmp_path / "docs"
    src.mkdir()
    (src / "a.txt").write_text("spark query engine for big data " * 40)
    (src / "b.txt").write_text("analytical database for fast query " * 40)
    (src / "c.txt").write_text("image resize thumbnail pixel decode " * 40)
    mgr = VectorDatabaseManager(spark, str(tmp_path / "dbs"))
    mgr.create_database("kg", str(src), chunk_size=100, chunk_overlap=30)
    mgr.build_knn_graph("kg", k=2)
    meta = mgr._log("kg").meta["knn_graph"]

    def rebuild():
        emb = mgr.read_table("kg", "embeddings")
        return sorted(
            map(
                tuple,
                knn_graph(
                    emb, meta["planes"], k=meta["k"], id_col="chunk_id",
                    vector_col="embedding", max_block=meta["max_block"],
                ).collect(),
            )
        )

    def artifact():
        return sorted(
            map(
                tuple,
                mgr.read_table("kg", "knn_graph")
                .select("src", "dst", "rk", "distance")
                .collect(),
            )
        )

    more = tmp_path / "more"
    more.mkdir()
    (more / "d.txt").write_text("streaming watermark stateful window " * 40)
    (more / "e.txt").write_text("spark query engine for big data too " * 40)
    assert mgr.add_documents("kg", str(more)) == 2
    assert artifact() == rebuild()

    victim = (
        mgr.read_table("kg", "documents")
        .select("file_name")
        .first()["file_name"]
    )
    assert mgr.delete_documents("kg", [victim]) == 1
    assert artifact() == rebuild()


def test_api_duplicate_clusters_from_graph(spark, tmp_path):
    """duplicate_clusters / semantic_prune serve SemDeDup clusters from
    the persisted graph: two byte-identical docs chunk to identical
    embeddings (distance 0 edges), land in one cluster with the min
    chunk_id canonical, and semantic_prune returns exactly the
    non-canonical members."""
    from vector_db_light_spark.api import VectorDatabaseManager

    src = tmp_path / "docs"
    src.mkdir()
    body = "spark query engine for big data analytics " * 40
    (src / "orig.txt").write_text(body)
    (src / "copy.txt").write_text(body + " tail")  # same leading chunks
    (src / "other.txt").write_text("unrelated words entirely here " * 40)
    mgr = VectorDatabaseManager(spark, str(tmp_path / "dbs"))
    mgr.create_database("sd", str(src), chunk_size=100, chunk_overlap=30)
    clusters = mgr.duplicate_clusters("sd", tau=0.001)  # builds on demand
    rows = clusters.collect()
    emb_n = mgr.read_table("sd", "embeddings").count()
    assert len(rows) == emb_n  # every chunk labeled
    multi = [r for r in rows if r["cluster_size"] > 1]
    assert multi, "identical chunks must cluster"
    for r in rows:
        assert r["is_canonical"] == (1 if r["chunk_id"] == r["cluster_id"] else 0)
    pruned = {r["chunk_id"] for r in mgr.semantic_prune("sd", tau=0.001).collect()}
    assert pruned == {
        r["chunk_id"] for r in rows if r["cluster_size"] > 1 and not r["is_canonical"]
    }


def test_api_build_knn_graph_artifact(spark, tmp_path):
    """build_knn_graph persists the per-chunk neighbor table; rows equal a
    fresh operator run with the same policy AT THE STORED DIM, every src
    has <= k neighbors ranked 1..rk, and — the ADVICE r11 regression pin —
    the LSH blocking is non-degenerate on the 16-dim database embeddings
    (dim-64 default planes used to NULL every plane dot and collapse the
    corpus into one bucket)."""
    import pyspark.sql.functions as F

    from vector_db_light_spark.api import VectorDatabaseManager
    from vector_db_light_spark.functions.embedding import DEFAULT_DIM
    from vector_db_light_spark.operators.similarity import (
        adaptive_planes,
        knn_graph,
        lsh_bucket_expr,
    )

    src = tmp_path / "docs"
    src.mkdir()
    (src / "a.txt").write_text("spark query engine for big data " * 40)
    (src / "b.txt").write_text("analytical database for fast query " * 40)
    (src / "c.txt").write_text("image resize thumbnail pixel decode " * 40)
    mgr = VectorDatabaseManager(spark, str(tmp_path / "dbs"))
    mgr.create_database("kb", str(src), chunk_size=100, chunk_overlap=30)
    mgr.build_knn_graph("kb", k=2)
    got = mgr.read_table("kb", "knn_graph")
    emb = mgr.read_table("kb", "embeddings")
    planes = adaptive_planes(emb.count(), dim=DEFAULT_DIM)
    want = knn_graph(
        emb, planes, k=2, id_col="chunk_id",
        vector_col="embedding", max_block=192,
    )
    assert sorted(
        map(tuple, got.select("src", "dst", "rk", "distance").collect())
    ) == sorted(map(tuple, want.collect()))
    per_src = got.groupBy("src").count().collect()
    assert per_src and all(r["count"] <= 2 for r in per_src)
    # non-degeneracy: the planes actually split the 16-dim corpus (>1
    # bucket, no NULL buckets from a dim mismatch)
    buckets = emb.select(
        lsh_bucket_expr("embedding", planes).alias("b")
    ).collect()
    assert all(r["b"] is not None for r in buckets)
    assert len({r["b"] for r in buckets}) > 1


def test_api_knn_graph_kmeans_blocked(spark, tmp_path):
    """With a TRAINED IVF sidecar present, build_knn_graph auto-selects
    kmeans blocking (VERDICT r11 #2 — the budget-matched winner: recall@3
    0.61 vs Hamming-1 LSH's 0.52 at ~150 candidates/node, SCALE.md), pins
    the centroids + probe count in the meta sidecar, and the probe-closure
    incremental refresh stays bit-identical to a rebuild through add AND
    delete."""

    from vector_db_light_spark.api import VectorDatabaseManager

    src = tmp_path / "docs"
    src.mkdir()
    (src / "a.txt").write_text("spark query engine for big data " * 40)
    (src / "b.txt").write_text("analytical database for fast query " * 40)
    (src / "c.txt").write_text("image resize thumbnail pixel decode " * 40)
    mgr = VectorDatabaseManager(spark, str(tmp_path / "dbs"))
    mgr.create_database("km", str(src), chunk_size=100, chunk_overlap=30)
    mgr.build_ivf_index("km", dim=16, method="kmeans", n_clusters=4)
    mgr.build_knn_graph("km", k=2, probes=2)
    meta = mgr._log("km").meta["knn_graph"]
    assert meta["method"] == "kmeans" and meta["probes"] == 2
    assert len(meta["centroids"]) == 4
    # blocking is the trained assignment: >1 distinct bucket on the fixture
    got = mgr.read_table("km", "knn_graph")
    assert got.select("bucket").distinct().count() > 1

    def rebuild():
        return sorted(
            map(
                tuple,
                mgr._knn_graph_for_srcs(mgr._log("km"), srcs=None)
                .select("src", "dst", "rk", "distance")
                .collect(),
            )
        )

    def artifact():
        return sorted(
            map(
                tuple,
                mgr.read_table("km", "knn_graph")
                .select("src", "dst", "rk", "distance")
                .collect(),
            )
        )

    assert artifact() == rebuild()
    more = tmp_path / "more"
    more.mkdir()
    (more / "d.txt").write_text("streaming watermark stateful window " * 40)
    (more / "e.txt").write_text("spark query engine for big data too " * 40)
    assert mgr.add_documents("km", str(more)) == 2
    assert artifact() == rebuild()
    victim = (
        mgr.read_table("km", "documents")
        .select("file_name")
        .first()["file_name"]
    )
    assert mgr.delete_documents("km", [victim]) == 1
    assert artifact() == rebuild()


def test_api_knn_graph_method_kmeans_requires_centroids(spark, tmp_path):
    """Forcing method='kmeans' without a trained sidecar fails loudly
    instead of silently falling back to LSH."""
    import pytest as _pytest

    from vector_db_light_spark.api import VectorDatabaseManager

    src = tmp_path / "docs"
    src.mkdir()
    (src / "a.txt").write_text("spark query engine for big data " * 40)
    mgr = VectorDatabaseManager(spark, str(tmp_path / "dbs"))
    mgr.create_database("nk", str(src), chunk_size=100, chunk_overlap=30)
    with _pytest.raises(ValueError, match="trained centroids"):
        mgr.build_knn_graph("nk", method="kmeans")


def test_api_sign_sketch_lifecycle(spark, tmp_path):
    """build_sign_sketch persists the 1-bit words table; search_hamming
    with shortlist >= corpus equals brute-force top-k; add/delete keep the
    sketch bit-identical to a rebuild (append-only / rewrite-whole — the
    sketch is a pure per-row function of the embedding)."""
    from vector_db_light_spark.api import VectorDatabaseManager

    src = tmp_path / "docs"
    src.mkdir()
    (src / "a.txt").write_text("spark query engine for big data " * 40)
    (src / "b.txt").write_text("analytical database for fast query " * 40)
    (src / "c.txt").write_text("image resize thumbnail pixel decode " * 40)
    mgr = VectorDatabaseManager(spark, str(tmp_path / "dbs"))
    mgr.create_database("sg", str(src), chunk_size=100, chunk_overlap=30)
    mgr.build_sign_sketch("sg")

    def sketch():
        return sorted(
            map(
                tuple,
                mgr.read_table("sg", "embeddings_sign")
                .select(sorted(
                    mgr.read_table("sg", "embeddings_sign").columns
                ))
                .collect(),
            )
        )

    def rebuilt():
        from vector_db_light_spark.operators.similarity import sign_rows

        emb = mgr.read_table("sg", "embeddings")
        df = sign_rows(emb, 16)
        return sorted(map(tuple, df.select(sorted(df.columns)).collect()))

    assert sketch() == rebuilt()

    # serving: shortlist >= corpus makes the coarse pass a no-op filter,
    # so the result must equal brute-force exact top-k
    n = mgr.read_table("sg", "embeddings").count()
    got = mgr.search_hamming("sg", "fast analytical query", k=3, shortlist=n)
    rows = got.collect()
    assert len(rows) == 3
    ds = [r["distance"] for r in rows]
    assert ds == sorted(ds)
    import pyspark.sql.functions as F

    from vector_db_light_spark.functions.embedding import (
        HashedFeatureEmbedder,
    )
    from vector_db_light_spark.functions.policy import prefixed_query
    from vector_db_light_spark.functions.vector import dot

    info = mgr.registry.get("sg")
    qv = HashedFeatureEmbedder().encode_one(
        prefixed_query(info.model, "fast analytical query")
    )
    emb = mgr.read_table("sg", "embeddings")
    exact = (
        emb.select(
            "chunk_id",
            (F.lit(1.0) - dot("embedding", list(qv))).alias("distance"),
        )
        .orderBy(F.col("distance").asc(), F.col("chunk_id").asc())
        .limit(3)
        .collect()
    )
    assert [r["chunk_id"] for r in rows] == [r["chunk_id"] for r in exact]

    more = tmp_path / "more"
    more.mkdir()
    (more / "d.txt").write_text("streaming watermark stateful window " * 40)
    assert mgr.add_documents("sg", str(more)) == 1
    assert sketch() == rebuilt()
    victim = (
        mgr.read_table("sg", "documents")
        .select("file_name")
        .first()["file_name"]
    )
    assert mgr.delete_documents("sg", [victim]) == 1
    assert sketch() == rebuilt()


def test_stream_sign_sketch_maintenance_equals_rebuild(spark, tmp_path):
    """Streaming sketch maintenance: after draining N micro-batches the
    on-disk sketch table equals a batch build over the union; a REPLAYED
    batch appends nothing (the table is its own membership ledger)."""
    import pyspark.sql.functions as F

    from vector_db_light_spark.operators.similarity import sign_words_expr
    from vector_db_light_spark.streaming.serving import (
        sign_sketch,
        stream_sign_sketch_maintenance,
    )

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select(F.col("vec_id").alias("chunk_id"), "embedding")
        .limit(40)
        .localCheckpoint(eager=True)
    )
    src = tmp_path / "stream"
    src.mkdir()
    sk = str(tmp_path / "sk")

    def drain(tag):
        stream = spark.readStream.schema(
            "chunk_id bigint, embedding array<float>"
        ).parquet(str(src))
        stream_sign_sketch_maintenance(
            stream, sk, str(tmp_path / f"ckpt_{tag}"), dim=64
        ).awaitTermination(180)

    def snap():
        df = sign_sketch(spark, sk)
        return sorted(map(tuple, df.select(sorted(df.columns)).collect()))

    def rebuild(frame):
        df = frame.select(
            "chunk_id",
            *[
                w.cast("bigint").alias(f"w{j}")
                for j, w in enumerate(sign_words_expr("embedding", 64))
            ],
        )
        return sorted(map(tuple, df.select(sorted(df.columns)).collect()))

    first = emb.filter(F.col("chunk_id") < 20)
    first.write.mode("append").parquet(str(src))
    drain("a")
    assert snap() == rebuild(first)

    emb.filter(F.col("chunk_id") >= 20).write.mode("append").parquet(str(src))
    drain("b")
    assert snap() == rebuild(emb)

    # replay: the same rows arrive again under a FRESH checkpoint — the
    # anti-join admits nothing and the table stays bit-identical
    emb.filter(F.col("chunk_id") < 20).write.mode("append").parquet(str(src))
    drain("c")
    assert snap() == rebuild(emb)

    # in-batch duplicates of NEW ids: the on-disk anti-join can't see
    # them, so the batch must dedup before appending (ADVICE r12) —
    # without dropDuplicates these ids would land twice
    fresh = emb.filter(F.col("chunk_id") < 5).withColumn(
        "chunk_id", F.col("chunk_id") + F.lit(1000)
    )
    fresh.union(fresh).write.mode("append").parquet(str(src))
    drain("d")
    assert snap() == rebuild(emb.union(fresh))
