"""Persisted n-gram LM artifact (round 12, VERDICT r11 #7): build / score /
incremental maintenance — scoring from the artifact must equal the corpus
path, and the maintained count table must equal a rebuild bit-for-bit in
BOTH directions (counts are a sum monoid: appends merge, deletes subtract
exactly)."""

from __future__ import annotations

from pyspark.sql import functions as F

from vector_db_light_spark.api import VectorDatabaseManager
from vector_db_light_spark.operators.dedup import tokens_expr
from vector_db_light_spark.operators.textstats import (
    kn_bigram_counts,
    kn_fluency_scores,
    kn_trigram_counts,
)


def _mgr(spark, tmp_path):
    src = tmp_path / "docs"
    src.mkdir()
    (src / "a.txt").write_text("spark query engine for big data " * 30)
    (src / "b.txt").write_text("analytical database for fast query " * 30)
    (src / "c.txt").write_text("image resize thumbnail pixel decode " * 30)
    mgr = VectorDatabaseManager(spark, str(tmp_path / "dbs"))
    mgr.create_database("lm", str(src), chunk_size=100, chunk_overlap=30)
    return mgr


def _counts(spark, mgr, order):
    df = mgr.read_table("lm", f"lm_{order}gram")
    return sorted(map(tuple, df.select(sorted(df.columns)).collect()))


def _rebuilt(spark, mgr, order):
    toks = mgr.read_table("lm", "embeddings").select(
        "chunk_id", tokens_expr("chunk_text").alias("toks")
    )
    fresh = (
        kn_bigram_counts(toks, id_col="chunk_id")
        if order == 2
        else kn_trigram_counts(toks, id_col="chunk_id")
    )
    return sorted(map(tuple, fresh.select(sorted(fresh.columns)).collect()))


def test_lm_scoring_from_artifact_equals_corpus_path(spark, tmp_path):
    mgr = _mgr(spark, tmp_path)
    mgr.build_lm("lm", order=2)
    served = sorted(
        map(tuple, mgr.score_fluency("lm", order=2).collect())
    )
    variants = mgr.read_table("lm", "embeddings").select(
        F.col("chunk_id").alias("doc_id"),
        F.lit("doc").alias("variant"),
        tokens_expr("chunk_text").alias("toks"),
    )
    corpus = sorted(
        (r["doc_id"], r["n_bigrams"], r["fluency_u6"])
        for r in kn_fluency_scores(variants, train_variant="doc").collect()
    )
    assert served == corpus and served


def test_lm_incremental_maintenance_equals_rebuild(spark, tmp_path):
    mgr = _mgr(spark, tmp_path)
    mgr.build_lm("lm", order=2)
    mgr.build_lm("lm", order=3)
    more = tmp_path / "more"
    more.mkdir()
    (more / "d.txt").write_text("streaming watermark stateful window " * 30)
    assert mgr.add_documents("lm", str(more)) == 1
    for order in (2, 3):
        assert _counts(spark, mgr, order) == _rebuilt(spark, mgr, order)
    assert mgr.delete_documents("lm", ["b.txt"]) == 1
    for order in (2, 3):
        got = _counts(spark, mgr, order)
        # subtraction == rebuild: the deleted doc's unique n-grams dropped
        assert got == _rebuilt(spark, mgr, order) and got
    # trigram scoring from the maintained artifact still serves
    assert mgr.score_fluency("lm", order=3).count() > 0


def test_api_tokenizer_artifact(spark, tmp_path):
    """build_tokenizer persists the frozen merge table; tokenize_counts
    serves from it and equals an inline train+apply; the artifact does
    NOT drift on add_documents (pinned-tokenizer contract: new chunks
    tokenize under the old merges)."""

    from vector_db_light_spark.api import VectorDatabaseManager
    from vector_db_light_spark.operators.textstats import (
        bpe_tokenize_counts,
        bpe_train,
    )
    import pyspark.sql.functions as F

    src = tmp_path / "docs"
    src.mkdir()
    (src / "a.txt").write_text("the cat sat on the mat " * 30)
    (src / "b.txt").write_text("the cart art and the chart " * 30)
    mgr = VectorDatabaseManager(spark, str(tmp_path / "dbs"))
    mgr.create_database("tk", str(src), chunk_size=80, chunk_overlap=20)
    mgr.build_tokenizer("tk", n_merges=4)
    side = mgr._log("tk").meta["tokenizer"]
    assert len(side["merges"]) == 4
    frozen = [m["pair"] for m in side["merges"]]

    emb = mgr.read_table("tk", "embeddings").select(
        F.col("chunk_id"), F.col("chunk_text").alias("text")
    )
    inline_merges = [
        r["pair"]
        for r in bpe_train(emb, n_merges=4).orderBy("merge_round").collect()
    ]
    assert frozen == inline_merges
    served = sorted(
        map(tuple, mgr.tokenize_counts("tk").collect())
    )
    inline = sorted(
        map(
            tuple,
            bpe_tokenize_counts(emb, frozen, id_col="chunk_id").collect(),
        )
    )
    assert served == inline

    more = tmp_path / "more"
    more.mkdir()
    (more / "c.txt").write_text("completely different words here " * 30)
    mgr.add_documents("tk", str(more))
    merges = mgr._log("tk").meta["tokenizer"]["merges"]
    assert [m["pair"] for m in merges] == frozen
    # new chunks are tokenized under the FROZEN merges
    n_chunks = mgr.read_table("tk", "embeddings").count()
    assert mgr.tokenize_counts("tk").count() == n_chunks


def test_api_tokenizer_large_vocab_production_path(spark, tmp_path):
    """r13: past the toy merge counts the api routes through the
    production shape — single-job sampled trainer (== the engine loop,
    property-pinned) and rank-based vocabulary-factored serving (== the
    chained-replace expression) — so the large-vocab artifact serves the
    same counts the toy path would, end to end through the api."""

    import pyspark.sql.functions as F

    from vector_db_light_spark.api import VectorDatabaseManager
    from vector_db_light_spark.operators.textstats import (
        bpe_tokenize_counts,
        bpe_train,
    )

    src = tmp_path / "docs"
    src.mkdir()
    (src / "a.txt").write_text("the cat sat on the mat and the hat " * 40)
    (src / "b.txt").write_text("the cart art and the chart start " * 40)
    mgr = VectorDatabaseManager(spark, str(tmp_path / "dbs"))
    mgr.create_database("tk2", str(src), chunk_size=80, chunk_overlap=20)
    mgr.build_tokenizer("tk2", n_merges=20)  # > 8: sampled trainer;
    side = mgr._log("tk2").meta["tokenizer"]
    frozen = [m["pair"] for m in side["merges"]]
    assert len(frozen) == 20 and side["sample_mod"] is None

    emb = mgr.read_table("tk2", "embeddings").select(
        F.col("chunk_id"), F.col("chunk_text").alias("text")
    )
    # sampled trainer == engine loop on the same corpus
    iterative = [
        r["pair"]
        for r in bpe_train(emb.withColumnRenamed("chunk_id", "doc_id"),
                           n_merges=20).orderBy("merge_round").collect()
    ]
    assert frozen == iterative
    # rank-based scalable serving (>16 merges) == expression apply
    served = sorted(map(tuple, mgr.tokenize_counts("tk2").collect()))
    inline = sorted(
        map(
            tuple,
            bpe_tokenize_counts(emb, frozen, id_col="chunk_id").collect(),
        )
    )
    assert served == inline


def test_stream_lm_maintenance_equals_rebuild(spark, tmp_path):
    """r13 streaming LM twin: after draining N micro-batches the committed
    count table equals a batch rebuild over the union; a REPLAYED batch
    merges nothing (doc_ids ledger); in-batch duplicate ids count once.
    Run twice: first batch docs 1-2, and first batch only zero-token docs
    (empty and whitespace-only), whose empty count slot must read back."""
    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),
            (2, "the cart art and the chart"),
            (3, "a cat and a dog and a bird"),
            (4, "entirely new words arrive here"),
            (5, ""),  # no bigrams — the ledger, not the counts, must remember it
            (6, " \t\n  "),
        ],
        "doc_id bigint, text string",
    ).localCheckpoint(eager=True)
    for i, pred in enumerate(("doc_id <= 2", "doc_id >= 5")):
        _assert_stream_lm_equals_rebuild(spark, docs, pred, tmp_path / str(i))


def _assert_stream_lm_equals_rebuild(spark, docs, pred, root):
    from vector_db_light_spark.operators.dedup import tokens_expr
    from vector_db_light_spark.operators.textstats import kn_bigram_counts
    from vector_db_light_spark.streaming.serving import (
        lm_counts,
        stream_lm_maintenance,
    )

    src = root / "stream"
    src.mkdir(parents=True)
    lm = str(root / "lm")

    def drain(tag):
        stream = spark.readStream.schema("doc_id bigint, text string").parquet(
            str(src)
        )
        stream_lm_maintenance(
            stream, lm, str(root / f"ckpt_{tag}")
        ).awaitTermination(180)

    def snap():
        df = lm_counts(spark, lm)
        return sorted(map(tuple, df.select(sorted(df.columns)).collect()))

    def rebuild(frame):
        toks = frame.select("doc_id", tokens_expr("text").alias("toks"))
        fresh = kn_bigram_counts(toks)
        return sorted(
            map(tuple, fresh.select(sorted(fresh.columns)).collect())
        )

    first = docs.filter(pred)
    first.write.mode("append").parquet(str(src))
    drain("a")
    assert snap() == rebuild(first)

    # batch 2 contains doc 3 TWICE (in-batch duplicate) plus the rest
    rest = docs.subtract(first)
    rest.union(docs.filter("doc_id = 3")).write.mode("append").parquet(
        str(src)
    )
    drain("b")
    assert snap() == rebuild(docs)

    # replay under a fresh checkpoint: ledger admits nothing, counts stay
    first.write.mode("append").parquet(str(src))
    drain("c")
    assert snap() == rebuild(docs)
    # the empty docs are in the ledger even though they produced no counts
    ledger = {
        r["doc_id"] for r in spark.read.parquet(f"{lm}/doc_ids_2gram").collect()
    }
    assert ledger == {1, 2, 3, 4, 5, 6}


def test_stream_tokenize_pack_equals_batch(spark, tmp_path):
    """r13 streaming tokenize-pack: after draining id-ordered batches the
    spans table equals the batch pack_spans over all docs' frozen-merge
    token counts; a replayed batch appends nothing; in-batch duplicates
    count once; zero-token docs get a span row (the table is its own
    ledger)."""
    from vector_db_light_spark.operators.packing import pack_spans
    from vector_db_light_spark.operators.textstats import (
        bpe_tokenize_counts_scalable,
        bpe_train_sampled,
    )
    from vector_db_light_spark.streaming.serving import (
        packed_spans,
        stream_tokenize_pack,
    )

    import pyspark.sql.functions as F

    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat " * 8),
            (2, "the cart art and the chart " * 6),
            (3, "a dog and a bird and a cow " * 7),
            (4, ""),  # zero tokens — still gets a span row
            (5, "entirely new words arrive here today " * 5),
        ],
        "doc_id bigint, text string",
    ).localCheckpoint(eager=True)
    merges = [
        r["pair"]
        for r in bpe_train_sampled(docs, n_merges=6)
        .orderBy("merge_round")
        .collect()
    ]
    src = tmp_path / "stream"
    src.mkdir()
    pk = str(tmp_path / "pack")

    def drain(tag):
        stream = spark.readStream.schema("doc_id bigint, text string").parquet(
            str(src)
        )
        stream_tokenize_pack(
            stream, pk, str(tmp_path / f"ckpt_{tag}"), merges, budget=32
        ).awaitTermination(180)

    def snap():
        df = packed_spans(spark, pk)
        return sorted(map(tuple, df.select(sorted(df.columns)).collect()))

    def batch_truth(frame):
        counts = frame.select("doc_id").join(
            bpe_tokenize_counts_scalable(frame, merges).select(
                "doc_id", F.col("n_tokens_after").cast("long").alias("n_tok")
            ),
            "doc_id",
            "left",
        ).select(
            "doc_id",
            F.coalesce("n_tok", F.lit(0).cast("long")).alias("n_tok"),
        )
        out = pack_spans(counts, 32)
        return sorted(map(tuple, out.select(sorted(out.columns)).collect()))

    first = docs.filter("doc_id <= 2")
    first.write.mode("append").parquet(str(src))
    drain("a")
    assert snap() == batch_truth(first)

    rest = docs.filter("doc_id >= 3")
    rest.union(docs.filter("doc_id = 3")).write.mode("append").parquet(
        str(src)
    )  # in-batch duplicate of doc 3
    drain("b")
    assert snap() == batch_truth(docs)
    ids = {r[0] for r in snap()}
    assert 4 in ids  # the zero-token doc holds a span row

    first.write.mode("append").parquet(str(src))  # replay, fresh checkpoint
    drain("c")
    assert snap() == batch_truth(docs)
