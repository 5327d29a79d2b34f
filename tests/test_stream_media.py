"""Streaming media curation: frame-level dedup against the persistent
frame-hash index, across micro-batches and restarts, over REAL MP4
containers demuxed by the stdlib ISO BMFF walker."""

from __future__ import annotations

import hashlib

from vector_db_light_spark.functions.mp4 import encode_mp4
from vector_db_light_spark.streaming.media import stream_media_curate


def _curate(batch_df, corpus, frames, batch_id, source="q"):
    from functools import partial

    from vector_db_light_spark import commit
    from vector_db_light_spark.streaming.media import _media_body

    body = partial(
        _media_body, corpus_dir=corpus, frames_dir=frames, overlap_threshold=0.5
    )
    commit.apply(batch_df, [corpus, frames], body, batch_id, source)


def _frame(tag: str) -> bytes:
    return hashlib.md5(tag.encode()).digest() * 4


def _clip(*tags: str) -> bytes:
    return encode_mp4([_frame(t) for t in tags], 32, 32)


def test_stream_media_curate_frame_overlap(spark, tmp_path):
    src = str(tmp_path / "incoming")
    corpus = str(tmp_path / "curated")
    frames = str(tmp_path / "frame_index")
    ckpt = str(tmp_path / "ckpt")

    def write(rows):
        spark.createDataFrame(
            rows, "doc_id bigint, media_type string, payload binary"
        ).write.mode("append").parquet(src)

    def drain():
        stream = spark.readStream.schema(
            spark.read.parquet(src).schema
        ).parquet(src)
        q = stream_media_curate(stream, corpus, frames, ckpt)
        q.awaitTermination(180)

    # batch 1: two distinct clips, an in-batch re-encode of clip 0 with an
    # extra outro frame (containment 4/4 vs the smaller set), and a
    # zero-frame clip (admitted: no overlap evidence)
    write(
        [
            (0, "video/mp4", _clip("a", "b", "c", "d")),
            (1, "video/mp4", _clip("w", "x", "y", "z")),
            (2, "video/mp4", _clip("a", "b", "c", "d", "outro")),
            (3, "video/mp4", _clip()),
        ]
    )
    drain()
    ids1 = {r["doc_id"] for r in spark.read.parquet(corpus).collect()}
    assert ids1 == {0, 1, 3}  # min-id canonical kept within the batch

    # batch 2 (restart drains from the checkpoint): an exact re-upload of
    # clip 0 (dropped vs the index), a half-overlap clip (2/4 = 0.5 >=
    # threshold -> dropped), a below-threshold clip (1/4 < 0.5 -> kept),
    # and a fresh clip
    write(
        [
            (10, "video/mp4", _clip("a", "b", "c", "d")),
            (11, "video/mp4", _clip("a", "b", "p", "q")),
            (12, "video/mp4", _clip("a", "m", "n", "o")),
            (13, "video/mp4", _clip("e", "f", "g")),
        ]
    )
    drain()
    ids2 = {r["doc_id"] for r in spark.read.parquet(corpus).collect()}
    assert ids2 == {0, 1, 3, 12, 13}

    # batch 3: a clip overlapping doc 12's frames is DROPPED only if the
    # index really accumulated batch 2's survivors; and a doomed doc's
    # frames must NOT have entered the index (doc 11's unique frames p, q
    # cannot doom a new clip built from them)
    write(
        [
            (20, "video/mp4", _clip("m", "n", "o", "tail")),  # 3/4 vs doc 12
            (21, "video/mp4", _clip("p", "q")),  # doc 11 never indexed
        ]
    )
    drain()
    ids3 = {r["doc_id"] for r in spark.read.parquet(corpus).collect()}
    assert ids3 == {0, 1, 3, 12, 13, 21}

    # the index holds exactly the admitted docs' frames
    idx = spark.read.parquet(frames)
    assert {r["doc_id"] for r in idx.select("doc_id").distinct().collect()} == {
        0, 1, 12, 13, 21
    }


def test_media_batch_replay_is_idempotent(spark, tmp_path):
    # a committed batch delivered again under a fresh checkpoint: the
    # corpus id anti-join must make it a no-op rather than duplicating docs
    corpus = str(tmp_path / "curated")
    frames = str(tmp_path / "frame_index")
    batch = spark.createDataFrame(
        [
            (0, "video/mp4", _clip("a", "b", "c", "d")),
            (1, "video/mp4", _clip("w", "x", "y", "z")),
        ],
        "doc_id bigint, media_type string, payload binary",
    )
    _curate(batch, corpus, frames, 0)
    _curate(batch, corpus, frames, 0, source="fresh")  # full replay
    rows = spark.read.parquet(corpus).collect()
    assert sorted(r["doc_id"] for r in rows) == [0, 1]  # no duplicates


def test_stream_media_star_shape_cluster_canonical(spark, tmp_path):
    # star: 0~1 and 0~2 overlap, 1~2 do not — cluster-canonical keeps ONLY
    # the min id of the component (the text side's ADVICE-r7 policy)
    src = str(tmp_path / "incoming")
    corpus = str(tmp_path / "curated")
    frames = str(tmp_path / "frame_index")
    ckpt = str(tmp_path / "ckpt")

    spark.createDataFrame(
        [
            (0, "video/mp4", _clip("a", "b", "c", "d")),
            (1, "video/mp4", _clip("a", "b", "r", "s")),
            (2, "video/mp4", _clip("c", "d", "t", "u")),
        ],
        "doc_id bigint, media_type string, payload binary",
    ).write.parquet(src)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    q = stream_media_curate(stream, corpus, frames, ckpt)
    q.awaitTermination(180)
    assert {r["doc_id"] for r in spark.read.parquet(corpus).collect()} == {0}


def test_stopword_frame_mask(spark, tmp_path):
    """VERDICT r13 watch #1 / rule 13 on the frame tier: a frame shared
    by more than MAX_FRAME_DF docs (an intro card) is stopword evidence —
    it must neither doom the docs that share it (in-batch OR vs-corpus)
    nor stop a genuine duplicate (unique-frame overlap) from dooming."""
    from vector_db_light_spark.streaming.media import MAX_FRAME_DF

    corpus = str(tmp_path / "curated")
    frames = str(tmp_path / "frame_index")
    n = MAX_FRAME_DF + 2  # intro df above the cap
    rows = [
        (i, "video/mp4", _clip("intro", f"u{i}a", f"u{i}b")) for i in range(n)
    ]
    # doc n: a re-upload of doc 0's content (intro masked, but its two
    # UNIQUE frames fully contain doc 0's -> doomed in-batch)
    rows.append((n, "video/mp4", _clip("intro", "u0a", "u0b")))
    batch = spark.createDataFrame(
        rows, "doc_id bigint, media_type string, payload binary"
    )
    _curate(batch, corpus, frames, 0)
    ids = {r["doc_id"] for r in spark.read.parquet(corpus).collect()}
    assert ids == set(range(n))  # intro alone doomed nobody; dup doomed

    # vs-corpus: the union-df mask sees the indexed intros even though the
    # new batch alone is below the cap; only true unique-frame overlap
    # (doc n+2 vs indexed doc 3) dooms
    batch2 = spark.createDataFrame(
        [
            (n + 1, "video/mp4", _clip("intro", "f1", "f2", "f3")),
            (n + 2, "video/mp4", _clip("intro", "u3a", "u3b", "x9")),
        ],
        "doc_id bigint, media_type string, payload binary",
    )
    _curate(batch2, corpus, frames, 1)
    ids2 = {r["doc_id"] for r in spark.read.parquet(corpus).collect()}
    assert ids2 == set(range(n)) | {n + 1}


def test_stream_audio_admission_equals_incremental(spark, tmp_path):
    """r14 streaming offset-fingerprint audio admission (VERDICT r13 #2):
    draining batches of real WAV variants leaves the band index holding
    exactly the originals — every appended/perturbed/PREPENDED variant
    of an indexed audio is rejected (the prepended cut only via its
    offset-16 fingerprint, the tier's reason to exist); a replayed batch
    appends nothing; in-batch duplicate ids append once."""
    import pyspark.sql.functions as F

    from vector_db_light_spark.queries.pipeline import _audio_fpo_corpus
    from vector_db_light_spark.streaming.media import stream_audio_admission

    sf = "/root/testdata/sf0.001"
    media = _audio_fpo_corpus(spark, sf).localCheckpoint(eager=True)
    origs = media.filter(F.col("doc_id") % 4 == 0)
    variants = media.filter(F.col("doc_id") % 4 != 0)

    src = tmp_path / "stream"
    src.mkdir()
    idx = str(tmp_path / "band_index")

    def drain(tag):
        stream = spark.readStream.schema(
            "doc_id bigint, media_type string, payload binary"
        ).parquet(str(src))
        stream_audio_admission(
            stream, idx, str(tmp_path / f"ckpt_{tag}")
        ).awaitTermination(300)

    def members():
        return {
            r["aud_id"]
            for r in spark.read.parquet(idx).select("aud_id").collect()
        }

    # batch 1: all originals (one duplicated in-batch) -> admitted once,
    # two (offset 0, 16) band rows each
    origs.union(origs.limit(1)).write.mode("append").parquet(str(src))
    drain("a")
    truth_origs = {r["doc_id"] for r in origs.collect()}
    assert members() == truth_origs
    n_rows = spark.read.parquet(idx).count()
    assert n_rows == 2 * len(truth_origs)

    # batch 2: appended/perturb/prepended variants -> every one rejected
    # against its indexed original
    variants.write.mode("append").parquet(str(src))
    drain("b")
    assert members() == truth_origs

    # replay batch 1 under a fresh checkpoint -> no growth
    origs.write.mode("append").parquet(str(src))
    drain("c")
    assert (
        members() == truth_origs
        and spark.read.parquet(idx).count() == n_rows
    )


def test_stream_image_admission_equals_incremental(spark, tmp_path):
    """r13 streaming perceptual admission: draining batches of real PNG
    variants leaves the band index holding exactly the originals plus the
    novel uploads — every re-encoded/perturbed variant of an indexed
    image is rejected by the band semi-join + exact Hamming verify; a
    replayed batch appends nothing; in-batch duplicate ids append
    once."""
    import pyspark.sql.functions as F

    from vector_db_light_spark.queries.pipeline import _dhash_variant_corpus
    from vector_db_light_spark.streaming.media import stream_image_admission

    sf = "/root/testdata/sf0.001"
    media = _dhash_variant_corpus(spark, sf).localCheckpoint(eager=True)
    origs = media.filter(F.col("doc_id") % 4 == 0)
    variants = media.filter(F.col("doc_id") % 4 != 0)

    src = tmp_path / "stream"
    src.mkdir()
    idx = str(tmp_path / "band_index")

    def drain(tag):
        stream = spark.readStream.schema(
            "doc_id bigint, media_type string, payload binary"
        ).parquet(str(src))
        stream_image_admission(
            stream, idx, str(tmp_path / f"ckpt_{tag}")
        ).awaitTermination(300)

    def members():
        return {
            r["img_id"] for r in spark.read.parquet(idx).select("img_id").collect()
        }

    # batch 1: all originals (one duplicated in-batch) -> all admitted once
    origs.union(origs.limit(1)).write.mode("append").parquet(str(src))
    drain("a")
    truth_origs = {r["doc_id"] for r in origs.collect()}
    assert members() == truth_origs
    n_rows = spark.read.parquet(idx).count()
    assert n_rows == len(truth_origs)  # in-batch duplicate appended once

    # batch 2: scaled/perturbed variants are perceptual dups of their
    # indexed originals and are rejected; the SOLID variants (r14) share
    # only corpus-hot (0,0) bands — stopword evidence — and are ADMITTED
    # by policy (featureless images cannot doom or be doomed)
    variants.write.mode("append").parquet(str(src))
    drain("b")
    solids = {r["doc_id"] for r in variants.filter(
        F.col("doc_id") % 4 == 3
    ).collect()}
    assert len(solids) > 8  # the class is actually above the cap
    assert members() == truth_origs | solids

    # replay batch 1 under a fresh checkpoint -> no growth
    n_rows2 = spark.read.parquet(idx).count()
    origs.write.mode("append").parquet(str(src))
    drain("c")
    assert (
        members() == truth_origs | solids
        and spark.read.parquet(idx).count() == n_rows2
    )
