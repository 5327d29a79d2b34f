"""Crash-injection harness for the streaming commit protocol
(vector_db_light_spark/commit.py).

For every sink on the protocol: drain one micro-batch, feed a second, then
crash that second batch at each write boundary — raising on its k-th
parquet write, on the commit-record write, or just after the record
landed — restart the query on the same checkpoint so Spark re-delivers
the batch, and assert every output table (read plainly, slot partition
column included) equals a crash-free run's. Also: the triangle-count
regression (a crash between two writes of one batch double-counted the
delta), a fresh-checkpoint re-drain over existing state, which must not
grow any output, and a checkpoint deleted and recreated at the same path,
whose restarted batch ids must not hide new input."""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass
from typing import Callable

import pytest
from pyspark.sql import DataFrameWriter
from pyspark.sql import functions as F

from conftest import SF_SMOKE
from test_stream_curation import _ADMISSION_BATCHES
from vector_db_light_spark import commit


class _Crash(RuntimeError):
    pass


def _arm(monkeypatch, crash_at: int | None = None, after_record: bool = False):
    """Count the batch's writes (every DataFrameWriter.parquet call, then
    the commit record) and raise on write ``crash_at`` (1-based), or right
    after the record landed. Returns the live write counter."""
    seen = {"n": 0}
    real_parquet = DataFrameWriter.parquet
    real_record = commit.write_json

    def tick():
        seen["n"] += 1
        if seen["n"] == crash_at:
            raise _Crash(f"injected crash on write {crash_at}")

    def parquet(self, *args, **kwargs):
        tick()
        return real_parquet(self, *args, **kwargs)

    def record(*args, **kwargs):
        tick()
        real_record(*args, **kwargs)
        if after_record:
            raise _Crash("injected crash after the commit record")

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    monkeypatch.setattr(commit, "write_json", record)
    return seen


@dataclass
class Sink:
    schema: str | None  # None: text files (stream_ingest), or see frame
    batches: list[list]
    writes: int  # parquet writes of the second batch
    tables: list[str]
    start: Callable  # (spark, root, src, ckpt) -> StreamingQuery
    frame: Callable | None = None  # (spark, batch) -> DataFrame

    def feed(self, spark, src: str, i: int) -> None:
        if self.frame is not None:
            self.frame(spark, self.batches[i]).write.mode("append").parquet(src)
        elif self.schema is None:
            os.makedirs(src, exist_ok=True)
            with open(os.path.join(src, f"doc{i}.txt"), "w") as fh:
                fh.write(self.batches[i][0])
        else:
            spark.createDataFrame(self.batches[i], self.schema).write.mode(
                "append"
            ).parquet(src)

    def stream(self, spark, src: str):
        return spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)


def _graphs(spark, root, src, ckpt):
    from vector_db_light_spark.streaming.graphs import stream_triangle_counts

    s = SINKS["graphs"].stream(spark, src)
    return stream_triangle_counts(s, f"{root}/edges", f"{root}/counts", ckpt)


def _learning(spark, root, src, ckpt):
    from vector_db_light_spark.streaming.learning import stream_train

    s = SINKS["learning"].stream(spark, src)
    return stream_train(s, f"{root}/examples", f"{root}/weights", ckpt, ["x0", "x1"])


def _blocks(spark, root, src, ckpt):
    from vector_db_light_spark.streaming.blocks import stream_block_dedup

    s = SINKS["blocks"].stream(spark, src)
    return stream_block_dedup(s, f"{root}/index", f"{root}/stats", ckpt, mask=16)


def _linkage(spark, root, src, ckpt):
    from vector_db_light_spark.streaming.linkage import stream_link

    s = SINKS["linkage"].stream(spark, src)
    return stream_link(s, f"{root}/keys", f"{root}/index", f"{root}/pairs", ckpt)


def _curate(spark, root, src, ckpt):
    from vector_db_light_spark.streaming.curation import stream_curate

    s = SINKS["curate"].stream(spark, src)
    return stream_curate(
        s, f"{root}/corpus", f"{root}/bands", ckpt,
        line_df_dir=f"{root}/line_df", max_line_doc_freq=2,
    )


def _admission(spark, root, src, ckpt):
    from vector_db_light_spark.streaming.curation import stream_corpus_admission

    s = SINKS["admission"].stream(spark, src)
    return stream_corpus_admission(
        s, f"{root}/corpus", f"{root}/bands", ckpt, funnel_dir=f"{root}/funnel"
    )


def _media(spark, root, src, ckpt):
    from vector_db_light_spark.streaming.media import stream_media_curate

    s = SINKS["media"].stream(spark, src)
    return stream_media_curate(s, f"{root}/corpus", f"{root}/frames", ckpt)


def _ingest(spark, root, src, ckpt):
    from vector_db_light_spark.streaming.ingest import stream_ingest

    return stream_ingest(spark, src, f"{root}/out", ckpt, chunk_size=100)


def _search(spark, root, src, ckpt):
    from vector_db_light_spark.operators.similarity import ivf_centroids
    from vector_db_light_spark.registry import load
    from vector_db_light_spark.streaming.serving import stream_search

    emb = load(spark, SF_SMOKE, "embeddings")
    s = SINKS["search"].stream(spark, src)
    return stream_search(
        s, emb, ivf_centroids(emb, dim=64), f"{root}/hits", ckpt, nprobe=2, k=3
    )


def _lexical(spark, root, src, ckpt):
    from vector_db_light_spark.registry import load_docs
    from vector_db_light_spark.streaming.serving import stream_lexical_search

    s = SINKS["lexical"].stream(spark, src)
    return stream_lexical_search(s, load_docs(spark, SF_SMOKE), f"{root}/hits", ckpt, k=5)


def _text_index(spark, root, src, ckpt):
    from vector_db_light_spark.streaming.serving import stream_text_index_maintenance

    s = SINKS["text_index"].stream(spark, src)
    return stream_text_index_maintenance(s, root, ckpt)


def _lm(spark, root, src, ckpt):
    from vector_db_light_spark.streaming.serving import stream_lm_maintenance

    s = SINKS["lm"].stream(spark, src)
    return stream_lm_maintenance(s, root, ckpt)


def _sketch(spark, root, src, ckpt):
    from vector_db_light_spark.streaming.serving import stream_sign_sketch_maintenance

    s = SINKS["sketch"].stream(spark, src)
    return stream_sign_sketch_maintenance(s, f"{root}/sketch", ckpt, dim=4)


def _pack(spark, root, src, ckpt):
    from vector_db_light_spark.streaming.serving import stream_tokenize_pack

    s = SINKS["pack"].stream(spark, src)
    return stream_tokenize_pack(s, root, ckpt, ["t h", "th e", "a n"], budget=8)


def _clip(*tags: str) -> bytes:
    import hashlib

    from vector_db_light_spark.functions.mp4 import encode_mp4

    return encode_mp4([hashlib.md5(t.encode()).digest() * 4 for t in tags], 32, 32)


def _queries(spark, ids):
    from vector_db_light_spark.registry import load

    return (
        load(spark, SF_SMOKE, "embeddings")
        .filter(F.col("vec_id").isin(ids))
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
    )


_VARIED = " ".join(f"w{i}tok{(i * 7) % 13}x" for i in range(60))
_HEADER = "ACME corp internal newsletter"

SINKS = {
    "graphs": Sink(
        "u long, v long",
        [[(a, b) for a in range(1, 5) for b in range(a + 1, 5)],
         [(1, 5), (2, 5), (3, 5), (1, 2)]],
        2, ["counts", "edges"], _graphs,
    ),
    "learning": Sink(
        "id bigint, x0 bigint, x1 bigint, y bigint",
        [[(1, 3, 1, 1), (2, 0, 4, -1), (3, 5, 2, 1), (4, 1, 6, -1)],
         [(5, 2, 2, 1), (6, 0, 1, -1), (7, 4, 0, 1), (3, 5, 2, 1)]],
        2, ["weights", "examples"], _learning,
    ),
    "blocks": Sink(
        "doc_id bigint, text string",
        [[(1, _VARIED), (2, "totally unrelated content right here")],
         [(10, _VARIED), (11, "EDITEDPREFIX " + _VARIED),
          (12, "another brand new document body")]],
        2, ["index", "stats"], _blocks,
    ),
    "linkage": Sink(
        "id bigint, key string",
        [[(1, "the quick brown fox jumps over"),
          (2, "the quick brown fox jumps ove"),
          (3, "completely unrelated record here")],
         [(10, "the quick brown fox jumpz over"),
          (11, "nothing like anything seen before")]],
        3, ["keys", "index", "pairs"], _linkage,
    ),
    "curate": Sink(
        "doc_id bigint, text string",
        [[(0, _HEADER + "\nducks prefer shallow ponds near quiet meadows"),
          (1, _HEADER + "\ngeese migrate across continents every autumn")],
         [(2, _HEADER + "\nowls hunt rodents after the moon rises high"),
          (3, _HEADER + "\nducks prefer shallow ponds near quiet meadows")]],
        3, ["corpus", "bands", "line_df"], _curate,
    ),
    "admission": Sink(
        "doc_id bigint, text string",
        _ADMISSION_BATCHES[:2],
        3, ["corpus", "bands", "funnel"], _admission,
    ),
    "media": Sink(
        "doc_id bigint, media_type string, payload binary",
        [[(0, "video/mp4", _clip("a", "b", "c", "d")),
          (1, "video/mp4", _clip("w", "x", "y", "z"))],
         [(10, "video/mp4", _clip("a", "b", "c", "d")),
          (12, "video/mp4", _clip("a", "m", "n", "o")),
          (13, "video/mp4", _clip("e", "f", "g"))]],
        2, ["corpus", "frames"], _media,
    ),
    "ingest": Sink(
        None,
        [["alpha beta gamma " * 30], ["delta epsilon " * 40]],
        1, ["out"], _ingest,
    ),
    "search": Sink(
        None,
        [[0, 1, 2], [3, 4, 5]],  # vec_ids of the smoke embeddings
        1, ["hits"], _search, frame=_queries,
    ),
    "text_index": Sink(
        "doc_id bigint, text string",
        [[(1, "spark data engine spark"), (2, "data alpha beta"), (3, "")],
         [(4, "alpha spark gamma alpha"), (5, "data data delta"),
          (4, "alpha spark gamma alpha"), (1, "a re-sent id")]],
        6, ["postings", "terms", "stats", "blocks", "positions", "doc_ids"],
        _text_index,
    ),
    "lm": Sink(
        "doc_id bigint, text string",
        [[(1, "the cat sat on the mat"), (2, "")],
         [(3, "a cat and a dog"), (3, "a cat and a dog"), (1, "the cat")]],
        2, ["counts_2gram", "doc_ids_2gram"], _lm,
    ),
    "sketch": Sink(
        "chunk_id bigint, embedding array<float>",
        [[(1, [0.5, -1.0, 2.0, -0.1]), (2, [-0.5, 1.0, -2.0, 0.1])],
         [(3, [1.0, 1.0, -1.0, -1.0]), (1, [0.5, -1.0, 2.0, -0.1])]],
        1, ["sketch"], _sketch,
    ),
    "pack": Sink(
        "doc_id bigint, text string",
        [[(1, "the cat sat on the mat"), (2, "")],
         [(3, "then the ant ran and ran"), (4, "another thing")]],
        1, ["spans"], _pack,
    ),
    "lexical": Sink(
        "query_id bigint, terms string",
        [[(1, "spark query"), (2, "table scan batch")],
         [(3, "merge sort"), (4, "window")]],
        1, ["hits"], _lexical,
    ),
}
# the re-drain's funnel gains the new delivery's row (n_admitted 0);
# serving and ingest answer every delivery — both checked elsewhere
_LEDGERS = {"admission": ["funnel"]}
_STATELESS = {"ingest", "search", "lexical"}


def _tables(spark, sink: Sink, root: str) -> dict:
    def canon(v):
        return tuple(canon(x) for x in v) if isinstance(v, (list, tuple)) else v

    return {
        t: sorted(
            (canon(tuple(r)) for r in spark.read.parquet(f"{root}/{t}").collect()),
            key=repr,
        )
        for t in sink.tables
    }


def _drain(spark, sink: Sink, root: str, ckpt: str) -> None:
    sink.start(spark, root, f"{root}/src", ckpt).awaitTermination(180)


_STATE: dict = {}


def _prepared(spark, tmp_path_factory, name: str):
    """(root, base, reference): ``base`` holds the state after batch 0
    with batch 1 fed; ``reference`` is the crash-free run's tables."""
    if name not in _STATE:
        sink = SINKS[name]
        work = tmp_path_factory.mktemp(f"commit_{name}")
        root, base = str(work / "root"), str(work / "base")
        sink.feed(spark, f"{root}/src", 0)
        _drain(spark, sink, root, f"{root}/ckpt")
        sink.feed(spark, f"{root}/src", 1)
        shutil.copytree(root, base)
        with pytest.MonkeyPatch.context() as mp:
            seen = _arm(mp)
            _drain(spark, sink, root, f"{root}/ckpt")
        assert seen["n"] == sink.writes + 1, "the batch's write count changed"
        _STATE[name] = (root, base, _tables(spark, sink, root))
    return _STATE[name]


def _restore(root: str, base: str) -> None:
    shutil.rmtree(root)
    shutil.copytree(base, root)


_CASES = [
    (name, b)
    for name, sink in SINKS.items()
    for b in [f"write{k}" for k in range(1, sink.writes + 1)] + ["record", "after_record"]
]


@pytest.mark.parametrize("name,boundary", _CASES)
def test_crash_and_replay_equals_crash_free(
    spark, tmp_path_factory, monkeypatch, name, boundary
):
    sink = SINKS[name]
    root, base, want = _prepared(spark, tmp_path_factory, name)
    _restore(root, base)
    if boundary == "after_record":
        seen = _arm(monkeypatch, after_record=True)
    else:
        k = sink.writes + 1 if boundary == "record" else int(boundary[5:])
        seen = _arm(monkeypatch, crash_at=k)
    with pytest.raises(Exception):
        _drain(spark, sink, root, f"{root}/ckpt")
    assert seen["n"] == (sink.writes + 1 if boundary == "after_record" else k)
    monkeypatch.undo()
    _drain(spark, sink, root, f"{root}/ckpt")  # Spark re-delivers the batch
    assert _tables(spark, sink, root) == want


@pytest.mark.parametrize("name", [n for n in SINKS if n not in _STATELESS])
def test_fresh_checkpoint_redrain_adds_nothing(spark, tmp_path_factory, name):
    """Spark restarts batch_id at 0 under a new checkpoint and re-delivers
    every input file as one batch: it lands in a new slot, never over an
    earlier one, and adds no rows."""
    sink = SINKS[name]
    root, base, want = _prepared(spark, tmp_path_factory, name)
    _restore(root, base)
    _drain(spark, sink, root, f"{root}/ckpt")
    _drain(spark, sink, root, f"{root}/ckpt_fresh")
    got = _tables(spark, sink, root)
    for t in sink.tables:
        if t not in _LEDGERS.get(name, []):
            assert got[t] == want[t], t
    if name == "admission":
        rows = spark.read.parquet(f"{root}/funnel").orderBy("batch_id").collect()
        assert len(rows) == 3 and rows[-1]["n_admitted"] == 0


@pytest.mark.parametrize("name", list(SINKS))
def test_recreated_checkpoint_at_same_path_admits_new_input(
    spark, tmp_path_factory, name
):
    """Deleting a checkpoint and restarting at the same path restarts
    Spark's batch_id at 0 under a new query id: the next batch (every
    input file re-delivered, the new one included) is not mistaken for a
    committed one, and the new input lands as in a crash-free run."""
    sink = SINKS[name]
    root, base, want = _prepared(spark, tmp_path_factory, name)
    _restore(root, base)
    shutil.rmtree(f"{root}/ckpt")
    _drain(spark, sink, root, f"{root}/ckpt")
    got = _tables(spark, sink, root)
    for t in sink.tables:
        if name in _STATELESS:
            # every delivery is answered: the re-delivered input adds rows
            assert set(want[t]) <= set(got[t]), t
        elif t not in _LEDGERS.get(name, []):
            assert got[t] == want[t], t
    if name == "admission":
        # the funnel row counts the whole delivery; its admissions match
        assert [(r[0], r[6]) for r in got["funnel"]] == [
            (r[0], r[6]) for r in want["funnel"]
        ]


def test_triangle_counts_crash_between_writes_regression(spark, tmp_path, monkeypatch):
    """A crash between a batch's count write and its edge write, then the
    restart that re-delivers the batch, once added the batch's delta
    twice: stored {1:7, 2:7, 3:7, 4:3, 5:6} against a recount of
    {1:5, 2:5, 3:5, 4:3, 5:3}."""
    from vector_db_light_spark.operators.graph import count_triangles
    from vector_db_light_spark.streaming.graphs import triangle_counts

    sink, root = SINKS["graphs"], str(tmp_path)
    sink.feed(spark, f"{root}/src", 0)
    _drain(spark, sink, root, f"{root}/ckpt")
    sink.feed(spark, f"{root}/src", 1)
    _arm(monkeypatch, crash_at=2)
    with pytest.raises(Exception):
        _drain(spark, sink, root, f"{root}/ckpt")
    monkeypatch.undo()
    _drain(spark, sink, root, f"{root}/ckpt")  # the replay

    stored = {
        r["node"]: r["n_triangles"]
        for r in triangle_counts(spark, f"{root}/counts").collect()
    }
    recount = {
        r["node"]: r["n_triangles"]
        for r in count_triangles(
            spark.read.parquet(f"{root}/edges"), src="u", dst="v"
        ).collect()
    }
    assert recount == {1: 5, 2: 5, 3: 5, 4: 3, 5: 3}
    assert stored == recount


def test_text_index_slots_read_with_one_listing_job(spark, tmp_path):
    """Three committed slots, each holding more than 32 term_bucket
    partitions, read as one root path: Spark lists a directory level of
    more than 32 entries in a job of its own, and the partition level is
    outermost, so the postings cost one listing job however many slots
    they span (one per slot when the slot level was outermost)."""
    from functools import partial

    from test_api import _spark_jobs
    from vector_db_light_spark.streaming import serving

    root = str(tmp_path / "idx")
    dirs = [f"{root}/{n}" for n in serving._TEXT_INDEX]
    body = partial(serving._text_index_body, index_dir=root, id_col="doc_id", text_col="text")
    for b in range(3):
        rows = [(b * 10 + j, " ".join(f"t{b}w{j}x{i}" for i in range(40))) for j in range(5)]
        commit.apply(spark.createDataFrame(rows, "doc_id bigint, text string"), dirs, body, b, "q")
    postings = dirs[0]
    log = commit.Slot(spark, postings)
    assert log.slots(postings) == [0, 1, 2]
    assert all(
        sum(os.path.isdir(f"{postings}/{e}/batch={slot}") for e in os.listdir(postings)) > 32
        for slot in range(3)
    )
    _, jobs = _spark_jobs(spark, lambda: log.read(postings))
    assert jobs <= 1
    # one per term_bucket-partitioned table: postings, blocks, positions
    _, jobs = _spark_jobs(spark, lambda: serving.text_index(spark, root))
    assert jobs <= 3


def test_a_planned_read_survives_the_next_batch(spark, tmp_path):
    """A snapshot stays on disk through the next change of its table: a
    text index planned before one more batch still collects the rows it
    was planned on, and the batch after that deletes the superseded
    snapshot."""
    from functools import partial

    from vector_db_light_spark.streaming import serving

    root = str(tmp_path / "idx")
    dirs = [f"{root}/{n}" for n in serving._TEXT_INDEX]
    body = partial(serving._text_index_body, index_dir=root, id_col="doc_id", text_col="text")

    def drain(b):
        rows = [(b * 10 + j, f"w{b} shared x{j}") for j in range(3)]
        commit.apply(spark.createDataFrame(rows, "doc_id bigint, text string"), dirs, body, b, "q")

    drain(0)
    drain(1)
    planned = serving.text_index(spark, root)
    before = [sorted(map(tuple, f.collect())) for f in planned]
    drain(2)
    assert [sorted(map(tuple, f.collect())) for f in planned] == before
    terms = dirs[1]
    assert os.path.isdir(f"{terms}/batch=1")
    drain(3)
    assert not os.path.isdir(f"{terms}/batch=1")
    assert sorted(e for e in os.listdir(terms) if e.startswith("batch=")) == [
        "batch=2", "batch=3"
    ]
