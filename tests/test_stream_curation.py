"""Streaming corpus curation: exact + incremental-LSH dedup against the
persistent corpus/band-index pair, across micro-batches and restarts."""

from __future__ import annotations

from functools import partial

from vector_db_light_spark import commit
from vector_db_light_spark.streaming.curation import _curate, stream_curate


def _curate_into(batch_df, corpus, bands, jaccard_threshold, batch_id=0,
                 source="q", **kwargs):
    """One batch through ``stream_curate``'s engine under the protocol."""
    body = partial(
        _curate, corpus_dir=corpus, bands_dir=bands,
        jaccard_threshold=jaccard_threshold, **kwargs,
    )
    dirs = [corpus, bands, kwargs.get("line_df_dir")]
    return commit.apply(batch_df, dirs, body, batch_id, source)

_BASE = (
    "the spark engine shuffles data between stages and caches hot "
    "partitions in executor memory for iterative workloads to reuse "
)


def _doc(i: int, text: str):
    return (i, text)


def test_stream_curate_drops_exact_and_near_dups(spark, tmp_path):
    src = str(tmp_path / "incoming")
    corpus = str(tmp_path / "curated")
    bands = str(tmp_path / "bands")
    ckpt = str(tmp_path / "ckpt")

    def write(rows):
        spark.createDataFrame(rows, "doc_id bigint, text string").write.mode(
            "append"
        ).parquet(src)

    def drain():
        stream = spark.readStream.schema(
            spark.read.parquet(src).schema
        ).parquet(src)
        q = stream_curate(stream, corpus, bands, ckpt)
        q.awaitTermination(180)

    # batch 1: three distinct docs + one in-batch exact dup of doc 0
    write(
        [
            _doc(0, _BASE * 3 + "alpha section"),
            _doc(1, "completely different text about ducks and databases " * 6),
            _doc(2, "a third unique document mentioning catalyst plans " * 6),
            _doc(3, _BASE * 3 + "alpha section"),  # exact dup of 0, same batch
        ]
    )
    drain()
    ids1 = {r["doc_id"] for r in spark.read.parquet(corpus).collect()}
    assert ids1 == {0, 1, 2}  # min-id canonical kept

    # batch 2 (restart drains from the checkpoint): one new doc, one exact
    # dup of doc 1, one NEAR dup of doc 0 (same long body, tail edited)
    write(
        [
            _doc(10, "entirely fresh content on watermarks and state stores " * 6),
            _doc(11, "completely different text about ducks and databases " * 6),
            _doc(12, _BASE * 3 + "beta section"),
        ]
    )
    drain()
    ids2 = {r["doc_id"] for r in spark.read.parquet(corpus).collect()}
    assert ids2 == {0, 1, 2, 10}

    # the band index covers exactly the curated docs (the next batch's join
    # side), so daily cost keeps scaling with the batch
    band_ids = {r["doc_id"] for r in spark.read.parquet(bands).collect()}
    assert band_ids == ids2


def test_stream_curate_drops_in_batch_near_dups(spark, tmp_path):
    """ADVICE r6: two near-duplicate copies arriving in the SAME micro-batch
    must not both be admitted — the larger id is dropped (keep-min)."""
    src = str(tmp_path / "incoming")
    corpus = str(tmp_path / "curated")
    bands = str(tmp_path / "bands")
    ckpt = str(tmp_path / "ckpt")

    rows = [
        _doc(0, _BASE * 3 + "alpha section"),
        _doc(1, _BASE * 3 + "beta section"),  # near dup of 0, SAME batch
        _doc(2, "completely different text about ducks and databases " * 6),
    ]
    spark.createDataFrame(rows, "doc_id bigint, text string").write.mode(
        "append"
    ).parquet(src)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    stream_curate(stream, corpus, bands, ckpt).awaitTermination(180)
    ids = {r["doc_id"] for r in spark.read.parquet(corpus).collect()}
    assert ids == {0, 2}


def _line_df(spark, corpus, ldf):
    """The line-df state: its last committed slot (the record lives with
    the corpus)."""
    return {
        r["line_hash"]: r["line_df"]
        for r in commit.Slot(spark, corpus).read(ldf).collect()
    }


def _corpus_line_df(spark, corpus):
    from vector_db_light_spark.operators.dedup import line_doc_freq

    return {
        r["line_hash"]: r["line_df"]
        for r in line_doc_freq(spark.read.parquet(corpus)).collect()
    }


def test_stream_curate_replay_after_partial_write_recovers(
    spark, tmp_path, monkeypatch
):
    """A batch that crashed after its band write (and, at the second
    crash point, after its corpus write too) is replayed into the same
    slot: the doc is admitted once and the line-df state is exact — the
    old one-batch under-count window is gone."""
    import pytest

    from test_stream_commit import _arm, _Crash

    for k in (2, 3):  # crash on the corpus write, then on the line-df write
        corpus = str(tmp_path / f"curated{k}")
        bands = str(tmp_path / f"bands{k}")
        ldf = str(tmp_path / f"line_df{k}")
        args = dict(corpus=corpus, bands=bands, jaccard_threshold=0.5,
                    line_df_dir=ldf)
        b1 = spark.createDataFrame(
            [_doc(0, "completely different text about ducks and databases " * 6)],
            "doc_id bigint, text string",
        )
        _curate_into(b1, **args, batch_id=0)
        b2 = spark.createDataFrame(
            [_doc(5, _BASE * 3 + "gamma section")], "doc_id bigint, text string"
        )
        _arm(monkeypatch, crash_at=k)
        with pytest.raises(_Crash):
            _curate_into(b2, **args, batch_id=1)
        monkeypatch.undo()
        _curate_into(b2, **args, batch_id=1)  # the replay
        rows = spark.read.parquet(corpus).collect()
        assert sorted(r["doc_id"] for r in rows) == [0, 5]
        assert _line_df(spark, corpus, ldf) == _corpus_line_df(spark, corpus)


def test_stream_curate_in_batch_policy_is_cluster_canonical(spark, tmp_path):
    """ADVICE r7: in-batch near-dup resolution must match the batch side's
    cluster-canonical policy (dedup_clusters: one survivor per connected
    component). For the star a~c, b~c (a not~ b) only the component min a
    survives — per-pair larger-id dooming kept b as well."""
    corpus = str(tmp_path / "curated")
    bands = str(tmp_path / "bands")
    x = (
        "alpha bravo charlie delta echo foxtrot golf hotel india juliet "
        "kilo lima mike november oscar papa quebec romeo sierra tango "
    ) * 2
    y = (
        "uniform victor whiskey xray yankee zulu apple banana cherry dates "
        "elder figs grape honey iris jasmine kale lemon mango nectar "
    ) * 2
    batch = spark.createDataFrame(
        [(10, x), (11, y), (12, x + y)], "doc_id bigint, text string"
    )
    # jaccard(10,12) = jaccard(11,12) ~= 0.476, jaccard(10,11) = 0, and
    # both star edges are LSH band candidates (deterministic md5 minhash)
    _curate_into(batch, corpus, bands, jaccard_threshold=0.4)
    ids = {r["doc_id"] for r in spark.read.parquet(corpus).collect()}
    assert ids == {10}


def test_stream_curate_removes_boilerplate_once_cumulative_df_crosses(
    spark, tmp_path
):
    """VERDICT r7 #7: with line_df_dir set, a header line admitted in batch
    1 (df under the threshold) must be stripped from batch-N docs once the
    CUMULATIVE line-df state crosses the threshold — the incremental twin
    of remove_boilerplate_lines' corpus-wide pass."""
    src = str(tmp_path / "incoming")
    corpus = str(tmp_path / "curated")
    bands = str(tmp_path / "bands")
    ckpt = str(tmp_path / "ckpt")
    ldf = str(tmp_path / "line_df")
    header = "ACME corp internal newsletter"

    def write(rows):
        spark.createDataFrame(rows, "doc_id bigint, text string").write.mode(
            "append"
        ).parquet(src)

    def drain():
        stream = spark.readStream.schema(
            spark.read.parquet(src).schema
        ).parquet(src)
        stream_curate(
            stream, corpus, bands, ckpt, line_df_dir=ldf, max_line_doc_freq=2
        ).awaitTermination(180)

    # batch 1: two docs share the header -> cumulative df = 2, NOT > 2
    write(
        [
            (0, header + "\nducks prefer shallow ponds near quiet meadows"),
            (1, header + "\ngeese migrate across continents every autumn"),
        ]
    )
    drain()
    texts = {
        r["doc_id"]: r["text"] for r in spark.read.parquet(corpus).collect()
    }
    assert header in texts[0] and header in texts[1]

    # batch 2: one more doc with the header -> cumulative df = 3 > 2:
    # the header is stripped from the NEW doc (curated docs stay as-is)
    write([(2, header + "\nowls hunt rodents after the moon rises high")])
    drain()
    texts = {
        r["doc_id"]: r["text"] for r in spark.read.parquet(corpus).collect()
    }
    assert set(texts) == {0, 1, 2}
    assert header not in texts[2]
    assert texts[2] == "owls hunt rodents after the moon rises high"

    # batch 3: header-only doc -> every line boilerplate -> not admitted
    write([(3, header)])
    drain()
    assert {
        r["doc_id"] for r in spark.read.parquet(corpus).collect()
    } == {0, 1, 2}


def test_stream_curate_in_batch_copies_do_not_inflate_line_df(spark, tmp_path):
    """Review r8: six exact copies of one doc in a SINGLE batch must curate
    exactly one copy with its text intact — before the raw-copy collapse,
    every line's df counted 6 distinct doc_ids (> threshold 5) and all six
    copies were stripped empty and dropped."""
    corpus = str(tmp_path / "curated")
    bands = str(tmp_path / "bands")
    ldf = str(tmp_path / "line_df")
    text = "unique header line\nducks prefer shallow ponds near the meadow"
    batch = spark.createDataFrame(
        [(i, text) for i in range(6)], "doc_id bigint, text string"
    )
    _curate_into(batch, corpus, bands, 0.5, line_df_dir=ldf, max_line_doc_freq=5)
    rows = spark.read.parquet(corpus).collect()
    assert len(rows) == 1 and rows[0]["doc_id"] == 0
    assert rows[0]["text"] == text


def test_stream_curate_line_df_state_is_replay_idempotent(spark, tmp_path):
    """The line-df monoid under a full replay of a committed batch: its
    doc ids are already curated, so neither the corpus nor the line-df
    state changes, and the state equals the corpus' own line counts."""
    corpus = str(tmp_path / "curated")
    bands = str(tmp_path / "bands")
    ldf = str(tmp_path / "line_df")
    batch = spark.createDataFrame(
        [
            (1, "shared header\nducks prefer shallow ponds"),
            (2, "shared header\ngeese migrate across continents"),
        ],
        "doc_id bigint, text string",
    )
    _curate_into(batch, corpus, bands, 0.5, line_df_dir=ldf, max_line_doc_freq=5)
    state1 = _line_df(spark, corpus, ldf)
    ids1 = sorted(r["doc_id"] for r in spark.read.parquet(corpus).collect())
    # full replay of the SAME batch under a fresh query (a new checkpoint)
    _curate_into(
        batch, corpus, bands, 0.5, source="fresh", line_df_dir=ldf,
        max_line_doc_freq=5,
    )
    state2 = _line_df(spark, corpus, ldf)
    ids2 = sorted(r["doc_id"] for r in spark.read.parquet(corpus).collect())
    assert ids2 == ids1 == [1, 2]
    assert state2 == state1 == _corpus_line_df(spark, corpus)  # exact
    assert 2 in state1.values()  # the shared header really is counted


def test_stream_curate_doc_ids_are_immutable(spark, tmp_path):
    """A curated doc id re-sent with DIFFERENT, otherwise admissible text
    is a re-send, not a new version: it is dropped and the corpus keeps
    the first text."""
    corpus = str(tmp_path / "curated")
    bands = str(tmp_path / "bands")
    schema = "doc_id bigint, text string"
    first = "ducks prefer shallow ponds near quiet meadows"
    _curate_into(spark.createDataFrame([(1, first)], schema), corpus, bands, 0.5)
    edited = spark.createDataFrame(
        [(1, "owls hunt rodents after the moon rises high")], schema
    )
    _curate_into(edited, corpus, bands, 0.5, batch_id=1)
    rows = spark.read.parquet(corpus).collect()
    assert [(r["doc_id"], r["text"]) for r in rows] == [(1, first)]


# ---------------------------------------------------------------------------
# stream_corpus_admission (VERDICT r14 #4): the batch capstone's pre-dedup
# gate (PII scrub -> C4 -> Gopher, FROZEN thresholds) in front of the
# standard dedup stages — streamed admission must equal the batch gate's
# keep-set, per-stage funnel counts must match, and the ledger must be
# replay-idempotent.
# ---------------------------------------------------------------------------

# Gate-passing page: 4 identical lines of a DISTINCT long sentence per
# doc (multi-line for the C4 sentence rule; distinct bodies so unrelated
# docs share almost no shingles; one-word edits give high-Jaccard
# near-dup pairs the deterministic md5 LSH bands reliably catch).
def _page(sent: str) -> str:
    line = sent + "."  # C4 keeps only terminally-punctuated lines
    return "\n".join([line, line, line, line])


_S0 = (
    "the mountain alpha ridge holds deep snow during early winter months "
    "while hardy climbers trace narrow paths between granite towers above"
)
_S1 = (
    "the river beta valley carries clear water toward southern farmland "
    "plains where patient herons stalk silver fish along reed banks"
)
_S2 = (
    "the forest gamma creek shelters quiet deer among tall green pines "
    "whose heavy branches filter pale morning light onto soft moss"
)
_S10 = (
    "the desert zeta plain stretches dry golden sand beneath pale orange "
    "skies while distant caravans follow ancient routes between lone wells"
)
_S12 = (
    "the harbor delta port loads heavy steel cargo onto waiting vessels "
    "while tired crews secure thick ropes against rising evening tides"
)
_S20 = (
    "the glacier eta summit reflects bright cold light across frozen blue "
    "fields where roped teams cross deep crevasses before sudden storms"
)

_ADMISSION_BATCHES = [
    [  # batch 0
        (0, _page(_S0)),
        (1, _page(_S1)),
        (2, "reach me at jane.roe@example.org with the offer today folks\n"
            + _page(_S2)),                    # PII: scrubbed and KEPT
        (3, "the lorem ipsum dolor sit amet text\n" + _page(_S0.replace(
            "mountain", "plateau"))),         # C4 lorem drop
        (4, _page(_S1.replace("river", "brook")) + "\n" + "### " * 30),
        # ^ Gopher symbol drop
        (5, _page(_S0)),                      # in-batch exact dup of 0
    ],
    [  # batch 1
        (10, _page(_S10)),
        (11, _page(_S1)),                     # exact dup vs corpus (of 1)
        (12, _page(_S12)),                    # fresh, admitted
        (13, "single line with plenty of the words but only one line"),
        # ^ C4 few_sentences drop
    ],
    [  # batch 2
        (20, _page(_S20)),
        # NEAR dup of 10: one word of the last line edited
        (21, "\n".join([_S10 + ".", _S10 + ".", _S10 + ".",
                        _S10.replace("orange", "copper") + "."])),
    ],
]


def _drain_admission(spark, src, corpus, bands, ckpt, funnel):
    from vector_db_light_spark.streaming.curation import stream_corpus_admission

    stream = spark.readStream.schema(
        spark.read.parquet(src).schema
    ).parquet(src)
    q = stream_corpus_admission(
        stream, corpus, bands, ckpt, jaccard_threshold=0.5, funnel_dir=funnel
    )
    q.awaitTermination(180)


def test_stream_corpus_admission_equals_batch_gate(spark, tmp_path):
    """Streamed (3 micro-batches + an idle restart) == the batch path run
    as ONE batch over the same input: same corpus keep-set, and the
    summed funnel equals the batch gate's per-stage counts computed
    directly with the shared operators."""
    from pyspark.sql import functions as F

    from vector_db_light_spark.operators.textstats import (
        CORPUS_GATE_GOPHER,
        c4_line_rules,
        gopher_rules,
        pii_scrubbed_text,
    )
    from vector_db_light_spark.streaming.curation import _admission_gate

    src = str(tmp_path / "incoming")
    corpus = str(tmp_path / "curated")
    bands = str(tmp_path / "bands")
    ckpt = str(tmp_path / "ckpt")
    funnel = str(tmp_path / "funnel")

    all_rows = []
    for rows in _ADMISSION_BATCHES:
        all_rows += rows
        spark.createDataFrame(rows, "doc_id bigint, text string").write.mode(
            "append"
        ).parquet(src)
        _drain_admission(spark, src, corpus, bands, ckpt, funnel)
    # idle restart: nothing new to drain, nothing may change
    before = sorted(r["doc_id"] for r in spark.read.parquet(corpus).collect())
    _drain_admission(spark, src, corpus, bands, ckpt, funnel)
    after = sorted(r["doc_id"] for r in spark.read.parquet(corpus).collect())
    assert before == after

    # batch reference: the same gate + dedup engine over the WHOLE input
    # as one batch (arrival order == id order, near-dup classes are
    # pairs/cliques, so first-arrival == min-id cluster-canonical)
    full = spark.createDataFrame(all_rows, "doc_id bigint, text string")
    ref_corpus = str(tmp_path / "ref_curated")
    ref_bands = str(tmp_path / "ref_bands")
    from vector_db_light_spark.operators.dedup import MAX_BAND_DF

    gated, _, _ = _admission_gate(full)
    _curate_into(gated, ref_corpus, ref_bands, 0.5, max_band_df=MAX_BAND_DF)
    ref_ids = sorted(
        r["doc_id"] for r in spark.read.parquet(ref_corpus).collect()
    )
    assert after == ref_ids
    # the planted classes actually exercised every stage
    assert 2 in after          # PII doc admitted (scrubbed)
    assert 3 not in after and 13 not in after   # C4 drops
    assert 4 not in after      # Gopher drop
    assert 5 not in after and 11 not in after   # exact dups
    assert 21 not in after     # near dup vs corpus
    # corpus text is the SCRUBBED text — no raw PII downstream of the gate
    t2 = spark.read.parquet(corpus).filter(F.col("doc_id") == 2).collect()[0][
        "text"
    ]
    assert "[EMAIL]" in t2 and "jane.roe" not in t2

    # per-stage funnel: summed streamed ledger == batch-operator counts
    fun = spark.read.parquet(funnel)
    sums = fun.agg(
        *[
            F.sum(c).alias(c)
            for c in (
                "n_input",
                "n_c4_dropped",
                "n_gopher_dropped",
                "n_gate_survivors",
                "n_admitted",
            )
        ]
    ).collect()[0]
    scrub_full = full.select(
        "doc_id", pii_scrubbed_text("text").alias("text")
    )
    c4_kept = c4_line_rules(scrub_full).filter(
        F.col("drop_reason") == "kept"
    )
    g_kept = gopher_rules(
        scrub_full.join(c4_kept.select("doc_id"), "doc_id", "left_semi"),
        **CORPUS_GATE_GOPHER,
    ).filter(F.col("drop_reason") == "kept")
    n_full = full.count()
    n_c4_kept = c4_kept.count()
    n_g_kept = g_kept.count()
    assert sums["n_input"] == n_full
    assert sums["n_c4_dropped"] == n_full - n_c4_kept
    assert sums["n_gopher_dropped"] == n_c4_kept - n_g_kept
    assert sums["n_gate_survivors"] == n_g_kept
    assert sums["n_admitted"] == len(ref_ids)
    # replay idempotence of the ledger: one row per batch_id, idle restart
    # appended nothing
    ids = [r["batch_id"] for r in fun.select("batch_id").collect()]
    assert len(ids) == len(set(ids)) == len(_ADMISSION_BATCHES)


# ---------------------------------------------------------------------------
# Decontamination gate (r15): stream_corpus_admission with a frozen
# eval-set Bloom+dictionary artifact. Pins: (a) streamed == the same gate
# composition in batch form, (b) the POLICY — decontam runs BEFORE dedup,
# so a contaminated doc cannot shadow its clean near-duplicate out of the
# corpus via the min-id cluster-canonical choice, (c) the ledger counts,
# (d) a torn artifact (words/ absent) refuses to screen.
# ---------------------------------------------------------------------------

_E_EVAL = (
    "the canyon theta benchmark answers show seven hidden golden keys "
    "beneath ancient stone arches guarded by silent watchful owls"
)
_B_BENIGN = (
    "the meadow iota pasture feeds calm brown cattle beside low wooden "
    "fences where busy swallows loop through warm evening air"
)
_CORE6 = [_S0, _S1, _S2, _S10, _S12, _S20]


def _multi(lines):
    return "\n".join(s + "." for s in lines)


# 41 = six-sentence core + ONE eval line: 5 of its ~77 distinct 8-grams
# are eval grams (frac ~0.065 >= 0.05 -> contaminated). 42 = the SAME
# core + a benign tail line: J(41,42) ~ 0.74 >= 0.5 (an in-batch LSH
# near-dup pair with 41 as the min id), eval overlap 0.
_DECONTAM_BATCHES = [
    [
        (40, _page(_S0)),
        (41, _multi(_CORE6 + [_E_EVAL])),
        (42, _multi(_CORE6 + [_B_BENIGN])),
    ],
    [
        (50, _page(_S12)),
    ],
]


def _drain_admission_decontam(spark, src, corpus, bands, ckpt, funnel, eval_dir):
    from vector_db_light_spark.streaming.curation import stream_corpus_admission

    stream = spark.readStream.schema(
        spark.read.parquet(src).schema
    ).parquet(src)
    q = stream_corpus_admission(
        stream,
        corpus,
        bands,
        ckpt,
        jaccard_threshold=0.5,
        funnel_dir=funnel,
        eval_dir=eval_dir,
    )
    q.awaitTermination(180)


def test_stream_admission_decontam_gate(spark, tmp_path):
    from pyspark.sql import functions as F

    from vector_db_light_spark.operators.dedup import MAX_BAND_DF
    from vector_db_light_spark.streaming.curation import (
        _admission_gate,
        _decontam_gate,
        build_decontam_artifact,
    )

    src = str(tmp_path / "incoming")
    corpus = str(tmp_path / "curated")
    bands = str(tmp_path / "bands")
    ckpt = str(tmp_path / "ckpt")
    funnel = str(tmp_path / "funnel")
    eval_dir = str(tmp_path / "eval_artifact")

    eval_docs = spark.createDataFrame(
        [(1000, _page(_E_EVAL))], "doc_id bigint, text string"
    )
    build_decontam_artifact(eval_docs, eval_dir)

    all_rows = []
    for rows in _DECONTAM_BATCHES:
        all_rows += rows
        spark.createDataFrame(rows, "doc_id bigint, text string").write.mode(
            "append"
        ).parquet(src)
        _drain_admission_decontam(spark, src, corpus, bands, ckpt, funnel, eval_dir)
    # idle restart: nothing new, nothing changes
    before = sorted(r["doc_id"] for r in spark.read.parquet(corpus).collect())
    _drain_admission_decontam(spark, src, corpus, bands, ckpt, funnel, eval_dir)
    after = sorted(r["doc_id"] for r in spark.read.parquet(corpus).collect())
    assert before == after

    # the contaminated doc is out; its CLEAN near-dup is IN (the policy
    # pin: with decontam after dedup, 41 would doom 42 first and then be
    # rejected itself — neither would be admitted)
    assert 41 not in after
    assert 42 in after
    assert 40 in after and 50 in after

    # streamed == the same composition in batch form over the whole input
    full = spark.createDataFrame(all_rows, "doc_id bigint, text string")
    gated, _, _ = _admission_gate(full)
    gated = gated.localCheckpoint(eager=True)
    gated, n_bad = _decontam_gate(gated, eval_dir, 0.05)
    assert n_bad == 1
    ref_corpus = str(tmp_path / "ref_curated")
    ref_bands = str(tmp_path / "ref_bands")
    _curate_into(gated, ref_corpus, ref_bands, 0.5, max_band_df=MAX_BAND_DF)
    ref_ids = sorted(
        r["doc_id"] for r in spark.read.parquet(ref_corpus).collect()
    )
    assert after == ref_ids

    # ledger: the contamination count is visible and idempotent
    fun = spark.read.parquet(funnel)
    sums = fun.agg(
        F.sum("n_input").alias("n_input"),
        F.sum("n_contaminated").alias("n_contaminated"),
        F.sum("n_gate_survivors").alias("n_gate_survivors"),
        F.sum("n_admitted").alias("n_admitted"),
    ).collect()[0]
    assert sums["n_input"] == len(all_rows)
    assert sums["n_contaminated"] == 1
    assert sums["n_gate_survivors"] == len(all_rows) - 1  # nothing else drops
    assert sums["n_admitted"] == len(ref_ids)
    ids = [r["batch_id"] for r in fun.select("batch_id").collect()]
    assert len(ids) == len(set(ids)) == len(_DECONTAM_BATCHES)


def test_decontam_gate_refuses_torn_artifact(spark, tmp_path):
    import os

    import pytest

    from vector_db_light_spark.streaming.curation import _decontam_gate

    torn = str(tmp_path / "torn_artifact")
    os.makedirs(os.path.join(torn, "grams"))  # grams written, words absent
    docs = spark.createDataFrame([(1, "some text")], "doc_id bigint, text string")
    with pytest.raises(FileNotFoundError):
        _decontam_gate(docs, torn, 0.05)
