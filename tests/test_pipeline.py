"""Tests for the ingest -> embed pipeline, multimodal plumbing, and
Structured Streaming ingest."""

from __future__ import annotations

import math
import os

import pytest

from conftest import SF_SMOKE


def test_embedder_normalized_and_deterministic(spark):
    from vector_db_light_spark.functions.embedding import embed_documents

    docs = spark.createDataFrame(
        [(0, "join merge sort"), (1, "join merge sort"), (2, ""), (3, None)],
        "doc_id bigint, text string",
    )
    out = {r["doc_id"]: r for r in embed_documents(docs, dim=16).collect()}
    assert all(r["embed_error"] is None for r in out.values())
    v0, v1 = out[0]["embedding"], out[1]["embedding"]
    assert v0 == v1  # deterministic
    assert abs(math.sqrt(sum(x * x for x in v0)) - 1.0) < 1e-12
    assert out[2]["embedding"] == [0.0] * 16  # empty text -> zero vector
    assert out[3]["embedding"] == [0.0] * 16  # None text repaired (F7)


def test_encoder_factory_seam_swaps_models(spark):
    """V5 swap surface: a different encoder drops in through
    ``encoder_factory`` with ZERO pipeline changes — same mapInPandas
    scaffold, executor cache, batching, fallback. The lambda factory is
    cloudpickled by value, mirroring how a SentenceTransformer adapter
    ships to executors."""
    from vector_db_light_spark.functions.embedding import embed_documents

    docs = spark.createDataFrame(
        [(0, "alpha beta"), (1, ""), (2, None)], "doc_id bigint, text string"
    )
    # fake "model": dim-long constant vector scaled by token count
    factory = lambda dim: type(  # noqa: E731
        "TokenCountEnc",
        (),
        {
            "encode_one": lambda self, t: [float(len((t or "").split()))] * dim,
            "encode_batch": lambda self, ts: [self.encode_one(t) for t in ts],
        },
    )()
    out = {
        r["doc_id"]: r
        for r in embed_documents(docs, dim=4, encoder_factory=factory).collect()
    }
    assert out[0]["embedding"] == [2.0] * 4
    assert out[1]["embedding"] == [0.0] * 4
    assert out[2]["embedding"] == [0.0] * 4  # None repaired by the encoder
    assert all(r["embed_error"] is None for r in out.values())


def test_sentence_transformer_real_model_seam(spark):
    """The documented production swap (VERDICT r5 #8): identical pipeline,
    real model. Auto-skips here — this container has no torch — and runs
    wherever sentence_transformers is installed, proving the only change
    is the encoder class (functions/embedding.py::SentenceTransformerEmbedder,
    reference embedding_models.py:116-157)."""
    pytest.importorskip("sentence_transformers")
    from vector_db_light_spark.functions.embedding import (
        SentenceTransformerEmbedder,
        embed_documents,
    )

    model_name = "sentence-transformers/all-MiniLM-L6-v2"
    probe = SentenceTransformerEmbedder(model_name)
    docs = spark.createDataFrame(
        [(0, "spark is a distributed engine"), (1, "duckdb is in-process")],
        "doc_id bigint, text string",
    )
    out = {
        r["doc_id"]: r["embedding"]
        for r in embed_documents(
            docs,
            dim=probe.dim,
            encoder_factory=lambda dim: SentenceTransformerEmbedder(
                model_name, dim
            ),
        ).collect()
    }
    assert len(out[0]) == probe.dim
    norm = sum(x * x for x in out[0]) ** 0.5
    assert abs(norm - 1.0) < 1e-3  # normalize_embeddings=True


def test_ingest_parses_and_surfaces_errors(spark, tmp_path):
    from vector_db_light_spark.sources.ingest import ingest

    (tmp_path / "a.txt").write_text("hello world")
    (tmp_path / "b.html").write_text("<p>hi <b>there</b></p>")
    (tmp_path / "c.pdf").write_text("%PDF-fake")
    (tmp_path / "d.exe").write_text("not allowed")  # extension-filtered (F4)
    rows = {r["file_name"]: r for r in ingest(spark, str(tmp_path)).collect()}
    assert set(rows) == {"a.txt", "b.html", "c.pdf"}
    assert rows["a.txt"]["text"] == "hello world"
    assert rows["a.txt"]["parse_error"] is None
    assert "hi" in rows["b.html"]["text"] and "<b>" not in rows["b.html"]["text"]
    assert rows["c.pdf"]["text"] is None
    # junk pdf: the stdlib extractor finds no text streams -> parse_error
    assert "no extractable text" in rows["c.pdf"]["parse_error"]
    assert rows["a.txt"]["hash"] and rows["a.txt"]["file_type"] == ".txt"


def test_stdlib_container_parsers_roundtrip():
    """docx/odt/epub/eml parse with the stdlib alone — no Spark needed.
    Exercises edges the driver fixture doesn't: multi-run docx paragraphs,
    odt headings, epub without an OPF (archive-order fallback), multipart
    eml with base64 transfer encoding, and html-only eml fallback."""
    import base64
    import io
    import zipfile

    from vector_db_light_spark.sources.ingest import (
        _parse_docx,
        _parse_eml,
        _parse_epub,
        _parse_odt,
    )

    # docx: two paragraphs, second split across runs
    buf = io.BytesIO()
    w = "http://schemas.openxmlformats.org/wordprocessingml/2006/main"
    with zipfile.ZipFile(buf, "w") as z:
        z.writestr(
            "word/document.xml",
            f'<w:document xmlns:w="{w}"><w:body>'
            "<w:p><w:r><w:t>Hello</w:t></w:r></w:p>"
            "<w:p><w:r><w:t>wor</w:t></w:r><w:r><w:t>ld</w:t></w:r></w:p>"
            "</w:body></w:document>",
        )
    assert _parse_docx(buf.getvalue()) == "Hello\n\nworld"

    # odt: heading + paragraph with a nested span
    buf = io.BytesIO()
    t = "urn:oasis:names:tc:opendocument:xmlns:text:1.0"
    with zipfile.ZipFile(buf, "w") as z:
        z.writestr(
            "content.xml",
            f'<doc xmlns:text="{t}"><text:h>Title</text:h>'
            "<text:p>Body <text:span>inline</text:span> end</text:p></doc>",
        )
    assert _parse_odt(buf.getvalue()) == "Title\n\nBody inline end"

    # epub without an OPF: chapters fall back to archive order
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        z.writestr("b.xhtml", "<html><body><p>second</p></body></html>")
        z.writestr("a.xhtml", "<html><body><p>first</p></body></html>")
    assert _parse_epub(buf.getvalue()) == "second\n\nfirst"

    # multipart eml: base64 text/plain wins over the html alternative
    body = "Nested payload, line one.\nLine two."
    eml = (
        "From: a@example.com\nSubject: multi\nMIME-Version: 1.0\n"
        'Content-Type: multipart/alternative; boundary="XYZ"\n\n'
        "--XYZ\nContent-Type: text/plain; charset=utf-8\n"
        "Content-Transfer-Encoding: base64\n\n"
        + base64.b64encode(body.encode()).decode()
        + "\n--XYZ\nContent-Type: text/html\n\n<p>ignored</p>\n--XYZ--\n"
    )
    assert _parse_eml(eml.encode()) == body

    # html-only eml: falls back to tag-stripped html
    eml2 = (
        "From: a@example.com\nContent-Type: text/html\n\n<p>only html</p>"
    )
    assert "only html" in _parse_eml(eml2.encode())
    assert "<p>" not in _parse_eml(eml2.encode())


def test_register_parser_plugs_into_pipeline(spark, tmp_path):
    """S2 pluggability: installing a parser for an extension (here a fake
    .pdf text-extractor standing in for PyMuPDF) flows through ingest with
    no pipeline changes, and the parse_error contract stays intact for the
    still-unregistered heavy formats. The dispatch snapshot is per-plan, so
    restoring the default afterwards cannot leak into other tests."""
    from vector_db_light_spark.sources.ingest import (
        PARSERS,
        ingest,
        register_parser,
    )

    (tmp_path / "doc.pdf").write_text("%PDF-fake payload")
    (tmp_path / "sheet.xlsx").write_text("binary-ish")
    before = PARSERS[".pdf"]
    register_parser(".pdf", lambda b: "PDF::" + b.decode("utf-8", "replace"))
    try:
        rows = {r["file_name"]: r for r in ingest(spark, str(tmp_path)).collect()}
    finally:
        register_parser(".pdf", before)
    assert rows["doc.pdf"]["parse_error"] is None
    assert rows["doc.pdf"]["text"] == "PDF::%PDF-fake payload"
    # junk xlsx: the stdlib SpreadsheetML parser rejects the bytes
    assert "BadZipFile" in rows["sheet.xlsx"]["parse_error"]

    # a brand-new extension becomes allowed on registration
    register_parser(".zzz", lambda b: "Z")
    try:
        (tmp_path / "x.zzz").write_text("anything")
        got = {r["file_name"]: r for r in ingest(spark, str(tmp_path)).collect()}
        assert got["x.zzz"]["text"] == "Z"
    finally:
        from vector_db_light_spark.sources.ingest import ALLOWED_EXTS
        PARSERS.pop(".zzz", None)
        ALLOWED_EXTS.discard(".zzz")


def test_multimodal_meta_real_png_decode(spark):
    from vector_db_light_spark.operators.multimodal import (
        attach_payload,
        extract_media_meta,
    )

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").filter("doc_id < 16")
    meta = {r["doc_id"]: r for r in extract_media_meta(attach_payload(docs)).collect()}
    assert {r["media_type"] for r in meta.values()} == {
        "image/png", "audio/wav", "video/mp4", "image/jpeg"
    }
    for doc_id, r in meta.items():
        assert r["n_bytes"] > 0 and len(r["sha256"]) == 64
        if r["media_type"] == "image/png":
            # REAL dims parsed from real IHDR bytes == the fixture formula
            assert r["decode_error"] is None
            assert r["width"] == 8 + doc_id % 9
            assert r["height"] == 8 + doc_id % 7
        elif r["media_type"] == "image/jpeg":
            # REAL dims parsed from a real SOF0 header via the full
            # baseline Huffman+IDCT decode
            assert r["decode_error"] is None
            assert r["width"] == 8 * (1 + (doc_id // 4) % 2)
            assert r["height"] == 8 * (1 + (doc_id // 4) % 3)
        elif r["media_type"] == "video/mp4":
            # REAL dims parsed from a real ISO BMFF tkhd box
            assert r["decode_error"] is None
            assert r["width"] == 16 * (1 + doc_id % 3)
            assert r["height"] == 16 * (1 + doc_id % 5)
        else:
            assert r["width"] is None


def test_multimodal_meta_malformed_png_lands_in_decode_error(spark):
    from vector_db_light_spark.operators.multimodal import extract_media_meta

    media = spark.createDataFrame(
        [(1, "image/png", bytearray(b"\x89PNG\r\n\x1a\nnot-a-chunk"))],
        "doc_id bigint, media_type string, payload binary",
    )
    row = extract_media_meta(media).collect()[0]
    assert row["width"] is None and row["decode_error"]


def test_multimodal_resize_and_frame_sample(spark):
    import hashlib

    from vector_db_light_spark.operators.multimodal import (
        attach_payload,
        resize_images,
        sample_frames,
    )

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").filter("doc_id < 12")
    media = attach_payload(docs)

    resized = {r["doc_id"]: r for r in resize_images(media, 8, 4).collect()}
    originals = {r["doc_id"]: r for r in media.collect()}
    for doc_id, r in resized.items():
        assert r["resize_error"] is None
        if r["media_type"] == "image/png":
            assert (r["width"], r["height"]) == (8, 4)
            out = bytes(r["payload"])
            assert len(out) == 8 * 4  # bitmap tracks target
            # real decode + integer nearest-neighbour over the md5 fixture
            # pixels: spot-check output pixel (x, y) = (2, 3)
            w0, h0 = 8 + doc_id % 9, 8 + doc_id % 7
            sx, sy = (2 * w0) // 8, (3 * h0) // 4
            expect = hashlib.md5(f"{doc_id}:{sy}".encode()).digest()[sx]
            assert out[3 * 8 + 2] == expect
        elif r["media_type"] == "image/jpeg":
            assert (r["width"], r["height"]) == (8, 4)
            out = bytes(r["payload"])
            assert len(out) == 8 * 4
            # lossless constant-even-block island: spot-check (2, 3)
            w0 = 8 * (1 + (doc_id // 4) % 2)
            h0 = 8 * (1 + (doc_id // 4) % 3)
            bx, by = ((2 * w0) // 8) // 8, ((3 * h0) // 4) // 8
            expect = 2 * (
                hashlib.md5(f"{doc_id}:{bx}:{by}".encode()).digest()[0] % 128
            )
            assert out[3 * 8 + 2] == expect
        else:  # non-images pass through untouched
            assert r["width"] is None
            assert bytes(r["payload"]) == bytes(originals[doc_id]["payload"])

    frames = sample_frames(media, every_n=2).collect()
    assert frames, "videos in the first 12 docs should produce frames"
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    by_doc: dict[int, list] = {}
    for r in frames:
        assert r["frame_error"] is None and len(bytes(r["frame_payload"])) == 64
        by_doc.setdefault(r["doc_id"], []).append(r)
    for doc_id, rows in by_doc.items():
        assert originals[doc_id]["media_type"] == "video/mp4"  # video-only fan-out
        assert [r["frame_idx"] for r in sorted(rows, key=lambda r: r["frame_idx"])] == list(range(len(rows)))
        # REAL demux: the sampled payloads are the exact byte ranges the
        # sample tables point at — the fixture frames baked from the text
        tb = texts[doc_id].encode("utf-8")
        n_frames = len(tb) // 64
        assert len(rows) == len(range(0, n_frames, 2))
        first = min(rows, key=lambda r: r["frame_idx"])
        assert bytes(first["frame_payload"]) == hashlib.md5(tb + b"#frame0").digest() * 4


def test_multimodal_audio_features(spark):
    import hashlib

    from vector_db_light_spark.operators.multimodal import (
        attach_payload,
        extract_audio_features,
    )

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").filter("doc_id < 12")
    media = attach_payload(docs)
    feats = extract_audio_features(media, window=32).collect()
    assert feats, "audio rows in the first 12 docs should produce windows"
    seen = set()
    for r in feats:
        doc_id = r["doc_id"]
        seen.add(doc_id)
        assert r["feature_error"] is None
        n_samples = 32 * (2 + doc_id % 4)
        assert r["n_windows"] == n_samples // 32
        w = r["window_idx"]
        # REAL decode contract: energy = exact sum of squares of the
        # md5-derived 16-bit samples recovered from the WAV container
        expected = sum(
            (int(hashlib.md5(f"{doc_id}:{i}".encode()).hexdigest()[:4], 16) - 32768) ** 2
            for i in range(w * 32, (w + 1) * 32)
        )
        assert r["energy"] == expected
    assert seen == {1, 5, 9}


def test_stream_ingest_incremental(spark, tmp_path):
    from vector_db_light_spark.streaming.ingest import stream_ingest

    src = tmp_path / "src"
    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    src.mkdir()
    (src / "one.txt").write_text("alpha beta gamma " * 30)

    q = stream_ingest(spark, str(src), str(out), str(ckpt), chunk_size=100)
    q.awaitTermination(120)
    first = spark.read.parquet(str(out))
    n1 = first.count()
    assert n1 > 0
    assert {"chunk_id", "chunk_text", "embedding", "file_path"} <= set(first.columns)

    # second run picks up ONLY the new file (checkpointed exactly-once)
    (src / "two.txt").write_text("delta epsilon " * 40)
    q2 = stream_ingest(spark, str(src), str(out), str(ckpt), chunk_size=100)
    q2.awaitTermination(120)
    both = spark.read.parquet(str(out))
    n2 = both.count()
    assert n2 > n1
    paths = [r["file_path"] for r in both.select("file_path").distinct().collect()]
    assert len(paths) == 2


def test_streaming_windowed_counts_matches_batch(spark, tmp_path):
    import pyspark.sql.functions as F

    from vector_db_light_spark.registry import load_events
    from vector_db_light_spark.streaming.ingest import windowed_event_counts

    events = load_events(spark, SF_SMOKE).limit(500)
    src = str(tmp_path / "events_src")
    events.write.parquet(src)

    stream = spark.readStream.schema(
        spark.read.parquet(src).schema
    ).parquet(src)
    agg = windowed_event_counts(stream, window="1 hour", watermark="2 hours")
    q = (
        agg.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["window_start"], r["event_type"]): (r["n"], r["total_value"])
        for r in spark.sql("SELECT * FROM win_counts").collect()
    }
    batch = (
        spark.read.parquet(src)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("tv"))
        .select(F.col("w.start").alias("ws"), "event_type", "n", "tv")
    )
    want = {
        (r["ws"], r["event_type"]): (r["n"], r["tv"]) for r in batch.collect()
    }
    assert got == want and len(got) > 0


def test_watermark_drops_late_events(spark, tmp_path):
    """§2.8 late-data semantics: append-mode windowed agg emits a window once
    the watermark passes it; a later row for that window is DROPPED, not
    merged (watermark contract)."""
    import datetime as dt

    from vector_db_light_spark.streaming.ingest import windowed_event_counts

    src = str(tmp_path / "src")

    def write(rows):
        spark.createDataFrame(
            rows, "event_id bigint, ts timestamp, user_id bigint, "
                  "event_type string, value double"
        ).write.mode("append").parquet(src)

    t = dt.datetime(2024, 1, 1, 10, 30)
    write([(0, t, 1, "click", 1.0)])
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    agg = windowed_event_counts(stream, window="1 hour", watermark="0 seconds")
    q = (
        agg.writeStream.format("memory")
        .queryName("late_t")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        # advance the watermark past 11:00, closing the [10:00, 11:00) window
        write([(1, dt.datetime(2024, 1, 1, 12, 0), 1, "click", 1.0)])
        q.processAllAvailable()
        # late row for the ALREADY-CLOSED window -> dropped
        write([(2, dt.datetime(2024, 1, 1, 10, 45), 1, "click", 1.0)])
        q.processAllAvailable()
        rows = {
            r["window_start"].hour: r["n"]
            for r in spark.sql("SELECT * FROM late_t").collect()
        }
        assert rows.get(10) == 1  # late event did NOT bump the count
    finally:
        q.stop()


def test_parse_xlsx_rtf_enex_pdf_stdlib():
    """The round-6 second parser wave: xlsx/xlsm (SpreadsheetML), rtf
    (state machine), enex (ENML notes) and basic pdf (stream scan + zlib +
    show operators with [[pageN]] markers) — stdlib only."""
    import io
    import zipfile
    import zlib

    from vector_db_light_spark.sources.ingest import (
        _parse_enex,
        _parse_pdf,
        _parse_rtf,
        _parse_xlsx,
    )

    # xlsx: shared + inline + numeric cells over two rows
    ns = 'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
    shared = (
        f'<sst {ns}><si><t>name</t></si>'
        f"<si><t>spark</t><t> engine</t></si></sst>"
    )
    sheet = (
        f'<worksheet {ns}><sheetData>'
        '<row><c t="s"><v>0</v></c><c><v>42</v></c></row>'
        '<row><c t="s"><v>1</v></c>'
        '<c t="inlineStr"><is><t>inline</t></is></c></row>'
        "</sheetData></worksheet>"
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        z.writestr("xl/sharedStrings.xml", shared)
        z.writestr("xl/worksheets/sheet1.xml", sheet)
    assert _parse_xlsx(buf.getvalue()) == "name\t42\nspark engine\tinline"

    # rtf: font table skipped, \par newline, hex + unicode escapes decoded
    rtf = (
        rb"{\rtf1\ansi{\fonttbl{\f0 Arial;}}Hello \b bold\b0 world\par "
        rb"caf\'e9 \u8212?dash}"
    )
    out = _parse_rtf(rtf)
    assert "Hello" in out and "boldworld" in out  # delimiter spaces consumed
    assert "Arial" not in out
    assert "café" in out and "—dash" in out
    assert out.count("\n") == 1

    # rtf non-BMP: surrogate-pair \uN escapes merge into the real code
    # point; an unpaired surrogate becomes U+FFFD — output always utf-8
    # encodable (ADVICE r6: a lone surrogate failed the Arrow boundary)
    emoji = _parse_rtf(rb"{\rtf1 hi \u-10179?\u-8704? there \u-10179? x}")
    emoji.encode("utf-8")
    assert "\U0001F600" in emoji and "\ufffd" in emoji

    # enex: two notes, ENML tags stripped, titles kept
    enex = (
        "<en-export><note><title>First</title>"
        "<content><![CDATA[<en-note><div>body one</div></en-note>]]></content>"
        "</note><note><title>Second</title>"
        "<content><![CDATA[<en-note>body two</en-note>]]></content>"
        "</note></en-export>"
    ).encode()
    assert _parse_enex(enex) == "First\nbody one\n\nSecond\nbody two"

    # pdf: page 1 uncompressed Tj, page 2 Flate-compressed TJ array with
    # an escaped paren
    p1 = b"BT (Hello \\(PDF\\)) Tj ET"
    p2 = zlib.compress(b"BT [(World) -2 (again)] TJ ET")
    pdf = (
        b"%PDF-1.4\n1 0 obj\n<< /Length 99 >>\nstream\n" + p1
        + b"\nendstream\nendobj\n2 0 obj\n<< /Filter /FlateDecode >>\nstream\n"
        + p2 + b"\nendstream\nendobj\n%%EOF"
    )
    assert _parse_pdf(pdf) == "[[page1]]Hello (PDF)[[page2]]World again"


def test_pdf_end_to_end_page_aware_chunking(spark, tmp_path):
    """A real .pdf file now flows through create_database's pdf branch:
    parsed by the stdlib extractor, page markers drive the page-aware
    overlap chunker (F5/S3), and the pages land in citations."""
    import zlib

    from vector_db_light_spark.api import VectorDatabaseManager

    body1 = "spark runs distributed queries over parquet. " * 8
    body2 = "page two talks about catalyst optimization. " * 8
    stream1 = f"BT ({body1}) Tj ET".encode("latin-1")
    stream2 = zlib.compress(f"BT ({body2}) Tj ET".encode("latin-1"))
    pdf = (
        b"%PDF-1.4\nstream\n" + stream1 + b"\nendstream\nstream\n"
        + stream2 + b"\nendstream\n%%EOF"
    )
    src = tmp_path / "pdfdocs"
    src.mkdir()
    (src / "doc.pdf").write_bytes(pdf)

    mgr = VectorDatabaseManager(spark, str(tmp_path / "dbs"))
    mgr.create_database("pdfkb", str(src), chunk_size=200, chunk_overlap=50)
    emb = mgr.read_table("pdfkb", "embeddings")
    rows = emb.collect()
    assert rows
    pages = {r["page"] for r in rows if "page" in r.asDict()}
    texts = " ".join(r["chunk_text"] for r in rows)
    assert "catalyst" in texts
    if pages:
        assert {1, 2} <= pages


def _build_cfb_msg(subject: str, body: str) -> bytes:
    """Hand-assemble a minimal valid CFB/OLE2 .msg: the UTF-16 body is
    padded past the 4096-byte mini cutoff (regular FAT chain) while the
    subject stays small (mini-FAT + root mini-stream) — both reader paths
    exercised by one file."""
    import struct

    END, FREE, FATSECT = 0xFFFFFFFE, 0xFFFFFFFF, 0xFFFFFFFD
    subj_b = subject.encode("utf-16-le")
    body_b = body.encode("utf-16-le")
    if len(body_b) < 4096:
        body_b += " ".encode("utf-16-le") * ((4096 - len(body_b)) // 2 + 1)
    n_body_sects = (len(body_b) + 511) // 512

    # sectors: 0=FAT 1=dir 2=miniFAT 3=mini-stream 4..=body
    fat = [FREE] * 128
    fat[0] = FATSECT
    fat[1] = END          # directory
    fat[2] = END          # mini-FAT
    fat[3] = END          # mini stream container
    for i in range(n_body_sects):
        fat[4 + i] = 4 + i + 1 if i < n_body_sects - 1 else END

    minifat = [FREE] * 128
    minifat[0] = END      # subject occupies mini sector 0 (and maybe more)
    n_mini = (len(subj_b) + 63) // 64
    for i in range(n_mini):
        minifat[i] = i + 1 if i < n_mini - 1 else END

    def dirent(name, etype, start, size, left=FREE, right=FREE, child=FREE):
        nm = name.encode("utf-16-le") + b"\x00\x00"
        e = bytearray(128)
        e[0:len(nm)] = nm
        struct.pack_into("<H", e, 64, len(nm))
        e[66] = etype
        e[67] = 1  # black
        struct.pack_into("<III", e, 68, left, right, child)
        struct.pack_into("<I", e, 116, start)
        struct.pack_into("<Q", e, 120, size)
        return bytes(e)

    mini_stream_size = n_mini * 64
    directory = b"".join(
        [
            dirent("Root Entry", 5, 3, mini_stream_size, child=1),
            dirent("__substg1.0_0037001F", 2, 0, len(subj_b), right=2),
            dirent("__substg1.0_1000001F", 2, 4, len(body_b)),
            bytes(128),
        ]
    )

    header = bytearray(512)
    header[0:8] = b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1"
    # MS-CFB 2.2 field order: minor version @24, major @26, byte order @28
    struct.pack_into("<H", header, 24, 0x003E)   # minor version
    struct.pack_into("<H", header, 26, 0x0003)   # major
    struct.pack_into("<H", header, 28, 0xFFFE)   # byte order
    struct.pack_into("<HH", header, 30, 9, 6)    # sector/mini shifts
    struct.pack_into("<I", header, 44, 1)        # number of FAT sectors
    struct.pack_into("<I", header, 48, 1)        # first directory sector
    struct.pack_into("<I", header, 56, 4096)     # mini cutoff
    struct.pack_into("<II", header, 60, 2, 1)    # first miniFAT, count
    struct.pack_into("<II", header, 68, END, 0)  # first DIFAT, count
    struct.pack_into("<109I", header, 76, *([0] + [0xFFFFFFFF] * 108))

    mini_container = subj_b + bytes(512 - len(subj_b) % 512 if len(subj_b) % 512 else 0)
    body_padded = body_b + bytes(n_body_sects * 512 - len(body_b))
    return bytes(header) + struct.pack("<128I", *fat) + directory \
        + struct.pack("<128I", *minifat) + mini_container[:512] + body_padded


def test_parse_msg_cfb_stdlib(spark, tmp_path):
    """.msg via the minimal CFB reader: subject from the mini stream,
    UTF-16 body from the regular FAT chain; junk bytes surface
    parse_error; end-to-end through ingest."""
    from vector_db_light_spark.sources.ingest import _parse_msg, ingest

    subject = "Quarterly report"
    body = "The cluster processed all partitions without spill. " * 40
    blob = _build_cfb_msg(subject, body)
    out = _parse_msg(blob)
    assert out.startswith(subject + "\n\n")
    assert "without spill" in out

    import pytest as _pytest

    with _pytest.raises(ValueError):
        _parse_msg(b"not an ole file at all")

    src = tmp_path / "maildir"
    src.mkdir()
    (src / "note.msg").write_bytes(blob)
    (src / "legacy.xls").write_bytes(b"\x09\x08junk")
    rows = {r["file_name"]: r for r in ingest(spark, str(src)).collect()}
    assert rows["note.msg"]["parse_error"] is None
    assert "Quarterly report" in rows["note.msg"]["text"]
    assert rows["legacy.xls"]["parse_error"] is not None


def test_parse_xls_biff8_stdlib(spark, tmp_path):
    """Real BIFF8 .xls through the stdlib CFB + record parser: SST strings,
    RK ints (incl. negative), NUMBER doubles, two sheets in BOUNDSHEET
    order, end-to-end via ingest (the last of the reference's 15 formats,
    document_processor.py:140-180)."""
    from vector_db_light_spark.queries.pipeline import _write_xls
    from vector_db_light_spark.sources.ingest import _parse_xls, ingest

    p = tmp_path / "report.xls"
    _write_xls(
        str(p),
        [[["Region", "Total"], ["north", 42], [-7, 3.25]], [["Part two."]]],
    )
    out = _parse_xls(p.read_bytes())
    assert out == "Region\tTotal\nnorth\t42\n-7\t3.25\n\nPart two."

    rows = {r["file_name"]: r for r in ingest(spark, str(tmp_path)).collect()}
    assert rows["report.xls"]["parse_error"] is None
    assert rows["report.xls"]["text"] == out

    import pytest as _pytest

    with _pytest.raises(ValueError):
        _parse_xls(b"\x09\x08junk, not a compound file")


def test_parse_xls_sst_continue_records():
    """SST strings split across CONTINUE records reassemble correctly:
    record boundaries mid-string re-state the grbit (a string can switch
    compressed/UTF-16 across the boundary, [MS-XLS] 2.5.293) — raw payload
    concatenation would mis-decode these."""
    from vector_db_light_spark.queries.pipeline import _sst_records
    from vector_db_light_spark.sources.ingest import _parse_sst

    strings = ["x" * 3000, "émoji ünïcode " * 400, "y" * 5000, "tail"]
    recs = _sst_records(strings)
    assert len(recs) > 1  # really split
    assert _parse_sst(recs) == strings
    # boundary sweep (review r8): walk the record split across the 3-byte
    # string header so the continuation begins anywhere from mid-header to
    # exactly at the character data — the 'header ended the record' case
    # previously skipped the restated grbit and mis-decoded
    for pad in range(8206, 8216):
        case = ["a" * pad, "bb", "é" * 2]
        assert _parse_sst(_sst_records(case)) == case, pad


def test_parse_pdf_hex_show_strings():
    """PDF hex show operators (<hex> Tj, hex entries inside TJ arrays):
    whitespace and odd-length padding per spec 7.3.4.3; CID-looking
    binary hex (mostly unprintable) is discarded by the printability
    gate instead of emitting mojibake."""
    import zlib

    from vector_db_light_spark.sources.ingest import _parse_pdf

    def pdf(body: bytes) -> bytes:
        return b"%PDF-1.4\nstream\n" + body + b"\nendstream\ntrailer"

    assert _parse_pdf(pdf(b"BT <48656C6C6F> Tj ET")) == "[[page1]]Hello"
    assert _parse_pdf(pdf(b"BT <48 69> Tj ET")) == "[[page1]]Hi"
    assert (
        _parse_pdf(pdf(b"BT [(We) -10 <2068657821>] TJ ET"))
        == "[[page1]]We  hex!"
    )
    # odd-length hex pads a trailing zero nibble: <48656C6C6F2> -> 'Hello '
    assert _parse_pdf(pdf(b"BT <48656C6C6F2> Tj ET")) == "[[page1]]Hello "
    z = zlib.compress(b"BT <5A6970> Tj ET")
    assert (
        _parse_pdf(b"%PDF-1.4\nstream\n" + z + b"\nendstream")
        == "[[page1]]Zip"
    )
    # 2-byte-CID-style hex decodes to unprintable bytes -> whole file is
    # "no extractable text", not garbage text
    import pytest

    with pytest.raises(ValueError):
        _parse_pdf(pdf(b"BT <00010002000300040005> Tj ET"))


def _lzw_encode_earlychange(data: bytes) -> bytes:
    """Minimal PDF-convention LZW encoder (EarlyChange=1: code width grows
    one code early) — test twin for sources/ingest._pdf_lzw."""
    table = {bytes([i]): i for i in range(256)}
    nxt, width = 258, 9
    acc, nbits = 0, 0

    def emit(code):
        nonlocal acc, nbits
        acc = (acc << width) | code
        nbits += width

    emit(256)
    w = b""
    for ch in data:
        c = bytes([ch])
        if w + c in table:
            w += c
            continue
        emit(table[w])
        table[w + c] = nxt
        nxt += 1
        if nxt + 1 >= (1 << width) and width < 12:
            width += 1
        w = c
    if w:
        emit(table[w])
    emit(257)
    if nbits % 8:
        pad = 8 - nbits % 8
        acc <<= pad
        nbits += pad
    return acc.to_bytes(nbits // 8, "big")


def test_parse_pdf_filter_chain_a85_hex_lzw():
    """ASCII85 (+Flate), ASCIIHex, and LZW-encoded content streams all
    extract; the LZW roundtrip crosses the 9->10 bit width boundary
    (early-change convention), which a short input never exercises."""
    import base64
    import zlib

    from vector_db_light_spark.sources.ingest import _parse_pdf, _pdf_lzw

    def pdf(body: bytes) -> bytes:
        return b"%PDF-1.4\nstream\n" + body + b"\nendstream\ntrailer"

    content = b"BT (Filters!) Tj ET"
    assert _parse_pdf(pdf(base64.a85encode(content) + b"~>")) == "[[page1]]Filters!"
    assert (
        _parse_pdf(pdf(base64.a85encode(zlib.compress(content)) + b"~>"))
        == "[[page1]]Filters!"
    )
    assert _parse_pdf(pdf(content.hex().encode() + b">")) == "[[page1]]Filters!"
    assert _parse_pdf(pdf(_lzw_encode_earlychange(content))) == "[[page1]]Filters!"

    # long LZW payloads: cross the 9->10 and 10->11 bit width boundaries
    # (the decoder must widen one entry EARLIER than naive — the
    # early-change convention plus the decoder's one-entry lag)
    long = b" ".join(b"tok%d" % (i * 7919 % 1000) for i in range(600))
    assert _pdf_lzw(_lzw_encode_earlychange(long)) == long
    longer = b",".join(b"w%d" % (i * 31 % 2000) for i in range(1800))
    assert _pdf_lzw(_lzw_encode_earlychange(longer)) == longer
    body = b"BT (" + long[:40] + b") Tj ET" + long  # operators + bulk
    assert _parse_pdf(pdf(_lzw_encode_earlychange(body))).startswith("[[page1]]")


def test_image_dhash_incremental_equals_batch(spark):
    """r13 incremental perceptual dedup (r14 mask-aware): the band-index
    semi-join path's admission verdicts equal the QUADRATIC truth under
    the stopword-band policy — a batch image is a dup iff some index
    image is within Hamming 3 AND the pair shares at least one band
    whose batch-side value is carried by <= 8 images (rule 13: a
    corpus-hot band — the planted solid class's (0,0) — is featureless
    evidence and dooms nobody). For contentful images banding stays
    lossless by pigeonhole."""
    import pyspark.sql.functions as F

    from vector_db_light_spark.operators.multimodal import (
        dhash_words_expr,
        resize_images,
    )
    from vector_db_light_spark.queries.pipeline import _dhash_variant_corpus
    from vector_db_light_spark.registry import QUERIES

    sf = "/root/testdata/sf0.001"
    got = {
        (r["doc_id"], r["variant"]): r["admitted"]
        for r in QUERIES["image_dhash_incremental"](spark, sf).collect()
    }
    assert got

    media = _dhash_variant_corpus(spark, sf)
    idx_set = F.expr(
        "((doc_id div 4) % 8 = 0 AND doc_id % 4 = 0)"
        " OR ((doc_id div 4) % 8 = 4 AND doc_id % 4 = 3)"
    )
    bat_set = F.expr(
        "((doc_id div 4) % 8 = 0 AND doc_id % 4 IN (1, 2, 3))"
        " OR ((doc_id div 4) % 8 = 4 AND doc_id % 4 = 0)"
    )
    thumbs = resize_images(
        media.filter(idx_set | bat_set), 9, 8
    ).filter(F.col("resize_error").isNull())
    hx = thumbs.select(
        F.col("doc_id").alias("img_id"), F.lower(F.hex("payload")).alias("hx")
    )
    w0x, w1x = dhash_words_expr("hx", 9, 8)
    words = hx.select(
        "img_id", w0x.alias("w0"), w1x.alias("w1")
    ).localCheckpoint(eager=True)

    def bands(r):
        return (
            r["w0"] % 65536,
            r["w0"] // 65536,
            r["w1"] % 65536,
            r["w1"] // 65536,
        )

    allrows = words.collect()
    from collections import Counter

    df = [Counter(bands(r)[k] for r in allrows) for k in range(4)]
    idx_ids = {
        r["img_id"]
        for r in allrows
        if (r["img_id"] // 4) % 8 == 0 and r["img_id"] % 4 == 0
        or (r["img_id"] // 4) % 8 == 4 and r["img_id"] % 4 == 3
    }
    bx = [r for r in allrows if r["img_id"] in idx_ids]
    variant = {0: "orig", 1: "scaled", 2: "perturb", 3: "solid"}
    truth = {}
    for b in allrows:
        if b["img_id"] in idx_ids:
            continue
        bb = bands(b)
        dup = any(
            bin(b["w0"] ^ x["w0"]).count("1")
            + bin(b["w1"] ^ x["w1"]).count("1")
            <= 3
            and any(
                bb[k] == bands(x)[k] and df[k][bb[k]] <= 8
                for k in range(4)
            )
            for x in bx
        )
        truth[(b["img_id"] // 4, variant[b["img_id"] % 4])] = int(not dup)
    assert got == truth
    # the planted solid class is present and admitted by policy
    solids = [v for (d, var), v in got.items() if var == "solid"]
    assert solids and all(v == 1 for v in solids)
