"""Streaming-tier timing probe (VERDICT r15 #5): drive the maintenance /
admission paths with real fixture-derived micro-batches and report wall
per batch, so gate/engine restructures have before/after evidence.

Paths probed (each in its own tmp state dir, availableNow drains):
  * text   — stream_corpus_admission over sf0.1 documents (B batches of N)
  * media  — stream_media_curate over the synthesized media corpus
  * image  — stream_image_admission over the PNG fixture slice
  * audio  — stream_audio_admission over the WAV fixture slice
  * maint  — stream_text_index_maintenance then stream_lm_maintenance
             over sf0.1 documents (B batches of N, the text batching)

Usage: python tools/stream_probe.py [text|media|image|audio|maint ...]
Env:   SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
       STREAM_PROBE_BATCHES (default 3), STREAM_PROBE_ROWS (default 1500
       text / 400 media rows per batch).

Timing is wall per drain (one micro-batch each), printed per batch plus
the total; state dirs are fresh per invocation so batch k always sees a
k-batch-sized persistent index (the steady-state shape, small-index
regime).
"""

from __future__ import annotations

import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
N_BATCHES = int(os.environ.get("STREAM_PROBE_BATCHES", "3"))
N_TEXT = int(os.environ.get("STREAM_PROBE_ROWS", "1500"))
N_MEDIA = int(os.environ.get("STREAM_PROBE_MEDIA_ROWS", "400"))
ROOT = "/tmp/vdl_stream_probe"


def _fresh(*names: str) -> list[str]:
    dirs = [os.path.join(ROOT, n) for n in names]
    for d in dirs:
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d, exist_ok=True)
    return dirs


def _drain(build_query) -> float:
    t0 = time.time()
    q = build_query()
    q.awaitTermination(600)
    return time.time() - t0


def probe_text(spark) -> list[float]:
    from pyspark.sql import functions as F

    from vector_db_light_spark.registry import load
    from vector_db_light_spark.streaming.curation import stream_corpus_admission

    src, corpus, bands, ckpt, funnel = _fresh(
        "t_src", "t_corpus", "t_bands", "t_ckpt", "t_funnel"
    )
    shutil.rmtree(ckpt, ignore_errors=True)  # spark owns this one
    docs = load(spark, SF_DIR, "documents").select("doc_id", "text")
    walls = []
    for b in range(N_BATCHES):
        batch = docs.filter(
            (F.col("doc_id") >= b * N_TEXT) & (F.col("doc_id") < (b + 1) * N_TEXT)
        )
        batch.write.mode("append").parquet(src)

        def start():
            stream = spark.readStream.schema(
                spark.read.parquet(src).schema
            ).parquet(src)
            return stream_corpus_admission(
                stream, corpus, bands, ckpt, jaccard_threshold=0.5,
                funnel_dir=funnel,
            )

        walls.append(_drain(start))
        print(f"  text batch {b}: {walls[-1]:.2f}s", flush=True)
    return walls


def probe_media(spark) -> list[float]:
    from pyspark.sql import functions as F

    from vector_db_light_spark.queries.pipeline import media_corpus
    from vector_db_light_spark.streaming.media import stream_media_curate

    src, corpus, frames, ckpt = _fresh("m_src", "m_corpus", "m_frames", "m_ckpt")
    shutil.rmtree(ckpt, ignore_errors=True)
    media = media_corpus(spark, SF_DIR).filter(F.col("media_type") == "video/mp4")
    walls = []
    for b in range(N_BATCHES):
        batch = media.filter(
            F.floor((F.col("doc_id") % (N_BATCHES * 7)) / 7) == b
        ).limit(N_MEDIA)
        batch.write.mode("append").parquet(src)

        def start():
            stream = spark.readStream.schema(
                spark.read.parquet(src).schema
            ).parquet(src)
            return stream_media_curate(stream, corpus, frames, ckpt)

        walls.append(_drain(start))
        print(f"  media batch {b}: {walls[-1]:.2f}s", flush=True)
    return walls


def probe_image(spark) -> list[float]:
    from pyspark.sql import functions as F

    from vector_db_light_spark.queries.pipeline import media_corpus
    from vector_db_light_spark.streaming.media import stream_image_admission

    src, idx, ckpt = _fresh("i_src", "i_idx", "i_ckpt")
    shutil.rmtree(ckpt, ignore_errors=True)
    media = media_corpus(spark, SF_DIR).filter(F.col("media_type") == "image/png")
    walls = []
    for b in range(N_BATCHES):
        batch = media.filter(
            F.floor((F.col("doc_id") % (N_BATCHES * 7)) / 7) == b
        ).limit(N_MEDIA)
        batch.write.mode("append").parquet(src)

        def start():
            stream = spark.readStream.schema(
                spark.read.parquet(src).schema
            ).parquet(src)
            return stream_image_admission(stream, idx, ckpt)

        walls.append(_drain(start))
        print(f"  image batch {b}: {walls[-1]:.2f}s", flush=True)
    return walls


def probe_audio(spark) -> list[float]:
    from pyspark.sql import functions as F

    from vector_db_light_spark.queries.pipeline import media_corpus
    from vector_db_light_spark.streaming.media import stream_audio_admission

    src, idx, ckpt = _fresh("a_src", "a_idx", "a_ckpt")
    shutil.rmtree(ckpt, ignore_errors=True)
    media = media_corpus(spark, SF_DIR).filter(F.col("media_type") == "audio/wav")
    walls = []
    for b in range(N_BATCHES):
        batch = media.filter(
            F.floor((F.col("doc_id") % (N_BATCHES * 7)) / 7) == b
        ).limit(N_MEDIA)
        batch.write.mode("append").parquet(src)

        def start():
            stream = spark.readStream.schema(
                spark.read.parquet(src).schema
            ).parquet(src)
            return stream_audio_admission(stream, idx, ckpt)

        walls.append(_drain(start))
        print(f"  audio batch {b}: {walls[-1]:.2f}s", flush=True)
    return walls


def probe_maint(spark) -> list[float]:
    from pyspark.sql import functions as F

    from vector_db_light_spark.registry import load
    from vector_db_light_spark.streaming.serving import (
        stream_lm_maintenance,
        stream_text_index_maintenance,
    )

    src, idx, lm, idx_ckpt, lm_ckpt = _fresh(
        "x_src", "x_idx", "x_lm", "x_idx_ckpt", "x_lm_ckpt"
    )
    shutil.rmtree(idx_ckpt, ignore_errors=True)
    shutil.rmtree(lm_ckpt, ignore_errors=True)
    docs = load(spark, SF_DIR, "documents").select("doc_id", "text")
    walls = []
    for b in range(N_BATCHES):
        batch = docs.filter(
            (F.col("doc_id") >= b * N_TEXT) & (F.col("doc_id") < (b + 1) * N_TEXT)
        )
        batch.write.mode("append").parquet(src)

        def stream():
            return spark.readStream.schema(
                spark.read.parquet(src).schema
            ).parquet(src)

        t_idx = _drain(lambda: stream_text_index_maintenance(stream(), idx, idx_ckpt))
        t_lm = _drain(lambda: stream_lm_maintenance(stream(), lm, lm_ckpt))
        walls.append(t_idx + t_lm)
        print(
            f"  maint batch {b}: {walls[-1]:.2f}s "
            f"(text index {t_idx:.2f}s, lm {t_lm:.2f}s)",
            flush=True,
        )
    return walls


def main() -> int:
    which = sys.argv[1:] or ["text", "media", "image", "audio", "maint"]
    from tools.query_profile import warm_up
    from vector_db_light_spark.session import get_spark

    spark = get_spark(app_name="vdl-stream-probe")
    spark.sparkContext.setLogLevel("ERROR")
    warm_up(spark, SF_DIR)
    totals = {}
    for name in which:
        fn = {"text": probe_text, "media": probe_media,
              "image": probe_image, "audio": probe_audio,
              "maint": probe_maint}[name]
        print(f"== {name} ==", flush=True)
        walls = fn(spark)
        totals[name] = round(sum(walls), 2)
    print("totals:", totals)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
