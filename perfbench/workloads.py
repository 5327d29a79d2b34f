"""The benchmark's workloads. Each is a closed loop with one client: the
next operation starts only after the previous one returned.

A workload function receives a :class:`Ctx` and returns the report metrics
it owns; ``ctx.setup_s`` accumulates the set-up time it spends before its
timed loop.
"""

from __future__ import annotations

import math
import os
import statistics
import time
from dataclasses import dataclass, field

import gen

# The construction-heavy headline query of bench.py that runs here: the
# perceptron barrier chain, eager checkpoint builds run while the frame is
# built. Of the other eight, media_curation_pipeline, video_dhash_neardup,
# bm25_index_wand_topk and llm_corpus_pipeline keep build artifacts in fixed
# /tmp directories keyed by the input's fingerprint, which would write outside
# the benchmark's directory and carry warm state from one run into the next;
# curation_mix_manifest, dedup_minhash_lsh, bm25_wand_topk and kn_fluency_score
# do not fit the run budget.
CORPUS_BATCH = ("classifier_curation_pipeline",)

# Timed passes per run. Each op's figure is its floor, the minimum over the
# passes: a burst of host load during one pass then leaves the run's figures
# alone, where a single pass would carry it. One API cycle and one stream
# batch keep a run near 50 s, which the run budget of 48 runs needs.
QUERY_PASSES = 5
API_CYCLES = 1

# Input sizes. sf0.01 = 500 documents and 60,000 lineitem rows.
QUERY_SF = 0.01
API_BASE_FILES = 40
API_BATCH_FILES = 5
API_MAX_CYCLES = 8
SEARCH_ROUNDS = 2  # rounds of the four searches per cycle
API_CHUNK = (500, 100)
SEARCH_K = 5
STREAM_BATCHES = 1
STREAM_BATCH_DOCS = 200


@dataclass
class Ctx:
    spark: object
    tracer: object
    seed: int
    seconds: float
    traced: bool
    work: str  # scratch directory for inputs and outputs of this run
    setup_s: float = 0.0
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)
    layer: dict = field(default_factory=dict)  # extras for the report and layers

    def check(self, ok: bool, what: str) -> bool:
        """Count one output check; a failed one counts as a failed op."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(f"check failed: {what}")
        return ok

    def run_op(self, name: str, layer: str, fn):
        """Run one timed operation inside a span; return (seconds, result).
        An operation that raises counts as failed and returns (None, None)."""
        self.attempted += 1
        with self.tracer.span(name, layer) as sp:
            try:
                result = fn()
            except Exception as exc:  # noqa: BLE001 - counted, run goes on
                self.failed += 1
                self.errors.append(f"{name}: {type(exc).__name__}: {str(exc)[:200]}")
                return None, None
        return sp["end"] - sp["start"], result


def _pct(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..1) of a non-empty list."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


# -- registered queries -------------------------------------------------------

def _catalyst(df) -> dict:
    """Force the frame's physical plan and read its Catalyst phase times
    (ms) from the QueryExecution tracker."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        out[phase] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def _run_query(ctx: Ctx, name: str, data_dir: str, queries) -> float | None:
    """One timed query: construct (driver side) then write to the noop sink."""
    def body():
        with ctx.tracer.span("construct", "queries"):
            df = queries[name](ctx.spark, data_dir)
        if ctx.traced:
            with ctx.tracer.span("catalyst", "trace") as sp:
                sp["phases"] = _catalyst(df)
        with ctx.tracer.span("exec", "exec"):
            df.write.mode("overwrite").format("noop").save()

    return ctx.run_op(f"q:{name}", "op", body)[0]


def _check_pass(ctx: Ctx, names, data_dir: str, queries, oracles) -> None:
    """Set-up pass: run each query once, collecting its result, and compare
    it with its DuckDB oracle by ``driver_hash``. The Spark time counts as
    set-up (it warms the session); the oracle and the hashing do not."""
    import duckdb
    from driver_sim import TABLES, driver_hash

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    for name in names:
        with ctx.tracer.span(f"check:{name}", "setup") as sp:
            try:
                got = queries[name](ctx.spark, data_dir).toPandas()
            except Exception as exc:  # noqa: BLE001 - counted below
                got = exc
        ctx.setup_s += sp["end"] - sp["start"]
        if isinstance(got, Exception):
            ctx.check(False, f"{name}: {type(got).__name__}: {str(got)[:200]}")
            continue
        want = con.execute(oracles[name]).df()
        ok = sorted(got.columns) == sorted(want.columns) and len(got) == len(want)
        ctx.check(ok and driver_hash(got) == driver_hash(want), f"{name} vs oracle")
    con.close()


def _query_loop(ctx: Ctx, names, data_dir: str) -> dict[str, list[float]]:
    """Check pass, then the timed passes; returns each query's timings."""
    from vector_db_light_spark.registry import ORACLES, QUERIES

    _check_pass(ctx, names, data_dir, QUERIES, ORACLES)
    per_query: dict[str, list[float]] = {n: [] for n in names}
    t_end = time.time() + ctx.seconds
    p = 0
    while p < QUERY_PASSES or time.time() < t_end:
        order = gen.query_order(ctx.seed + 7919 * p, list(names))
        with ctx.tracer.span(f"pass:{p}", "pass"):
            for name in order:
                secs = _run_query(ctx, name, data_dir, QUERIES)
                if secs is not None:
                    per_query[name].append(secs)
        p += 1
    ctx.layer["per_op_s"] = {n: min(v) for n, v in per_query.items() if v}
    ctx.layer["check_s"] = {
        s["name"][6:]: s["end"] - s["start"]
        for s in ctx.tracer.spans if s["name"].startswith("check:")
    }
    return {n: v for n, v in per_query.items() if v}


def corpus_batch(ctx: Ctx) -> dict:
    """Repeated passes over the construction-heavy LLM-data capstone."""
    per_query = _query_loop(ctx, CORPUS_BATCH, os.path.join(ctx.work, "tables"))
    samples = [t for v in per_query.values() for t in v]
    out = {
        "pass_s": sum(min(v) for v in per_query.values()),
        "query_p50_s": statistics.median(samples),
        "n_samples": len(samples),
    }
    if ctx.traced:
        _stream_admission(ctx)
    return out


# -- streamed admission (traced run of corpus_batch) ------------------------------

def _stream_admission(ctx: Ctx) -> None:
    """Feed seeded micro-batches through stream_corpus_admission, draining
    each with an availableNow trigger, and check the admitted corpus."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from vector_db_light_spark.streaming.curation import stream_corpus_admission

    root = os.path.join(ctx.work, "stream")
    src = os.path.join(root, "incoming")
    os.makedirs(src)
    corpus = os.path.join(root, "corpus")
    drains, jobs_spans = [], []
    for b, rows in enumerate(gen.stream_batches(ctx.seed, STREAM_BATCHES, STREAM_BATCH_DOCS)):
        pq.write_table(
            pa.table({
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "text": [r[1] for r in rows],
            }),
            os.path.join(src, f"batch-{b:04d}.parquet"),
        )
        before = _snapshot(root)

        def drain():
            stream = ctx.spark.readStream.schema("doc_id bigint, text string").parquet(src)
            q = stream_corpus_admission(
                stream, corpus, os.path.join(root, "bands"),
                os.path.join(root, "ckpt"), funnel_dir=os.path.join(root, "funnel"),
            )
            q.awaitTermination(170)

        secs, _ = ctx.run_op(f"stream:{b}", "streaming", drain)
        files, nbytes = _written(before, _snapshot(root))
        drains.append({"s": secs, "files": files, "bytes": nbytes})
        jobs_spans.append(ctx.tracer.spans[-1]["id"])
    admitted = ctx.spark.read.parquet(corpus).select("doc_id", "text").toPandas()
    ctx.check(len(admitted) > 0, "streamed admission admitted no documents")
    ctx.check(admitted["text"].is_unique, "admitted corpus holds an exact duplicate")
    digest = corpus_digest(admitted)
    want = _recorded_stream_digests().get(str(ctx.seed))
    ctx.check(want is None or want == digest, f"admitted corpus {digest} != {want}")
    ctx.layer["stream_digest"] = digest
    ctx.layer["stream"] = {"drains": drains, "span_ids": jobs_spans}


def corpus_digest(df) -> str:
    """md5 over the admitted (doc_id, text) rows in doc_id order."""
    import hashlib

    h = hashlib.md5()
    for doc_id, text in sorted(zip(df["doc_id"].tolist(), df["text"].tolist())):
        h.update(f"{doc_id}\t{text}\n".encode())
    return h.hexdigest()


def _recorded_stream_digests() -> dict:
    import json

    path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected_stream.json")
    with open(path) as f:
        return json.load(f)


# -- index maintenance through the API ------------------------------------------

def _snapshot(root: str) -> dict:
    snap = {}
    for dirpath, _dirs, files in os.walk(root):
        for fn in files:
            p = os.path.join(dirpath, fn)
            try:
                st = os.stat(p)
            except OSError:
                continue
            snap[p] = (st.st_size, st.st_mtime_ns, st.st_ino)
    return snap


def _written(before: dict, after: dict) -> tuple[int, int]:
    """(files, bytes) present in ``after`` that are new or rewritten."""
    new = [p for p, sig in after.items() if before.get(p) != sig]
    return len(new), sum(after[p][0] for p in new)


def _dir_bytes(root: str) -> int:
    return sum(sig[0] for sig in _snapshot(root).values())


def _ordered(rows, col: str, descending: bool) -> bool:
    vals = [r[col] for r in rows]
    return vals == sorted(vals, reverse=descending)


def index_maintenance(ctx: Ctx) -> dict:
    """Writes beside reads through VectorDatabaseManager: each cycle adds a
    batch of files, runs rounds of one search of each kind, then deletes the
    batch. An untimed search afterwards checks the deleted file is gone."""
    from vector_db_light_spark.api import VectorDatabaseManager
    from vector_db_light_spark.sources.ingest import ingest

    inputs = gen.api_inputs(ctx.seed, API_BASE_FILES, API_MAX_CYCLES, API_BATCH_FILES)
    base_dir = os.path.join(ctx.work, "api_src", "base")
    gen.write_files(base_dir, inputs["base"], "base")
    base_bytes = _dir_bytes(base_dir)
    root = os.path.join(ctx.work, "dbs")
    db = "bench"

    mgr = VectorDatabaseManager(ctx.spark, root)
    size, overlap = API_CHUNK
    for name, fn in (
        ("api:create_database",
         lambda: mgr.create_database(db, base_dir, chunk_size=size, chunk_overlap=overlap)),
        ("api:build_ivf_index", lambda: mgr.build_ivf_index(db)),
        ("api:build_sign_sketch", lambda: mgr.build_sign_sketch(db)),
    ):
        secs, _ = ctx.run_op(name, "api", fn)
        ctx.setup_s += secs

    searches = (
        ("search", lambda q: mgr.search(db, q, k=SEARCH_K, score_threshold=0.0),
         "similarity", True),
        ("search_ann", lambda q: mgr.search_ann(db, q, k=SEARCH_K), None, None),
        ("search_bm25", lambda q: mgr.search_bm25(db, q, k=SEARCH_K),
         "bm25", True),
        ("search_hamming", lambda q: mgr.search_hamming(db, q, k=SEARCH_K),
         "distance", False),
    )
    adds, deletes, cycles, search_s = [], [], [], []
    by_kind: dict[str, list[float]] = {}
    io = {"files": 0, "bytes": 0}
    added_bytes = 0
    prev_phrase = None

    def write_op(name, fn, want, times):
        before = _snapshot(root)
        secs, n = ctx.run_op(f"api:{name}", "api", fn)
        ctx.check(n == want, f"{name} returned {n}, expected {want}")
        files, nbytes = _written(before, _snapshot(root))
        io["files"] += files
        io["bytes"] += nbytes
        if secs is not None:
            times.append(secs)
        return secs or 0.0

    t_end = time.time() + ctx.seconds
    c = 0
    while c < API_MAX_CYCLES and (c < API_CYCLES or time.time() < t_end):
        batch_dir = os.path.join(ctx.work, "api_src", f"add{c}")
        names = gen.write_files(batch_dir, inputs["batches"][c], f"c{c}_")
        added_bytes += _dir_bytes(batch_dir)
        phrase = inputs["phrases"][c]
        with ctx.tracer.span(f"cycle:{c}", "pass"):
            total = write_op("add_documents", lambda: mgr.add_documents(db, batch_dir),
                             len(names), adds)
            for kind, words in inputs["queries"][c] * SEARCH_ROUNDS:
                method, call, col, desc = searches[kind]
                query = words
                if method == "search_bm25":
                    # finds the just-added file; never the one deleted last cycle
                    query = phrase + (f" {prev_phrase}" if prev_phrase else "")
                secs, rows = ctx.run_op(f"api:{method}", "api",
                                        lambda: call(query).collect())
                if rows is None:
                    continue
                search_s.append(secs)
                by_kind.setdefault(method, []).append(secs)
                total += secs
                ctx.check(len(rows) <= SEARCH_K, f"{method} returned {len(rows)} rows")
                if col is not None:
                    ctx.check(_ordered(rows, col, desc), f"{method} not ranked by {col}")
                if method == "search_bm25":
                    texts = [r["chunk_text"] for r in rows]
                    ctx.check(any(phrase in t for t in texts),
                              f"added phrase {phrase} not found")
                    ctx.check(not prev_phrase or all(prev_phrase not in t for t in texts),
                              f"deleted phrase {prev_phrase} returned")
            total += write_op("delete_documents",
                              lambda: mgr.delete_documents(db, names), len(names), deletes)
        cycles.append(total)
        if ctx.traced:
            with ctx.tracer.span(f"ingest:{c}", "ingest") as sp:
                ingest(ctx.spark, batch_dir).write.mode("overwrite").format("noop").save()
            ctx.layer.setdefault("ingest", []).append(
                (sp["end"] - sp["start"], len(names)))
        prev_phrase = phrase
        c += 1

    try:
        rows = mgr.search_bm25(db, prev_phrase, k=SEARCH_K).collect()
        gone = all(prev_phrase not in r["chunk_text"] for r in rows)
    except Exception:  # noqa: BLE001 - counted as a failed check
        gone = False
    ctx.check(gone, f"deleted phrase {prev_phrase} returned after the last cycle")
    ctx.layer["api_io"] = io
    ctx.layer["per_op_s"] = {k: min(v) for k, v in by_kind.items()}
    return {
        "pass_s": min(cycles),
        "add_p50_s": statistics.median(adds),
        "delete_p50_s": statistics.median(deletes),
        "search_p50_s": statistics.median(search_s),
        "search_p90_s": _pct(search_s, 0.9),
        "write_amp": io["bytes"] / added_bytes,
        "space_amp": _dir_bytes(root) / base_bytes,
        "n_samples": len(search_s),
    }


WORKLOADS = {
    "corpus_batch": corpus_batch,
    "index_maintenance": index_maintenance,
}


def prepare_inputs(workload: str, seed: int, work: str) -> None:
    """Generate the inputs a workload reads before its session starts."""
    if workload == "corpus_batch":
        gen.make_tables(os.path.join(work, "tables"), seed, QUERY_SF)
