"""Every public top-level library ``def``/``class`` is reachable from an
entry point — a registered query (and registry.py), api.py, or a
``stream_*`` function — or is allowlisted below with its reason. Names are
resolved by name across modules (an over-approximation: a name shared by
two modules reaches both), and module-level code counts as reachable."""

from __future__ import annotations

import ast
import os

LIB = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "vector_db_light_spark")

ALLOWED = {
    "session.py:get_spark": "the session factory every entry point starts from",
    "obs.py:profile": "the per-query profile scope of tools/query_profile.py and plan_audit.py",
    "plans/explain.py:explain_string": "plan text for tools/plan_audit.py and query_profile.py",
    "plans/explain.py:assert_in_plan": "plan assertion the tests share",
    "plans/explain.py:assert_not_in_plan": "plan assertion the tests share",
    "operators/knn.py:knn_pandas": "reference model the Catalyst kNN fold is tested against",
    "operators/text_search.py:bm25_score_py": "reference model the BM25 scorers are tested against",
    "operators/text_search.py:bm25_wand_topk": "corpus-path WAND the index-path WAND is tested against",
    "operators/text_search.py:wand_pruning_stats": "WAND pruning counters measured by test_text_search",
    "operators/dedup.py:cdc_chunks_sql": "the CDC boundary rule as one SQL expression, property-pinned against the numpy pass",
    "operators/relational.py:salted_join": "skew-salted join operator, tested equal to the plain join",
    "operators/relational.py:sessionize": "gap-based sessionization operator, the batch twin of closed_sessions",
    "functions/vector.py:vector_lit": "a query vector as an array literal column, for brute-force references",
    "functions/embedding.py:SentenceTransformerEmbedder": "the real-model encoder behind the encoder factory seam",
    "functions/policy.py:DeviceInfo": "the reference's device policy (utilities_core.py), probed per executor",
    "functions/policy.py:appropriate_dtype": "the reference's dtype policy (utilities_core.py)",
    "functions/policy.py:embedding_batch_size": "the reference's batch-size policy (utilities_core.py)",
    "functions/udtfs.py:ChunkTextUDTF": "chunk_fixed as a SQL table function (LATERAL), for SQL-only users",
    "functions/udtfs.py:register_udtfs": "registers ChunkTextUDTF on a session",
    "queries/retrieval.py:flagship": "the flagship query __spark_entry__.py serves",
    "rag.py:ChatClient": "the paper's RAG LLM stage (OpenAI-compatible chat, streamed)",
    "sources/ingest.py:register_parser": "ingest's extension hook for new file types",
    "streaming/stateful.py:closed_sessions": "streaming entry point: event-time sessions closed by the watermark",
    "streaming/stateful.py:running_user_stats": "streaming entry point: per-user running statistics",
    "streaming/ingest.py:windowed_event_counts": "streaming entry point: windowed event counts",
    "streaming/curation.py:build_decontam_artifact": "builds the eval artifact stream_corpus_admission reads",
    "streaming/graphs.py:triangle_counts": "committed view of stream_triangle_counts",
    "streaming/serving.py:text_index": "committed view of stream_text_index_maintenance",
    "streaming/serving.py:sign_sketch": "committed view of stream_sign_sketch_maintenance",
    "streaming/serving.py:lm_counts": "committed view of stream_lm_maintenance",
    "streaming/serving.py:packed_spans": "committed view of stream_tokenize_pack",
}


def _names(node) -> set[str]:
    return {x.id for x in ast.walk(node) if isinstance(x, ast.Name)} | {
        x.attr for x in ast.walk(node) if isinstance(x, ast.Attribute)
    }


def _unreached() -> set[str]:
    defs: dict[str, set[str]] = {}
    by_name: dict[str, list[str]] = {}
    reached: list[str] = []
    for dirpath, _, files in os.walk(LIB):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            mod = os.path.relpath(path, LIB)
            with open(path) as fh:
                tree = ast.parse(fh.read())
            for node in tree.body:
                if not isinstance(node, (ast.FunctionDef, ast.ClassDef)):
                    reached += [f"@{mod}:{n}" for n in _names(node)]
                    continue
                key = f"{mod}:{node.name}"
                defs[key] = _names(node)
                by_name.setdefault(node.name, []).append(key)
                registered = any(
                    ast.unparse(d).startswith("register") for d in node.decorator_list
                )
                if registered or node.name.startswith("stream_") or mod in (
                    "api.py", "registry.py", "_registry_core.py"
                ):
                    reached.append(key)
    seen: set[str] = set()
    todo = [k for r in reached for k in ([r] if r in defs else by_name.get(r.split(":")[-1], []))]
    while todo:
        key = todo.pop()
        if key in seen:
            continue
        seen.add(key)
        todo += [k for n in defs[key] for k in by_name.get(n, [])]
    return {k for k in defs if k not in seen and not k.split(":")[1].startswith("_")}


def test_every_public_def_is_reachable_or_allowlisted():
    unreached = _unreached()
    assert unreached <= set(ALLOWED), sorted(unreached - set(ALLOWED))
    # an allowlist entry whose def became reachable, or is gone, is stale
    assert set(ALLOWED) <= unreached, sorted(set(ALLOWED) - unreached)
