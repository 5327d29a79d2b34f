"""Post-retrieval RAG layer (SURVEY.md §2.10) — driver-side by design.

These run over the COLLECTED top-k rows (k <= tens), so they are plain
Python: L1 prompt assembly (``chat_llm.py:30-51``), L4 chunks-only banners
(``vector_db_query.py:59-72``), L3 citation HTML (``utilities.py:58-77``
over the A2/A3 aggregates), and an OpenAI-compatible chat client whose
network call is stubbed (no LLM endpoint in this environment; the payload
construction is real and tested).
"""

from __future__ import annotations

import json
from collections.abc import Iterable, Mapping
from urllib import request as _urllib_request

RAG_SYSTEM_MESSAGE = (
    "You are a helpful assistant. Answer using ONLY the provided contexts; "
    "if the contexts are insufficient, say so."
)
CONTEXT_SEPARATOR = "\n\n---\n\n"


def assemble_rag_prompt(contexts: list[str], query: str) -> str:
    """L1: contexts joined by '---' separators then the user question.
    Raises when no contexts survived filtering (chat_llm.py:46-48)."""
    if not contexts:
        raise ValueError(
            "no contexts passed the similarity threshold / filters; "
            "lower the threshold or relax the search term"
        )
    joined = CONTEXT_SEPARATOR.join(contexts)
    return f"Use the following contexts to answer:\n\n{joined}\n\nQuestion: {query}"


def format_chunks(rows: Iterable[Mapping]) -> str:
    """L4: 'CONTEXT i | file_name' banner per hit (vector_db_query.py:59-72),
    with blank-line runs collapsed (F9)."""
    import re

    out = []
    for i, row in enumerate(rows, start=1):
        text = re.sub(r"\n\s*\n+", "\n\n", (row.get("chunk_text") or row.get("text") or ""))
        out.append(f"CONTEXT {i} | {row.get('file_name', '')}\n\n{text}")
    return CONTEXT_SEPARATOR.join(out)


def _page_ranges(pages: list[int]) -> str:
    """A3: consecutive-run compaction, '3-5, 9' (utilities.py:42-56)."""
    if not pages:
        return ""
    sp = sorted(set(pages))
    ranges = []
    start = prev = sp[0]
    for p in sp[1:]:
        if p == prev + 1:
            prev = p
        else:
            ranges.append((start, prev))
            start = prev = p
    ranges.append((start, prev))
    return ", ".join(f"{s}-{e}" if s != e else f"{s}" for s, e in ranges)


def format_citations(rows: Iterable[Mapping]) -> str:
    """L3 over A2/A3: per file, score range + page ranges (pdf only),
    ordered by best (min) score like utilities.py:74."""
    grouped: dict[str, dict] = {}
    for row in rows:
        fp = row["file_name"]
        g = grouped.setdefault(
            fp, {"scores": [], "pages": [], "file_type": row.get("file_type", "")}
        )
        g["scores"].append(row["similarity"])
        if g["file_type"] == ".pdf" and row.get("page_number") is not None:
            g["pages"].append(row["page_number"])
    lines = []
    for fp, g in sorted(grouped.items(), key=lambda kv: min(kv[1]["scores"])):
        span = f"{min(g['scores']):.3f}-{max(g['scores']):.3f}"
        pages = _page_ranges(g["pages"])
        suffix = f" p.{pages}" if pages else ""
        lines.append(f"<li>{fp} (score {span}){suffix}</li>")
    return "<ol>" + "".join(lines) + "</ol>"


class ChatClient:
    """L2: OpenAI-compatible chat (chat_llm.py:69-164): ``ask`` for a
    single completion, ``ask_stream`` for SSE token streaming. The HTTP
    call needs a reachable endpoint (LM Studio / OpenAI); both raise
    cleanly when none is configured. ``build_payload`` and the SSE consume
    loop — the parts with reference semantics — are tested against a
    stubbed server."""

    def __init__(self, base_url: str | None = None, model: str = "local-model",
                 api_key: str = "not-needed"):
        self.base_url = base_url
        self.model = model
        self.api_key = api_key

    def build_payload(self, prompt: str, stream: bool = True) -> dict:
        return {
            "model": self.model,
            "messages": [
                {"role": "system", "content": RAG_SYSTEM_MESSAGE},
                {"role": "user", "content": prompt},
            ],
            "stream": stream,
            "temperature": 0.1,
        }

    def _request(self, prompt: str, stream: bool):
        return _urllib_request.Request(
            f"{self.base_url.rstrip('/')}/chat/completions",
            data=json.dumps(self.build_payload(prompt, stream=stream)).encode(),
            headers={
                "Content-Type": "application/json",
                "Authorization": f"Bearer {self.api_key}",
            },
        )

    def ask(self, prompt: str, timeout: float = 30.0) -> str:
        if not self.base_url:
            raise NotImplementedError(
                "no LLM endpoint configured; pass base_url (e.g. a local "
                "OpenAI-compatible server) to enable RAG completion"
            )
        with _urllib_request.urlopen(
            self._request(prompt, stream=False), timeout=timeout
        ) as resp:
            body = json.load(resp)
        return body["choices"][0]["message"]["content"]

    def ask_stream(
        self,
        prompt: str,
        timeout: float = 30.0,
        strip_leading_space: bool = True,
    ):
        """L2 streaming: consume SSE ``data:`` chunks and yield content
        deltas as they arrive (chat_llm.py:136-151 parity: per-chunk
        ``delta.content``, None deltas skipped, the FIRST content chunk
        lstripped for LM-Studio-style servers — should_strip_leading_space,
        chat_llm.py:85-86 — and a trailing newline emitted after the stream
        ends, chat_llm.py:151). ``timeout`` bounds each socket read, the
        same 30 s the reference GUI waits per queue item
        (gui_tabs_database_query.py:91). Empty post-strip chunks are not
        yielded; the joined output is byte-identical either way."""
        if not self.base_url:
            raise NotImplementedError(
                "no LLM endpoint configured; pass base_url (e.g. a local "
                "OpenAI-compatible server) to enable RAG completion"
            )
        first = True
        with _urllib_request.urlopen(
            self._request(prompt, stream=True), timeout=timeout
        ) as resp:
            for raw in resp:
                line = raw.decode("utf-8", errors="replace").strip()
                # SSE framing: blank keep-alives and ':' comments skipped
                if not line or line.startswith(":") or not line.startswith("data:"):
                    continue
                data = line[len("data:"):].strip()
                if data == "[DONE]":
                    break
                delta = json.loads(data)["choices"][0].get("delta", {})
                content = delta.get("content")
                if content is None:
                    continue
                if first:
                    if strip_leading_space:
                        content = content.lstrip()
                    first = False
                if content:
                    yield content
        yield "\n"
