"""Seeded input generator for the benchmark.

Everything a workload feeds the library comes from here and depends only on
the seed: the ten fixture-shaped parquet tables, the ``.txt`` files and
batches of the index-maintenance workload, the streamed admission batches,
and every query string. The same seed gives byte-identical files.

The tables mirror the column names, types and value ranges of the repository's
fixture tables (documents, embeddings and the TPC-H-like star schema plus
``events``), so every registered query and its DuckDB oracle run on them
unchanged.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Seeds 1-20 were used while the benchmark was written and tuned. Claims in
# later changes are validated on the held-out seeds, which were never run
# while the benchmark was being built.
DEV_SEEDS = tuple(range(1, 21))
HELDOUT_SEEDS = tuple(range(1001, 1011))

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query scan batch a"
).split()
LANGS = ("en", "zh", "es", "de", "fr")
LANG_P = (0.41, 0.15, 0.15, 0.14, 0.15)
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
P_TYPES = ("LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO")
P_ADJ = ("blue", "cold", "hot", "red", "small", "big", "green", "old")
P_NOUN = ("ring", "plate", "gear", "rod", "bolt", "anvil", "widget", "nut")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("signup", "click", "error", "view", "purchase")

# Words for the multi-sentence documents of the API and streaming inputs:
# terminally punctuated lines with common stopwords, so the C4/Gopher
# admission rules keep most of them.
PROSE = (
    "river mountain forest harbor glacier meadow canyon valley island desert "
    "spark vector stream index shard cluster engine query table column "
    "quiet bright heavy narrow ancient silver golden patient careful busy "
    "carries holds shelters loads reflects crosses guards follows builds "
    "reads"
).split()
STOP = ("the", "of", "and", "to", "with", "that", "in", "on")

_US_PER_DAY = 86_400_000_000


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per input stream, so adding a stream never
    shifts the values of another."""
    key = [int(seed)] + [ord(c) for c in stream]
    return np.random.default_rng(np.random.SeedSequence(key))


def _ts(base: str, us: np.ndarray) -> pa.Array:
    start = np.datetime64(base, "us").astype(np.int64)
    return pa.array(start + us.astype(np.int64), pa.timestamp("us"))


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _word_salad(rng: np.random.Generator, n: int) -> list[str]:
    lengths = rng.integers(10, 101, n)
    idx = rng.integers(0, len(WORDS), int(lengths.sum()))
    out, pos = [], 0
    for ln in lengths:
        out.append(" ".join(WORDS[i] for i in idx[pos : pos + ln]))
        pos += ln
    return out


def make_tables(out_dir: str, seed: int, sf: float) -> None:
    """Write the ten fixture-shaped tables at scale ``sf`` (sf0.1 = 5,000
    documents, 600,000 lineitem rows) into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = _rng(seed, "tables")
    n_cust = max(100, int(150_000 * sf))
    n_supp = max(20, int(10_000 * sf))
    n_part = max(100, int(200_000 * sf))
    n_ord = max(1_000, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_ev = max(1_000, int(1_000_000 * sf))
    n_docs = max(100, int(50_000 * sf))
    n_emb = max(200, min(2_000, int(20_000 * sf)))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(REGIONS),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    adj = rng.integers(0, len(P_ADJ), n_part)
    noun = rng.integers(0, len(P_NOUN), n_part)
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [P_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1),
    })
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("O", "P", "F")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, 2404, n_ord) * _US_PER_DAY),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(np.sort(rng.integers(0, n_ord, n_line)), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
        "l_linestatus": [("O", "F")[i] for i in rng.integers(0, 2, n_line)],
        "l_shipdate": _ts("1995-01-02", rng.integers(0, 2499, n_line) * _US_PER_DAY),
    })
    gaps = rng.exponential(30 * _US_PER_DAY / n_ev, n_ev)
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts("2024-01-01", np.cumsum(gaps)),
        "user_id": pa.array(rng.integers(0, 1_500, n_ev), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": np.round(rng.gamma(2.0, 20.0, n_ev), 2),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_ev)],
    })

    texts = _word_salad(rng, n_docs)
    for i in np.flatnonzero(rng.random(n_docs) < 0.05):  # the 'dup' marker
        texts[i] = texts[i] + " dup"
    for i in np.flatnonzero(rng.random(n_docs) < 0.003):  # exact duplicates
        if i:
            texts[i] = texts[int(rng.integers(0, i))]
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    vecs = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    })


def _sentence(rng: np.random.Generator) -> str:
    n = int(rng.integers(8, 17))
    words = [
        STOP[int(rng.integers(0, len(STOP)))]
        if rng.random() < 0.35
        else PROSE[int(rng.integers(0, len(PROSE)))]
        for _ in range(n)
    ]
    return " ".join(words).capitalize() + "."


def prose_doc(rng: np.random.Generator) -> str:
    """A 3-8 line document of punctuated sentences."""
    return "\n".join(_sentence(rng) for _ in range(int(rng.integers(3, 9))))


def unique_token(seed: int, cycle: int, i: int) -> str:
    """A token no other generated file contains (letters only, so every
    tokenizer in the library keeps it whole)."""
    digits = f"{seed:x}q{cycle:x}q{i:x}"
    return "zz" + "".join(chr(ord("a") + int(c, 16)) if c != "q" else "y" for c in digits)


def write_files(out_dir: str, texts: list[str], prefix: str) -> list[str]:
    """Write ``texts`` as ``<prefix>NNNNN.txt`` files; return the names."""
    os.makedirs(out_dir, exist_ok=True)
    names = []
    for i, t in enumerate(texts):
        name = f"{prefix}{i:05d}.txt"
        with open(os.path.join(out_dir, name), "w", encoding="utf-8") as f:
            f.write(t)
        names.append(name)
    return names


def api_inputs(seed: int, n_base: int, n_cycles: int, per_batch: int) -> dict:
    """Texts of the base corpus and of each add batch, plus each cycle's
    search strings. Every batch file carries a token unique to it."""
    rng = _rng(seed, "api")
    base = [prose_doc(rng) for _ in range(n_base)]
    batches, phrases, queries = [], [], []
    for c in range(n_cycles):
        texts = []
        for i in range(per_batch):
            tok = unique_token(seed, c, i)
            # first line, so no chunk boundary can split the token
            texts.append(f"The {tok} marker opens this file.\n" + prose_doc(rng))
        batches.append(texts)
        phrases.append(unique_token(seed, c, 0))
        order = rng.permutation(4).tolist()
        words = [
            " ".join(PROSE[int(j)] for j in rng.integers(0, len(PROSE), 3))
            for _ in range(4)
        ]
        queries.append(list(zip(order, words)))
    return {"base": base, "batches": batches, "phrases": phrases, "queries": queries}


def stream_batches(seed: int, n_batches: int, per_batch: int) -> list[list[tuple]]:
    """(doc_id, text) micro-batches for streamed admission: fresh prose plus
    ~8% exact repeats of earlier docs, ~4% one-word edits of earlier docs
    (near duplicates), and ~3% docs the gate rejects (a single line)."""
    rng = _rng(seed, "stream")
    seen: list[str] = []
    out, doc_id = [], 0
    for _ in range(n_batches):
        rows = []
        for _ in range(per_batch):
            u = rng.random()
            if seen and u < 0.08:
                text = seen[int(rng.integers(0, len(seen)))]
            elif seen and u < 0.12:
                lines = seen[int(rng.integers(0, len(seen)))].split("\n")
                lines[-1] = _sentence(rng)
                text = "\n".join(lines)
            elif u < 0.15:
                text = " ".join(PROSE[int(j)] for j in rng.integers(0, len(PROSE), 9))
            else:
                text = prose_doc(rng)
            seen.append(text)
            rows.append((doc_id, text))
            doc_id += 1
        out.append(rows)
    return out


def query_order(seed: int, names: list[str]) -> list[str]:
    """A seeded permutation of ``names``."""
    return [names[i] for i in _rng(seed, "order").permutation(len(names))]
