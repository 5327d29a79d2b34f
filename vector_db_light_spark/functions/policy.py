"""Embedding execution policy — dtype + batch-size selection, per executor.

Re-expresses the reference's policy functions
(``/root/reference/utilities_core.py:109-198``) as pure torch-free logic the
``mapInPandas`` embedding stage consults INSIDE the UDF on each executor
(device capability differs per executor on heterogeneous clusters, so the
decision must be executor-local, not driver-side — the Spark analogue of
the reference's per-process choice).

Semantics parity:
  * cpu -> float32 always; batch 2 (query batches are always 1).
  * bfloat16-native models: half+Ampere(cc>=8) -> bfloat16; half without
    Ampere -> float16; no half -> float32.
  * float16-native: half+cuda -> float16 else float32.
  * float32-native: half+Ampere -> bfloat16, half+pre-Ampere -> float16,
    else float32.
  * per-model batch sizes: Qwen3-0.6B=4, bge-small=12, bge-base=8,
    bge-large=6; default 8 (cpu always 2).
"""

from __future__ import annotations

from dataclasses import dataclass

# Per-family instruction prefixes (embedding_models.py:13-33 parity): qwen
# prefixes QUERIES only; bge prefixes both queries and passages; everything
# else encodes raw text. Applied by api.search before the 1-row query encode.
QUERY_PROMPT_BY_FAMILY = {
    "qwen": (
        "Instruct: Given a web search query, retrieve relevant passages "
        "that answer the query\nQuery: "
    ),
    "bge": "Represent this sentence for searching relevant passages: ",
    "generic": "",
}


def model_family(model_path: str) -> str:
    """embedding_models.py:13-24 parity: family from a substring of the
    model path/name."""
    lowered = model_path.lower()
    if "qwen" in lowered:
        return "qwen"
    if "bge" in lowered:
        return "bge"
    return "generic"


def query_prompt(family: str, is_query: bool = False) -> str:
    """embedding_models.py:27-33 parity: qwen's instruction applies to the
    QUERY side only; bge's 'Represent this sentence' applies to every
    encode; generic models get no prefix."""
    if family == "qwen":
        return QUERY_PROMPT_BY_FAMILY["qwen"] if is_query else ""
    return QUERY_PROMPT_BY_FAMILY.get(family, "")


def prefixed_query(model_path: str, query: str) -> str:
    """The V1 hook: the exact text handed to the 1-row query encode
    (embedding_models.py:159-162 ``embed_query``)."""
    return query_prompt(model_family(model_path), is_query=True) + query


BATCH_SIZE_BY_MODEL = {
    "qwen3-embedding-0.6b": 4,
    "bge-small-en-v1.5": 12,
    "bge-base-en-v1.5": 8,
    "bge-large-en-v1.5": 6,
}
DEFAULT_BATCH = 8
CPU_BATCH = 2


@dataclass(frozen=True)
class DeviceInfo:
    """Executor-local device capabilities (probed inside the UDF; passed
    explicitly here so the policy is testable without torch/CUDA)."""

    device: str = "cpu"          # 'cpu' | 'cuda'
    cuda_available: bool = False
    cuda_capability: tuple[int, int] = (0, 0)


def appropriate_dtype(dev: DeviceInfo, use_half: bool, native_precision: str) -> str:
    """utilities_core.py:109-159 parity; returns a dtype name string."""
    native = native_precision.lower()
    if dev.device.lower() == "cpu":
        return "float32"
    ampere = dev.cuda_available and dev.cuda_capability[0] >= 8
    if native == "bfloat16":
        if not use_half:
            return "float32"
        return "bfloat16" if ampere else "float16"
    if native == "float16":
        return "float16" if (use_half and dev.cuda_available) else "float32"
    if native == "float32":
        if not use_half:
            return "float32"
        if dev.cuda_available:
            return "bfloat16" if ampere else "float16"
        return "float32"
    return "float32"


def embedding_batch_size(model_name: str, dev: DeviceInfo) -> int:
    """utilities_core.py:162-180 parity (substring match, cpu override)."""
    if dev.device.lower() == "cpu":
        return CPU_BATCH
    lowered = model_name.lower()
    for key, value in BATCH_SIZE_BY_MODEL.items():
        if key in lowered:
            return value
    return DEFAULT_BATCH


