"""Dtype/batch policy parity with utilities_core.py:109-198."""

from __future__ import annotations

import pytest

from vector_db_light_spark.functions.policy import (
    DeviceInfo,
    appropriate_dtype,
    embedding_batch_size,
)

CPU = DeviceInfo("cpu", False, (0, 0))
AMPERE = DeviceInfo("cuda", True, (8, 6))
PASCAL = DeviceInfo("cuda", True, (6, 1))


@pytest.mark.parametrize(
    "dev,half,native,want",
    [
        (CPU, True, "bfloat16", "float32"),      # cpu always fp32
        (AMPERE, True, "bfloat16", "bfloat16"),
        (PASCAL, True, "bfloat16", "float16"),   # no bf16 pre-Ampere
        (AMPERE, False, "bfloat16", "float32"),  # half unchecked
        (AMPERE, True, "float16", "float16"),
        (CPU, True, "float16", "float32"),
        (AMPERE, True, "float32", "bfloat16"),   # upcast policy on Ampere
        (PASCAL, True, "float32", "float16"),
        (AMPERE, False, "float32", "float32"),
        (AMPERE, True, "weird", "float32"),      # unrecognized -> fp32
    ],
)
def test_dtype_policy(dev, half, native, want):
    assert appropriate_dtype(dev, half, native) == want


def test_batch_size_policy():
    assert embedding_batch_size("BAAI/bge-small-en-v1.5", AMPERE) == 12
    assert embedding_batch_size("BAAI/bge-large-en-v1.5", AMPERE) == 6
    assert embedding_batch_size("Qwen/Qwen3-Embedding-0.6B", AMPERE) == 4
    assert embedding_batch_size("anything-else", AMPERE) == 8
    assert embedding_batch_size("BAAI/bge-small-en-v1.5", CPU) == 2  # cpu wins


def test_model_family_detection():
    from vector_db_light_spark.functions.policy import model_family

    assert model_family("Qwen/Qwen3-Embedding-0.6B") == "qwen"
    assert model_family("BAAI/bge-small-en-v1.5") == "bge"
    assert model_family("hashed-features-16") == "generic"


def test_query_prompt_table():
    """embedding_models.py:27-33 parity: qwen prefixes queries only; bge
    prefixes every encode; generic gets nothing."""
    from vector_db_light_spark.functions.policy import prefixed_query, query_prompt

    assert query_prompt("qwen", is_query=True).startswith("Instruct:")
    assert query_prompt("qwen", is_query=False) == ""
    assert query_prompt("bge", is_query=True).startswith("Represent this sentence")
    assert query_prompt("bge", is_query=False).startswith("Represent this sentence")
    assert query_prompt("generic", is_query=True) == ""
    assert prefixed_query("bge-base-en-v1.5", "hello").endswith("passages: hello")
    assert prefixed_query("other", "hello") == "hello"


def test_search_applies_instruction_prefix(spark, tmp_path, corpus_dir=None):
    """api.search must encode prompt+query, not the raw query: with a bge
    model registered, the query vector (and thus the ranking input) is the
    encode of the prefixed text."""
    from vector_db_light_spark.functions.embedding import HashedFeatureEmbedder
    from vector_db_light_spark.functions.policy import prefixed_query

    raw = HashedFeatureEmbedder().encode_one("find spark docs")
    pref = HashedFeatureEmbedder().encode_one(
        prefixed_query("bge-small-en-v1.5", "find spark docs")
    )
    assert raw != pref  # the prefix must change the encoded vector
