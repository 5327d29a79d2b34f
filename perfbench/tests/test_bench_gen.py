"""The same seed must give byte-identical inputs; another seed other ones."""

import os

import gen


def _tree_bytes(root):
    out = {}
    for name in sorted(os.listdir(root)):
        with open(os.path.join(root, name), "rb") as f:
            out[name] = f.read()
    return out


def test_tables_are_byte_identical_per_seed(tmp_path):
    gen.make_tables(str(tmp_path / "a"), 5, 0.002)
    gen.make_tables(str(tmp_path / "b"), 5, 0.002)
    gen.make_tables(str(tmp_path / "c"), 6, 0.002)
    a, b, c = (_tree_bytes(str(tmp_path / d)) for d in "abc")
    assert len(a) == 10
    assert a == b
    assert a["documents.parquet"] != c["documents.parquet"]


def test_api_files_and_queries_are_deterministic(tmp_path):
    one = gen.api_inputs(3, 4, 2, 3)
    assert one == gen.api_inputs(3, 4, 2, 3)
    assert one != gen.api_inputs(4, 4, 2, 3)
    names = gen.write_files(str(tmp_path / "x"), one["batches"][0], "c0_")
    again = gen.write_files(str(tmp_path / "y"), one["batches"][0], "c0_")
    assert names == again
    assert _tree_bytes(str(tmp_path / "x")) == _tree_bytes(str(tmp_path / "y"))


def test_each_batch_file_carries_a_token_no_other_file_has():
    inp = gen.api_inputs(9, 20, 3, 4)
    files = inp["base"] + [t for b in inp["batches"] for t in b]
    for c, batch in enumerate(inp["batches"]):
        for i, text in enumerate(batch):
            tok = gen.unique_token(9, c, i)
            assert tok.isalpha()
            assert sum(tok in t for t in files) == 1
            assert text.startswith(f"The {tok} ")
    assert inp["phrases"] == [gen.unique_token(9, c, 0) for c in range(3)]


def test_stream_batches_and_query_order_are_deterministic():
    assert gen.stream_batches(2, 2, 50) == gen.stream_batches(2, 2, 50)
    assert gen.stream_batches(2, 2, 50) != gen.stream_batches(3, 2, 50)
    ids = [d for b in gen.stream_batches(2, 3, 40) for d, _ in b]
    assert ids == list(range(120))
    names = ["a", "b", "c", "d", "e", "f"]
    assert gen.query_order(1, names) == gen.query_order(1, names)
    assert sorted(gen.query_order(1, names)) == names
    assert len({tuple(gen.query_order(s, names)) for s in range(8)}) > 1


def test_dev_and_heldout_seeds_are_disjoint():
    assert not set(gen.DEV_SEEDS) & set(gen.HELDOUT_SEEDS)
