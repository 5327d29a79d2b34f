"""BENCHMARK.json must name exactly what the program prints, and the program
must refuse to run where the library is absent."""

import json
import os
import shutil
import subprocess
import sys

import layers
import run
import workloads

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_and_units_match_the_program():
    bench = _bench()
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == layers.PER_LAYER
    assert [w["name"] for w in bench["workloads"]] == list(workloads.WORKLOADS)
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])


def test_exits_nonzero_without_the_library(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "corpus_batch",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout == ""


def _result_file(path, cpus, pass_s):
    report = {
        "workload": "corpus_batch", "seed": 1, "trace": 0,
        "host": {"cpus": cpus, "driver_heap": "4023m", "mem_total": 1,
                 "pyspark": "4.1.2", "git_commit": "x"},
        "report": {"pass_s": pass_s, "setup_s": 20.0},
    }
    path.write_text(json.dumps(report) + "\n" + json.dumps({"correct": True}) + "\n")
    return str(path)


def test_compare_refuses_results_from_another_host_shape(tmp_path, capsys):
    import compare

    base = _result_file(tmp_path / "base.txt", 4, 5.0)
    same = _result_file(tmp_path / "same.txt", 4, 6.0)
    other = _result_file(tmp_path / "other.txt", 8, 6.0)
    assert compare.main([base, same]) == 0
    assert "x1.200" in capsys.readouterr().out
    assert compare.main([base, other]) == 3
