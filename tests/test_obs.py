"""obs.materialize is the one owner of lineage cuts: it names each build
job after its call site, restores the caller's job description, and
records every build into the active profile."""

from __future__ import annotations

import ast
import json
import os
import pathlib
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from conftest import SF_ORACLE
from vector_db_light_spark.obs import materialize, profile

REPO = pathlib.Path(__file__).resolve().parent.parent
LIB = REPO / "vector_db_light_spark"
DESCRIPTION = "spark.job.description"


def test_only_obs_cuts_lineage():
    offenders = []
    for path in sorted(LIB.rglob("*.py")):
        if path.name == "obs.py":
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr
                in ("localCheckpoint", "checkpoint", "persist", "cache")
            ):
                offenders.append(f"{path.relative_to(REPO)}:{node.lineno}")
    assert not offenders, f"lineage cut outside obs.materialize: {offenders}"


def _description_column(spark):
    """One row holding the job description its task ran under."""

    @F.udf("string")
    def description(_):
        from pyspark import TaskContext

        return TaskContext.get().getLocalProperty(DESCRIPTION)

    return spark.range(1).select(description("id").alias("d"))


def _build_twice(spark):
    first = materialize(_description_column(spark))
    second = materialize(_description_column(spark))
    return first, second


def test_materialize_names_builds_and_records_them(spark):
    sc = spark.sparkContext
    sc.setLocalProperty(DESCRIPTION, None)
    with profile("q") as rec:
        built = _build_twice(spark)
    assert [site for site, _, _ in rec.builds] == ["test_obs._build_twice"] * 2
    assert all(seconds > 0 for _, seconds, _ in rec.builds)
    # the checkpointed rows were computed by the build job itself
    assert [df.first()["d"] for df in built] == ["q/test_obs._build_twice"] * 2
    assert sc.getLocalProperty(DESCRIPTION) is None
    # outside a profile the build is named by its site alone
    assert materialize(_description_column(spark)).first()["d"] == (
        "test_obs.test_materialize_names_builds_and_records_them"
    )


def test_materialize_restores_description_when_the_build_fails(spark):
    sc = spark.sparkContext
    bad = spark.range(3).select(
        F.concat(F.lit("x"), F.col("id").cast("string")).cast("int").alias("n")
    )
    sc.setLocalProperty(DESCRIPTION, "outer")
    try:
        with profile("q") as rec, pytest.raises(Exception, match="CAST"):
            materialize(bad)
        assert sc.getLocalProperty(DESCRIPTION) == "outer"
        assert rec.builds == []
    finally:
        sc.setLocalProperty(DESCRIPTION, None)


def test_query_profile_tool_lists_checkpoint_sites(tmp_path):
    # a separate process: the tool stops its own session at exit
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR=SF_ORACLE,
        SPARK_GRAFT_CPUS="2",
        SPARK_GRAFT_DRIVER_MEM="2g",
    )
    proc = subprocess.run(
        [sys.executable, str(REPO / "tools" / "query_profile.py"),
         "dedup_minhash_lsh", "-n", "1"],
        capture_output=True, text=True, env=env, cwd=tmp_path, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    (line,) = [json.loads(s) for s in proc.stdout.splitlines() if s.startswith("{")]
    assert line["query"] == "dedup_minhash_lsh"
    assert ["dedup.dedup_minhash_lsh"] == [site for site, _ in line["checkpoints"]]
