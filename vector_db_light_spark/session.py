"""SparkSession construction with scale-appropriate defaults.

Local testing runs ``local[$SPARK_GRAFT_CPUS]``; on a real cluster the same
configs apply (AQE on, Arrow on, sensible shuffle partitioning). Nothing here
is cluster-manager specific.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession


def _default_heap() -> str:
    """``min(48g, MemTotal / 2)``, or 48g where /proc/meminfo is absent."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        return "48g"
    return f"{min(48 * 1024, kb // 2048)}m"


def get_spark(
    app_name: str = "vector_db_light_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    AQE is enabled so shuffle partition counts self-tune at runtime and skew
    joins split hot partitions — both matter far more at 100 TB than any
    static setting we could pick here.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # local[N] runs every "executor" thread in ONE JVM whose default
        # heap is 1g — fine at sf0.1, but the round-10 sf1 scale check hit
        # UNABLE_TO_ACQUIRE_MEMORY in a 32-thread hash aggregation at 10x
        # data. Size the single JVM like the sum of executors it stands in
        # for (the machine has 128 GiB): the r10 8g setting survived sf1
        # but left 32 threads churning one small heap — measured r15 as
        # the capstone variance source (llm_corpus_pipeline run-to-run
        # 22-60 s at 8g vs 11-15 s at 48g, same probe; the +50-80%
        # "episodic JVM effects" in SCALE.md's envelope were GC pressure).
        # 48g leaves headroom for 32 Python/Arrow workers + OS page cache.
        # On a smaller host the default is half of RAM: a 48g ceiling lets
        # the JVM grow past a 15 GB host and get OOM-killed. Applies only
        # when THIS process creates the JVM; a pre-existing session keeps
        # its heap.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_heap(),
        )
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
        # keep managed tables (bucketed joins, tests) out of the repo tree
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_GRAFT_WAREHOUSE", tempfile.gettempdir() + "/vdl_warehouse"
            ),
        )
    )
    return builder.getOrCreate()
