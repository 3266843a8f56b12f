"""A SparkSession sized for the machine the benchmark runs on.

Everything the session writes (shuffle files, broadcast spills, the JVM's
temp files, the Python daemon's sockets) goes under the benchmark's work
directory inside the checkout, so a run touches nothing outside it.
"""

from __future__ import annotations

import os
import shutil
import sys

# the work directory needs room for shuffle files, the state tables of one
# workload and its cached inputs; refuse to start rather than fill the disk
MIN_FREE_BYTES = 2 << 30
# well under the machine's memory; the heap is not committed up front, so
# peak_rss_mb follows what the program touches
DRIVER_MEMORY = "2g"
# A fixed young generation: the heap then grows with the data the program
# keeps, not with the collector's timing-driven young-generation sizing,
# which moved the driver's resident set by +-13% between identical runs.
# C1-only JIT: a run's driver lives about a minute, and on four cores the C2
# compiler threads compete with the work for all of it (measured on a
# 4-core VM: set-up 37 s instead of 42 s, crawl rounds 7.7 s instead of
# 8-9 s).
JVM_TUNING = "-Xmn256m -XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m"


def cores() -> int:
    return len(os.sched_getaffinity(0))


def check_free_space(path: str) -> None:
    free = shutil.disk_usage(path).free
    if free < MIN_FREE_BYTES:
        raise RuntimeError(
            f"{path}: {free >> 20} MB free, the benchmark needs {MIN_FREE_BYTES >> 20} MB"
        )


def start(root: str, work: str, app: str):
    """Start the one SparkSession of a run on ``local[cores]``.

    ``root`` is the checkout (put on the Python workers' path, so
    ``mapInPandas`` tasks can import ``spiderman_spark``); ``work`` holds
    every file the session writes."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    check_free_space(work)
    # the gateway launcher, the JVM and the Python workers all inherit these
    os.environ["TMPDIR"] = tmp
    # the environment's SPARK_LOCAL_DIRS would override spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    if root not in sys.path:
        sys.path.insert(0, root)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData {JVM_TUNING}"
    n = cores()
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app)
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.driver.extraJavaOptions", java_opts)
        .config("spark.local.dir", local)
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.default.parallelism", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark
