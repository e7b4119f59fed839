"""Spark session, working directories and process cleanup for the benchmark.

Everything the benchmark writes lives under ``.bench_work/`` at the root of
the checkout: generated inputs, per-op outputs, Spark's scratch space and
the JVM's temp files.
"""

from __future__ import annotations

import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
TMP = os.path.join(WORK, "tmp")

# driver heap for local mode; the whole JVM must stay far below a shared
# 15 GB host (bench.py's 48g default does not fit)
DRIVER_MEMORY = "3g"


def cores() -> int:
    return len(os.sched_getaffinity(0)) or os.cpu_count() or 1


def _prepare_env() -> None:
    os.makedirs(TMP, exist_ok=True)
    # Python workers (mapInPandas / mapInArrow) import json_skema_spark, so
    # the checkout root must be on their path, not only on the driver's.
    paths = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    if ROOT not in paths:
        os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, *paths])
    os.environ["TMPDIR"] = TMP
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_spark(app: str):
    """A ``local[<cores>]`` session with the UI off and small file splits.

    ``maxPartitionBytes`` is 2 MiB so that the inputs (tens of MB written as
    32 files) are read as dozens of tasks: with the default split size the
    4 cores each got one task and a single straggler set the op time.
    """
    _prepare_env()
    from pyspark.sql import SparkSession

    n = cores()
    java_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={TMP} -Dderby.system.home={TMP}"
    spark = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app)
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.driver.extraJavaOptions", java_opts)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", str(2 * n))
        .config("spark.sql.files.maxPartitionBytes", str(2 << 20))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.warehouse.dir", os.path.join(WORK, "warehouse"))
        .config("spark.local.dir", os.path.join(WORK, "spark-local"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM process to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is None:
        return
    # the gateway JVM exits when its stdin closes
    if proc.stdin is not None:
        proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(base, f))
    return total
