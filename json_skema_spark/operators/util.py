"""Shared operator utilities."""

from __future__ import annotations

import os
import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def quoted_col(name: str) -> Column:
    """``F.col`` with the name taken LITERALLY: backtick-quoted so a column
    named ``a.b`` resolves as one top-level column instead of parsing as
    struct access — which fails analysis, or silently reads a DIFFERENT
    nested field when a struct ``a`` with field ``b`` also exists.
    ``annotations.py`` carried this fix since r04; profiling/inference now
    share it (review r05)."""
    return F.col("`" + name.replace("`", "``") + "`")

_SIZE_SUFFIX = {"": 1, "b": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30,
                "t": 1 << 40, "p": 1 << 50,
                "kb": 1 << 10, "mb": 1 << 20, "gb": 1 << 30,
                "tb": 1 << 40, "pb": 1 << 50}


def _parse_bytes(v: str) -> int:
    m = re.fullmatch(r"(\d+)\s*([a-zA-Z]*)", v.strip())
    if not m:
        return 128 << 20
    mult = _SIZE_SUFFIX.get(m.group(2).lower())
    if mult is None:
        # unknown suffix = unparseable, NOT bytes: treating "1t" as 1 byte
        # made ensure_parallelism believe any file already yields enough
        # splits and silently skip the repartition (review r05)
        return 128 << 20
    return int(m.group(1)) * mult


def _hadoop_total_size(spark, uris: list[str]) -> int | None:
    """Sum file sizes through the Hadoop FileSystem API (works for s3a/hdfs
    where ``os.path.getsize`` can't). Returns None when metadata is
    unavailable — callers must then leave the plan unchanged."""
    try:
        jvm = spark._jvm
        hconf = spark._jsc.hadoopConfiguration()
        total = 0
        for u in uris:
            path = jvm.org.apache.hadoop.fs.Path(u)
            fs = path.getFileSystem(hconf)
            total += fs.getFileStatus(path).getLen()
        return total
    except Exception:
        return None


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Repartition to ``defaultParallelism`` iff the input is
    under-partitioned for CPU-heavy work.

    A small parquet file arrives as one split; shingling/hashing 5k docs on
    one core wastes the other 31. Decided from *file metadata only*
    (``inputFiles`` + sizes) — never ``df.rdd.getNumPartitions()``, which
    forces a second physical planning of the query (VERDICT r01). At 100 TB
    the source has thousands of files and this short-circuits to a no-op.
    """
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    try:
        files = df.inputFiles()
    except Exception:
        return df  # non-file source: leave partitioning to the source
    if not files or len(files) >= target:
        return df
    # few files: a shuffle is only worth it when Spark cannot split them
    # finer than `target` via spark.sql.files.maxPartitionBytes
    local = [f[len("file:"):] if f.startswith("file:") else f for f in files]
    try:
        total = sum(os.path.getsize(p) for p in local)
    except OSError:
        total = _hadoop_total_size(spark, files)
        if total is None:
            # Unknown sizes (remote FS without metadata access): leave the
            # plan alone. A forced repartition here would shuffle AND could
            # *reduce* parallelism for large splittable remote files that
            # Spark already splits via maxPartitionBytes (ADVICE r02).
            return df
    max_pb = _parse_bytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes", str(128 << 20)))
    if total >= target * max_pb:
        return df  # source already yields >= target splits
    return df.repartition(target)
