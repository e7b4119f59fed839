"""Input table dispatch for ``runner.py --format``.

Equivalent of the reference's instance sources (string / stream / URI,
JsonParser.kt:176-190) at table scale: ``spark.read.parquet`` with schema
known from the file footer; predicate pushdown + column pruning come free.
An Iceberg catalog is the production target (BASELINE.json), but the runtime
jars are absent in this sandbox, so the parquet path is the tested one; the
API takes a format parameter so an Iceberg table name drops in unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def read_table(spark: SparkSession, path_or_name: str, *,
               format: str = "parquet") -> DataFrame:
    """Production input dispatch for ``runner.py --format``.

    - ``parquet``: ``path_or_name`` is a directory/file path.
    - ``iceberg``: ``path_or_name`` is a catalog table name
      (``catalog.db.table``). Requires the Iceberg runtime on the
      cluster: ``--packages org.apache.iceberg:iceberg-spark-runtime-...``
      plus ``spark.sql.catalog.<name>`` conf. Not testable in this
      sandbox (no jars) — the dispatch raises a targeted error instead
      of Spark's raw ClassNotFound.

    Iceberg + resume: a table partitioned with a ``bucket(N, clip_id)``
    transform is read and staged like any other input. Its buckets are not
    the resume's buckets: Iceberg hashes with 32-bit Murmur3 and names its
    directories ``clip_id_bucket=<id>``, while staging hashes with
    ``xxhash64`` into ``_bucket=<id>`` (operators/checkpoint.py).
    """
    if format == "parquet":
        return spark.read.parquet(path_or_name)
    if format == "iceberg":
        try:
            return spark.read.format("iceberg").load(path_or_name)
        except Exception as e:
            # only the missing-runtime case is rewritten; a genuine error
            # (table not found, bad catalog, permission denied) from a
            # properly configured cluster propagates as-is — masking it as
            # "install the jars" would send the operator down the wrong
            # debugging path (review r04)
            msg = str(e)
            if ("ClassNotFound" in msg or "DATA_SOURCE_NOT_FOUND" in msg
                    or "Failed to find data source" in msg
                    or "Failed to find the data source" in msg):
                raise RuntimeError(
                    "format=iceberg requires the Iceberg runtime jars "
                    "(org.apache.iceberg:iceberg-spark-runtime) and a "
                    "spark.sql.catalog.<name> configuration on the "
                    f"cluster; loading {path_or_name!r} failed") from e
            raise
    raise ValueError(f"unknown format {format!r} (parquet|iceberg)")

