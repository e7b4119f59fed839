"""``violations()`` output partitioning: batch and streaming results are
coalesced to ``defaultParallelism`` partitions (narrow, no Exchange) while
keeping every row and its lineage. Also runs the package docstring's public
API example.
"""

from __future__ import annotations

import re
import textwrap

import pytest
from pyspark.sql import functions as F

import json_skema_spark
from json_skema_spark import compile_schema
from json_skema_spark.sources.clips import CLIPS_CONSTRAINT_SCHEMA, clips_df_fast

from tests.test_plan_shape import SCHEMAS

COALESCE = re.compile(r"^[\s:+\-]*Coalesce \d+", re.M)


@pytest.fixture(scope="module")
def many_splits(spark, tmp_path_factory):
    """Clips written as 3x ``defaultParallelism`` files and read with a
    64 KiB split size, so the scan has more splits than task slots. The
    split-size setting stays on while the module's tests plan and run."""
    dp = spark.sparkContext.defaultParallelism
    path = str(tmp_path_factory.mktemp("splits") / "t")
    clips_df_fast(spark, 20_000).repartition(3 * dp).write.parquet(path)
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, str(64 * 1024))
    try:
        yield spark.read.parquet(path)
    finally:
        spark.conf.set(key, old)


def _uncoalesced(plan, df, file_lineage):
    """The violation rows built by hand the way ``violations()`` builds them,
    without its final coalesce."""
    cols = [F.col("clip_id").cast("string").alias("row_key"),
            F.explode(plan.failures).alias("f"),
            F.spark_partition_id().alias("partition_id")]
    extra = []
    if file_lineage:
        cols.append(F.col("_metadata.file_path").alias("source_file"))
        extra = ["source_file"]
    return df.filter(~plan.passed).select(*cols).select(
        "row_key", "f.keyword", "f.keyword_location", "f.instance_location",
        "f.dynamic_path", "f.message", "partition_id", *extra)


def _count_and_hash(df):
    row = df.agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)"))
                 .alias("h")).first()
    return row["n"], row["h"]


@pytest.mark.parametrize("schema", sorted(SCHEMAS))
@pytest.mark.parametrize("file_lineage", [False, True])
def test_coalesced_rows_and_lineage_unchanged(spark, many_splits, schema,
                                               file_lineage):
    dp = spark.sparkContext.defaultParallelism
    assert many_splits.rdd.getNumPartitions() > dp
    plan = compile_schema(SCHEMAS[schema], many_splits.schema)
    got = plan.violations(many_splits, "clip_id", file_lineage=file_lineage)
    want = _uncoalesced(plan, many_splits, file_lineage)
    assert got.columns == want.columns
    assert got.rdd.getNumPartitions() <= dp
    ids = {r[0] for r in got.select("partition_id").distinct().collect()}
    split_ids = {r[0] for r in many_splits.filter(~plan.passed)
                 .select(F.spark_partition_id()).distinct().collect()}
    assert len(split_ids) > dp
    assert ids == split_ids
    n, h = _count_and_hash(got)
    assert n > 0
    assert (n, h) == _count_and_hash(want)


@pytest.mark.parametrize("schema", sorted(SCHEMAS))
def test_one_coalesce_and_no_exchange(many_splits, schema):
    plan = compile_schema(SCHEMAS[schema], many_splits.schema)
    physical = plan.violations(many_splits, "clip_id") \
        ._jdf.queryExecution().executedPlan().toString()
    assert len(COALESCE.findall(physical)) == 1, physical
    assert "Exchange" not in physical


def test_stream_is_coalesced_like_batch(spark, many_splits, tmp_path):
    """A micro-batch runs the same narrow coalesce and yields the batch
    rows (``partition_id`` aside: a stream plans its own splits)."""
    stream = (spark.readStream.schema(many_splits.schema)
              .parquet(many_splits.inputFiles()[0].rsplit("/", 1)[0]))
    out = compile_schema(CLIPS_CONSTRAINT_SCHEMA, stream.schema) \
        .violations(stream, "clip_id")
    q = (out.writeStream.format("memory").queryName("viol_stream_coalesce")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    try:
        q.awaitTermination(120)
        physical = q._jsq.explainInternal(False)
        assert len(COALESCE.findall(physical)) == 1, physical
        assert "Exchange" not in physical
        got = spark.table("viol_stream_coalesce").drop("partition_id")
        want = compile_schema(CLIPS_CONSTRAINT_SCHEMA, many_splits.schema) \
            .violations(many_splits, "clip_id").drop("partition_id")
        n, h = _count_and_hash(got)
        assert n > 0
        assert (n, h) == _count_and_hash(want)
    finally:
        q.stop()
        spark.catalog.dropTempView("viol_stream_coalesce")


def test_documented_api_example_runs(spark):
    """The package docstring's example, run as written."""
    code = textwrap.dedent(json_skema_spark.__doc__.split("Public API::")[1])
    df = clips_df_fast(spark, 2000)
    ns = {"schema_doc": CLIPS_CONSTRAINT_SCHEMA, "df": df}
    exec(code, ns)
    assert {"passed", "failures"} <= set(ns["verdicts"].columns)
    failing = ns["verdicts"].filter(~F.col("passed")).count()
    assert failing > 0
    viols = ns["viols"]
    assert viols.columns[0] == "row_key"
    assert viols.select("row_key").distinct().count() == failing
