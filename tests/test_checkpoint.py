"""Checkpointed resume (operators/checkpoint.py): what the manifest records
about the staging, and the guards a resume runs against that record."""

import json

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from json_skema_spark.operators import checkpoint


def _crash(bucket_df, bucket_id):
    raise RuntimeError("simulated crash")


def _stage_then_crash(df, mdir):
    with pytest.raises(RuntimeError, match="simulated crash"):
        checkpoint.run_resumable(df, "clip_id", 2,
                                 checkpoint.PartitionManifest(mdir), _crash)


def test_resume_without_recorded_schema_refused(spark, tmp_path):
    """A manifest written before the staged schema was recorded cannot be
    checked against this invocation's source: the resume refuses and
    points at the restage instead of reading the staging unchecked."""
    df = spark.createDataFrame([(f"c{i}", i) for i in range(10)],
                               "clip_id string, v int")
    mdir = str(tmp_path / "m")
    _stage_then_crash(df, mdir)
    m = checkpoint.PartitionManifest(mdir)
    state = json.loads(open(m.path).read())
    del state["staged_schema"]
    open(m.path, "w").write(json.dumps(state))
    with pytest.raises(ValueError, match="delete the manifest to restage"):
        checkpoint.run_resumable(df, "clip_id", 2,
                                 checkpoint.PartitionManifest(mdir),
                                 lambda b, i: {})


def test_schema_guard_holds_over_an_empty_staging(spark, tmp_path):
    """A 0-row input stages no data file at all; the resume still refuses
    a source that gained a column, and the same source resumes clean."""
    df = spark.createDataFrame([], "clip_id string, v int")
    mdir = str(tmp_path / "m")
    _stage_then_crash(df, mdir)
    with pytest.raises(ValueError, match="lang missing from staged files"):
        checkpoint.run_resumable(df.withColumn("lang", F.lit("en")),
                                 "clip_id", 2,
                                 checkpoint.PartitionManifest(mdir),
                                 lambda b, i: {})
    metrics = checkpoint.run_resumable(df, "clip_id", 2,
                                       checkpoint.PartitionManifest(mdir),
                                       lambda b, i: {"rows": b.count()})
    assert {k: m["rows"] for k, m in metrics.items()} == {"0": 0, "1": 0}


def test_nullability_only_difference_resumes(spark, tmp_path):
    """Staged from an in-memory frame, resumed from its parquet copy: the
    two schemas differ only in nullability, which the explicit-schema
    bucket read tolerates — not a schema drift."""
    strict = T.StructType([T.StructField("clip_id", T.StringType(), False),
                           T.StructField("v", T.IntegerType(), False)])
    df = spark.createDataFrame([(f"c{i}", i) for i in range(10)], strict)
    mdir = str(tmp_path / "m")
    _stage_then_crash(df, mdir)
    src = str(tmp_path / "copy")
    df.write.parquet(src)
    copy = spark.read.parquet(src)
    assert copy.schema != df.schema
    metrics = checkpoint.run_resumable(copy, "clip_id", 2,
                                       checkpoint.PartitionManifest(mdir),
                                       lambda b, i: {"rows": b.count()})
    assert sum(m["rows"] for m in metrics.values()) == 10
