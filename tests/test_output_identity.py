"""Output identity of ``violations()`` and ``summary()``: the count and the
sum of per-row ``xxhash64`` of every output row equal values recorded from
the format_string / verdict pre-filter / explode implementation that
preceded the one-pass violations plan. Covers the 2k-row ``clips_df_fast``
table under the constraint schema, the dense "bad deploy" schema and the
dense schema with ``minLength 3`` and a ``pattern`` on ``transcript``; the
driver's ``ARRAY_SCHEMA`` over sf0.001; ``file_lineage=True`` on the plan;
and the violations ``runner.validate_table`` writes with file lineage.
"""

from __future__ import annotations

import copy
import os

import pytest
from pyspark.sql import functions as F

from json_skema_spark import compile_schema, runner
from json_skema_spark.sources.clips import CLIPS_CONSTRAINT_SCHEMA, clips_df_fast


def _dense() -> dict:
    doc = copy.deepcopy(CLIPS_CONSTRAINT_SCHEMA)
    props = doc["properties"]
    props["transcript"]["maxLength"] = 150
    props["dur_ms"]["maximum"] = 5000
    props["sr_hz"]["enum"] = [16000, 44100, 48000]
    return doc


def _dense_plus() -> dict:
    doc = _dense()
    doc["properties"]["transcript"].update(minLength=3, pattern="^w0")
    return doc


SCHEMAS = {"constraint": CLIPS_CONSTRAINT_SCHEMA, "dense": _dense(),
           "dense_plus": _dense_plus()}

# (rows, sum of xxhash64 over all output columns)
EXPECTED = {
    "constraint": {"violations": (60, -52118910725921687836),
                   "summary": (6, 17367960870717099352)},
    "dense": {"violations": (1032, -299755590331557624959),
              "summary": (7, 15582353504678683849)},
    "dense_plus": {"violations": (2281, -238812447810067007739),
                   "summary": (8, 18231261152945246820)},
    "array": {"violations": (789, -244842636778279012363),
              "summary": (6, -25207448023716805168)},
    # row_key, keyword, keyword_location, instance_location, dynamic_path,
    # message of runner.validate_table(dense_plus, file_lineage=True)
    "runner": (2281, 258104697836443894567),
}


def _digest(df) -> tuple[int, int]:
    row = df.agg(F.count("*").alias("n"),
                 F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)"))
                 .alias("h")).first()
    return row["n"], int(row["h"])


@pytest.fixture(scope="module")
def clips(spark, tmp_path_factory):
    """One parquet file, so ``partition_id`` is 0 on every row."""
    path = str(tmp_path_factory.mktemp("identity") / "clips")
    clips_df_fast(spark, 2000).coalesce(1).write.parquet(path)
    return spark.read.parquet(path)


@pytest.mark.parametrize("name", sorted(SCHEMAS))
def test_clips_outputs_identical(clips, name):
    plan = compile_schema(SCHEMAS[name], clips.schema)
    want = EXPECTED[name]
    assert _digest(plan.violations(clips, "clip_id")) == want["violations"]
    assert _digest(plan.summary(clips)) == want["summary"]
    lineage = plan.violations(clips, "clip_id", file_lineage=True)
    assert lineage.columns[-1] == "source_file"
    assert _digest(lineage.drop("source_file")) == want["violations"]


def test_array_outputs_identical(spark):
    import __spark_entry__ as entry
    toks = entry._array_toks(spark, "/root/testdata/sf0.001")
    plan = compile_schema(entry.ARRAY_SCHEMA, toks.schema)
    assert _digest(plan.violations(toks, "doc_id")) \
        == EXPECTED["array"]["violations"]
    assert _digest(plan.summary(toks)) == EXPECTED["array"]["summary"]


def test_runner_lineage_outputs_identical(spark, clips, tmp_path):
    out = str(tmp_path / "run")
    runner.validate_table(spark, clips, out, schema_doc=_dense_plus(),
                          check_audio=False, num_buckets=2,
                          file_lineage=True)
    v = spark.read.parquet(os.path.join(out, "violations"))
    # one input file; Spark spells its URI file:/ or file:///
    src = {os.path.basename(r[0])
           for r in v.select("source_file").distinct().collect()}
    assert src == {os.path.basename(f) for f in clips.inputFiles()}
    assert _digest(v.select("row_key", "keyword", "keyword_location",
                            "instance_location", "dynamic_path",
                            "message")) == EXPECTED["runner"]
