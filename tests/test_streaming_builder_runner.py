"""Streaming validation, fluent builder, and the end-to-end runner."""

import glob
import os

from pyspark.sql import functions as F

from json_skema_spark import compile_schema
from json_skema_spark.plans.builder import SchemaBuilder
from json_skema_spark.runner import validate_table
from json_skema_spark.sources import clips as clips_src


def test_builder_generates_schema_doc():
    doc = (SchemaBuilder.object()
           .prop("clip_id", SchemaBuilder.string().pattern("^clip_"))
           .prop("sr_hz", SchemaBuilder.enum(8000, 16000))
           .prop("dur_ms", SchemaBuilder.integer().minimum(1).maximum(1000))
           .required("clip_id")
           .build())
    assert doc == {
        "type": "object",
        "properties": {
            "clip_id": {"type": "string", "pattern": "^clip_"},
            "sr_hz": {"enum": [8000, 16000]},
            "dur_ms": {"type": "integer", "minimum": 1, "maximum": 1000},
        },
        "required": ["clip_id"],
    }


def test_builder_schema_validates(spark):
    doc = (SchemaBuilder.object()
           .prop("a", SchemaBuilder.integer().minimum(5))
           .required("a").build())
    df = spark.createDataFrame([(6,), (3,), (None,)], "a int")
    from json_skema_spark import compile_schema
    plan = compile_schema(doc, df.schema)
    got = [r.passed for r in plan.apply(df, mode="verdict").collect()]
    assert got == [True, False, False]


def test_streaming_validation(spark, tmp_path):
    """Drive the same compiled plan over a file stream via foreachBatch."""
    src = str(tmp_path / "in")
    df = spark.createDataFrame(
        [("clip_000000000001", 16000), ("BAD", 99)], "clip_id string, sr_hz int")
    df.write.parquet(src)

    stream = spark.readStream.schema(df.schema).parquet(src)
    doc = {"properties": {"clip_id": {"pattern": "^clip_"},
                          "sr_hz": {"enum": [8000, 16000]}}}
    plan = compile_schema(doc, stream.schema)
    out = plan.apply(stream)
    assert out.isStreaming

    collected = []
    q = (out.writeStream.outputMode("append")
         .foreachBatch(lambda bdf, _id: collected.extend(
             bdf.select("clip_id", "passed").collect()))
         .trigger(availableNow=True)
         .start())
    q.awaitTermination(60)
    got = {r.clip_id: r.passed for r in collected}
    assert got == {"clip_000000000001": True, "BAD": False}

    vstream = plan.violations(stream, "clip_id")
    vrows = []
    q2 = (vstream.writeStream.outputMode("append")
          .foreachBatch(lambda bdf, _id: vrows.extend(bdf.collect()))
          .trigger(availableNow=True).start())
    q2.awaitTermination(60)
    assert {r.keyword for r in vrows} == {"pattern", "enum"}


def test_runner_end_to_end_with_resume(spark, tmp_path):
    out = str(tmp_path / "out")
    clips = clips_src.clips_df(spark, 200, audio=True, inject=True).cache()
    metrics = validate_table(spark, clips, out, num_buckets=4, check_audio=True)
    assert len(metrics) == 4
    assert sum(m["rows"] for m in metrics.values()) == 200
    viols = spark.read.parquet(os.path.join(out, "violations", "bucket=*"))
    assert viols.count() > 0  # injected violations surface
    prof = spark.read.parquet(os.path.join(out, "profile", "bucket=*"))
    assert prof.select("column_name").distinct().count() >= 4

    # resume: re-run is a no-op (all buckets committed)
    import json
    mpath = os.path.join(out, "_manifest", "manifest.json")
    before = open(mpath).read()
    metrics2 = validate_table(spark, clips, out, num_buckets=4, check_audio=True)
    assert json.loads(before)["completed"].keys() == \
        {str(b) for b in range(4)} == metrics2.keys() \
        | set(json.loads(before)["completed"])
    clips.unpersist()


def test_runner_revalidate_delta(spark, tmp_path):
    """Schema-evolution fast path: widening skips entirely; a tightened
    keyword re-validates against the delta only."""
    from json_skema_spark.runner import CLIPS_SCHEMA_DOC, revalidate_table
    import copy

    clips = clips_src.clips_df(spark, 120, audio=False, inject=False).cache()

    wider = copy.deepcopy(CLIPS_SCHEMA_DOC)
    wider["properties"]["dur_ms"]["maximum"] = 10_000_000
    res = revalidate_table(spark, clips, str(tmp_path / "o1"),
                           old_schema_doc=CLIPS_SCHEMA_DOC,
                           new_schema_doc=wider)
    assert res == {"revalidation": "skipped",
                   "reason": "backward-compatible"}
    assert not os.path.exists(str(tmp_path / "o1"))  # zero work, zero writes

    # the delta run lands in its own fingerprinted namespace, so reusing
    # the ORIGINAL v1 run's --out cannot silently resume the v1 manifest:
    # run the full v1 validation into o2 first, then revalidate into the
    # same o2 — the delta work must still happen
    out2 = str(tmp_path / "o2")
    validate_table(spark, clips, out2, schema_doc=CLIPS_SCHEMA_DOC,
                   num_buckets=2, check_audio=False)
    tighter = copy.deepcopy(CLIPS_SCHEMA_DOC)
    tighter["properties"]["dur_ms"]["maximum"] = 1500
    res2 = revalidate_table(spark, clips, out2,
                            old_schema_doc=CLIPS_SCHEMA_DOC,
                            new_schema_doc=tighter, num_buckets=2)
    assert res2["revalidation"] == "delta"
    assert res2["delta_schema"] == {
        "properties": {"dur_ms": {"maximum": 1500}}}
    assert res2["out_dir"].startswith(os.path.join(out2, "revalidate_"))
    viols = spark.read.parquet(
        os.path.join(res2["out_dir"], "violations", "bucket=*"))
    got = {r.keyword for r in viols.select("keyword").distinct().collect()}
    assert got == {"maximum"}  # only the narrowed keyword can newly fail
    n_over = clips.filter("dur_ms > 1500").count()
    assert viols.count() == n_over > 0
    clips.unpersist()


def test_runner_emit_clean_quarantine_split(spark, tmp_path):
    """emit_clean materializes exactly the rows with no violation of any
    kind (schema or audio) — the quarantine split a training pipeline
    consumes."""
    out = str(tmp_path / "out")
    clips = clips_src.clips_df(spark, 200, audio=True, inject=True).cache()
    metrics = validate_table(spark, clips, out, num_buckets=3,
                             check_audio=True, emit_clean=True)
    clean = spark.read.parquet(os.path.join(out, "clean", "bucket=*"))
    viols = spark.read.parquet(os.path.join(out, "violations", "bucket=*"))
    bad_keys = {r.row_key for r in
                viols.select("row_key").distinct().collect()
                if r.row_key is not None}
    clean_keys = {r.clip_id for r in clean.select("clip_id").collect()}
    assert clean_keys.isdisjoint(bad_keys)
    n_null_key_bad = viols.filter("row_key IS NULL").count()
    assert clean.count() + len(bad_keys) + (1 if n_null_key_bad else 0) \
        >= 200 - 1  # every row is either clean or attributed to a key
    assert sum(m["clean_rows"] for m in metrics.values()) == clean.count()
    assert clean.count() > 0
    clips.unpersist()


def test_emit_clean_excludes_duplicate_keys(spark, tmp_path):
    """Review regression: duplicated clip_ids (schema-clean, audio-clean)
    are flagged by violations_unique — every copy must be quarantined,
    not written to clean/."""
    from pyspark.sql import functions as F2

    clips = clips_src.clips_df(spark, 60, audio=False, inject=False)
    dup = clips.limit(1)  # duplicate one row wholesale
    both = clips.unionByName(dup)
    dup_id = dup.collect()[0].clip_id
    out = str(tmp_path / "out")
    validate_table(spark, both, out, num_buckets=2, check_audio=False,
                   emit_clean=True)
    clean = spark.read.parquet(os.path.join(out, "clean", "bucket=*"))
    assert clean.filter(F2.col("clip_id") == dup_id).count() == 0
    assert clean.count() == 59  # the other rows survive exactly once


def test_runner_stages_transcript_ref_once(spark, tmp_path):
    """Review regression: the transcript reference is co-bucketed ONCE and
    each bucket job reads only its own ref directory — not a full-ref join
    per bucket. Transcript mismatches still surface."""
    from json_skema_spark.sources.clips import transcripts_ref_df

    out = str(tmp_path / "out")
    clips = clips_src.clips_df(spark, 80, audio=True, inject=False).cache()
    ref = transcripts_ref_df(spark, 80)
    # corrupt one reference transcript to force a mismatch violation
    ref = ref.withColumn(
        "transcript",
        F.when(F.col("clip_id") == clips.limit(1).collect()[0].clip_id,
               F.lit("__wrong__")).otherwise(F.col("transcript")))
    validate_table(spark, clips, out, num_buckets=3, check_audio=True,
                   transcripts_ref=ref)
    assert os.path.exists(os.path.join(out, "_staging_ref", "_SUCCESS"))
    viols = spark.read.parquet(os.path.join(out, "violations", "bucket=*"))
    msgs = {r.message for r in viols.collect()}
    assert any("transcript" in m for m in msgs)
    clips.unpersist()
