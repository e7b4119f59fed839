"""End-to-end slice (SURVEY.md §7): compile the clips schema, validate a tiny
DataFrame, check verdicts + violation lineage."""

import pytest
from pyspark.sql import types as T

from json_skema_spark import compile_schema, validate

CLIPS_SCHEMA = {
    "type": "object",
    "properties": {
        "clip_id": {"type": "string", "pattern": "^clip_[0-9a-f]{12}$"},
        "sr_hz": {"enum": [8000, 16000, 22050, 44100, 48000]},
        "dur_ms": {"type": "integer", "minimum": 1, "maximum": 600000},
        "codec": {"enum": ["pcm_s16le", "flac", "opus"]},
        "transcript": {"type": "string", "minLength": 1},
    },
    "required": ["clip_id", "bytes", "sr_hz", "dur_ms", "codec", "transcript"],
}

CLIPS_TYPE = T.StructType([
    T.StructField("clip_id", T.StringType()),
    T.StructField("bytes", T.BinaryType()),
    T.StructField("sr_hz", T.IntegerType()),
    T.StructField("dur_ms", T.IntegerType()),
    T.StructField("codec", T.StringType()),
    T.StructField("transcript", T.StringType()),
])


def _mk(spark, rows):
    return spark.createDataFrame(rows, CLIPS_TYPE)


def test_clips_end_to_end(spark):
    good = ("clip_0000000000ab", b"x", 16000, 1200, "flac", "hello world")
    bad_sr = ("clip_0000000000ac", b"x", 11025, 1200, "opus", "hi")
    bad_many = ("CLIP-3", b"x", 0, 0, "mp3", "")
    missing = (None, None, 16000, 5, "flac", "ok")
    df = _mk(spark, [good, bad_sr, bad_many, missing])

    plan = compile_schema(CLIPS_SCHEMA, df.schema)
    out = plan.apply(df).select("clip_id", "passed").collect()
    verdicts = {r.clip_id: r.passed for r in out}
    assert verdicts["clip_0000000000ab"] is True
    assert verdicts["clip_0000000000ac"] is False
    assert verdicts["CLIP-3"] is False
    assert verdicts[None] is False

    viols = plan.violations(df, "clip_id").collect()
    by_key = {}
    for v in viols:
        by_key.setdefault(v.row_key, []).append(v)

    sr = [v for v in by_key["clip_0000000000ac"] if v.keyword == "enum"]
    assert len(sr) == 1
    assert sr[0].keyword_location == "#/properties/sr_hz/enum"
    assert sr[0].instance_location == "#/sr_hz"
    assert sr[0].dynamic_path == "#/properties/sr_hz/enum"
    assert sr[0].message == "the instance is not equal to any enum values"

    kws = {v.keyword for v in by_key["CLIP-3"]}
    assert {"pattern", "enum", "minimum", "minLength"} <= kws
    m = {v.keyword: v.message for v in by_key["CLIP-3"]}
    assert m["minimum"] == "0 is lower than minimum 1"
    assert m["minLength"] == "actual string length 0 is lower than minLength 1"
    assert m["pattern"] == "instance value did not match pattern ^clip_[0-9a-f]{12}$"

    req = [v for v in viols if v.keyword == "required"]
    assert len(req) == 1
    assert req[0].message == "required properties are missing: clip_id, bytes"


def test_verdict_counts(spark):
    df = _mk(spark, [("clip_0000000000ab", b"x", 16000, 1200, "flac", "t"),
                     ("nope", b"x", 16000, 1200, "flac", "t")])
    plan = compile_schema(CLIPS_SCHEMA, df.schema)
    counts = {r.passed: r.n_rows for r in plan.verdict_counts(df).collect()}
    assert counts == {True: 1, False: 1}


def test_unknown_mode_raises(spark):
    """A mode typo raises instead of falling through to another mode's
    output; the valid modes keep theirs."""
    df = _mk(spark, [("clip_0000000000ab", b"x", 16000, 1200, "flac", "t"),
                     ("nope", b"x", 16000, 1200, "flac", "t")])
    plan = compile_schema(CLIPS_SCHEMA, df.schema)
    for typo in ("verdicts", "Verdict", "violation", "", None):
        with pytest.raises(ValueError, match="'verdict', 'full'$"):
            plan.apply(df, mode=typo)
        with pytest.raises(ValueError, match="'verdict', 'full', 'violations'"):
            validate(df, CLIPS_SCHEMA, row_key="clip_id", mode=typo)
    with pytest.raises(ValueError, match="unknown mode 'violations'"):
        plan.apply(df, mode="violations")

    passed = {"clip_0000000000ab": True, "nope": False}
    verdict = validate(df, CLIPS_SCHEMA, mode="verdict")
    assert verdict.columns == df.columns + ["passed"]
    assert {r.clip_id: r.passed for r in verdict.collect()} == passed
    full = validate(df, CLIPS_SCHEMA, mode="full")
    assert full.columns == df.columns + ["passed", "failures"]
    assert {r.clip_id: [f.keyword for f in r.failures]
            for r in full.collect()} == {"clip_0000000000ab": [],
                                         "nope": ["pattern"]}
    viols = validate(df, CLIPS_SCHEMA, row_key="clip_id", mode="violations")
    assert [(v.row_key, v.keyword) for v in viols.collect()] == \
        [("nope", "pattern")]
