"""Regressions for the round-5 second review pass (least-revisited files:
render, suite loader, util, validate_stream)."""

import json
import os

import pytest
from pyspark.sql import functions as F

from json_skema_spark import compile_schema


def test_to_json_document_null_failures_renders_as_pass(spark):
    """A SQL-NULL failures array (left-outer join, writer nulling empty
    arrays) must render NULL, not the 'multiple validation failures'
    aggregate — size(NULL) is NULL and used to fall through both when()
    branches into otherwise(agg)."""
    from json_skema_spark.plans.render import to_json_document

    arr_t = ("array<struct<instance_location:string,keyword_location:string,"
             "dynamic_path:string,message:string,keyword:string>>")
    df = spark.createDataFrame([("r1",), ("r2",)], "k string").withColumn(
        "failures",
        F.when(F.col("k") == "r2", F.expr(
            "array(named_struct('instance_location','#','keyword_location',"
            "'#/type','dynamic_path','#','message','boom','keyword','type'))"
        )).otherwise(F.lit(None)).cast(arr_t))
    out = {r["row_key"]: r["failure_json"]
           for r in to_json_document(df, "k").collect()}
    assert out["r1"] is None
    assert json.loads(out["r2"])["keyword"] == "type"


def test_parse_bytes_tera_peta_and_unknown_suffix():
    from json_skema_spark.operators.util import _parse_bytes

    assert _parse_bytes("1t") == 1 << 40
    assert _parse_bytes("2tb") == 2 << 40
    assert _parse_bytes("1p") == 1 << 50
    assert _parse_bytes("3pb") == 3 << 50
    # unknown suffix = unparseable -> Spark default, NOT bytes ("1t" as
    # 1 byte made ensure_parallelism skip the repartition silently)
    assert _parse_bytes("7zz") == 128 << 20


def test_suite_format_dir_is_segment_matched(tmp_path):
    """'not-optional/format' must NOT be the format dir (substring match
    made it run with assertion ALWAYS); files under optional/format/sub/
    must load instead of being silently skipped."""
    from json_skema_spark.sources.suite import load_suite_groups

    group = [{"description": "g", "schema": True,
              "tests": [{"description": "t", "data": 1, "valid": True}]}]
    base = tmp_path / "draft2020-12"
    for rel in ("not-optional/format", "optional/format/sub"):
        d = base / rel
        d.mkdir(parents=True)
        (d / "date.json").write_text(json.dumps(group))

    groups = load_suite_groups(str(tmp_path))
    by_file = {g.file: g for g in groups}
    assert by_file["not-optional/format/date.json"].is_format is False
    assert "optional/format/sub/date.json" in by_file
    assert by_file["optional/format/sub/date.json"].is_format is True


DOC = {
    "type": "object",
    "properties": {
        "a": {"type": "integer", "minimum": 3},
        "b": {"enum": ["x", "y"]},
    },
    "required": ["a"],
}


def test_violation_rate_counts_match_full_plan_and_prefilters(spark):
    """violation_rate must count exactly what the full-message explode
    counts, while filtering on the boolean verdict and counting from the
    compiled legs (the same count path as summary())."""
    from json_skema_spark.streaming.validate_stream import violation_rate

    rows = [(i if i % 5 else None,
             "x" if i % 3 == 0 else ("y" if i % 3 == 1 else "z"),
             f"2024-01-01 00:{i % 60:02d}:00") for i in range(120)]
    df = (spark.createDataFrame(rows, "a int, b string, ts string")
          .withColumn("ts", F.col("ts").cast("timestamp")))

    got = {(r["keyword"], r["window_start"]): r["n_violations"]
           for r in violation_rate(df, DOC, "ts", window="1 hour").collect()}

    plan = compile_schema(DOC, df.schema)
    full = (df.withColumn("failures", plan.failures)
            .select(F.window("ts", "1 hour").alias("w"),
                    F.explode("failures").alias("f"))
            .groupBy(F.col("f.keyword"), F.col("w.start"))
            .count().collect())
    want = {(r["keyword"], r["start"]): r["count"] for r in full}
    assert got == want and got  # non-vacuous

    # structural: a verdict Filter sits in the plan, and the counts come
    # from the compiled legs: no failure struct is ever built
    opt = (violation_rate(df, DOC, "ts", window="1 hour")
           ._jdf.queryExecution().optimizedPlan().toString())
    assert "Filter" in opt
    assert "instance_location" not in opt


def test_get_field_exotic_property_names(spark):
    """Spark variant bracket paths have NO escape sequences: an escaped
    quote raised INVALID_VARIANT_GET_PATH (job death for a legal schema)
    and an escaped backslash looked up the wrong key (property silently
    absent). Pin the quote-style selection end-to-end through a compiled
    open-JSON schema."""
    import json

    from pyspark.sql import types as T
    from json_skema_spark.plans.compile import Compiler
    from json_skema_spark.plans import variant as V

    keys = ["a'b", 'a"b', "a\\b", "a'\"b"]
    doc = json.dumps({k: 5 for k in keys})
    df = spark.createDataFrame([(doc,)], "j string")
    schema = {"type": "object",
              "properties": {k: {"minimum": 3} for k in keys},
              "required": keys}
    comp = Compiler(schema)
    c = comp.compile_value(F.parse_json(F.col("j")), T.VariantType())
    rows = df.select(c.passed.alias("p")).collect()
    assert rows[0]["p"] is True
    # a failing value is SEEN (not silently absent) for the backslash key
    bad = spark.createDataFrame([(json.dumps({k: 1 for k in keys}),)],
                                "j string")
    c2 = Compiler({"type": "object",
                   "properties": {"a\\b": {"minimum": 3}}}).compile_value(
        F.parse_json(F.col("j")), T.VariantType())
    assert bad.select(c2.passed.alias("p")).collect()[0]["p"] is False
    # both quotes + a dot is unrepresentable: loud compile-time error
    with pytest.raises(Exception, match="variant extraction path"):
        df.select(V.get_field(F.parse_json(F.col("j")), "a'\".b")).collect()


def test_windowed_drift_all_null_baseline_no_false_alarm(spark):
    """approx_distinct==0 on both sides (all-null column in baseline AND
    window) is an identical distribution — the batch drift_report guard
    (review r04) must be mirrored in the streaming twin."""
    from json_skema_spark.streaming.drift_stream import windowed_drift

    rows = [(None, f"2024-01-01 00:00:{i:02d}") for i in range(10)]
    df = (spark.createDataFrame(rows, "x string, ts string")
          .withColumn("ts", F.col("ts").cast("timestamp")))
    baseline = {"x": {"null_fraction": 1.0, "approx_distinct": 0}}
    out = windowed_drift(df, baseline, "ts", window="1 hour").collect()
    assert len(out) == 1
    assert out[0]["distinct_drift"] is False
    assert out[0]["null_drift"] is False
    assert out[0]["distinct_ratio"] == 1.0


def test_contamination_probes_normalized_to_shingle_form(spark):
    """Case-mismatched probes must match (shingles lowercase the text) and
    a double-spaced probe must word-count AFTER collapsing — both used to
    make the gate silently inert."""
    from json_skema_spark.operators.contamination import contamination_flags

    df = spark.createDataFrame(
        [("d1", "contains the quick fox indeed"), ("d2", "clean text here")],
        "id string, text string")
    out = {r["id"]: r["contaminated"] for r in contamination_flags(
        df, "text", "id", ["The  Quick   Fox"], n=3).collect()}
    assert out == {"d1": True, "d2": False}
    clean = [r["id"] for r in contamination_flags(
        df, "text", "id", ["The Quick Fox"], n=3).collect()
        if not r["contaminated"]]
    assert clean == ["d2"]
    # 2 real words hiding behind a double space: still raises for n=3
    with pytest.raises(ValueError, match="2 words"):
        contamination_flags(df, "text", "id", ["the  fox"], n=3)


def test_compat_schema_dialect_change_refuses_certification():
    """$schema is NOT an annotation in this engine: the dialect's
    $vocabulary gates which keywords compile, so a byte-identical body
    under a new dialect can enforce previously-stripped keywords — it
    must never certify as compatible with no re-validation."""
    from json_skema_spark.plans.compat import (delta_schema,
                                               is_backward_compatible)

    old = {"$schema": "https://example.test/meta/no-validation",
           "type": "integer", "minimum": 3}
    new = dict(old, **{
        "$schema": "https://json-schema.org/draft/2020-12/schema"})
    assert is_backward_compatible(old, new) is False
    assert delta_schema(old, new) is not None


def test_compat_anchor_rename_refuses_certification():
    """An anchor rename used to be an annotation-only diff, taking the
    `if not changes` early-out PAST the unlocalizable-ref refusal and
    certifying a v2 whose '#name' refs silently re-target."""
    from json_skema_spark.plans.compat import is_backward_compatible

    old = {"$defs": {"a": {"$anchor": "x", "type": "string"},
                     "b": {"type": "integer"}},
           "properties": {"p": {"$ref": "#x"}}}
    new = {"$defs": {"a": {"$anchor": "y", "type": "string"},
                     "b": {"$anchor": "x", "type": "integer"}},
           "properties": {"p": {"$ref": "#x"}}}
    assert is_backward_compatible(old, new) is False
    # $dynamicAnchor too
    old2 = {"$defs": {"a": {"$dynamicAnchor": "m", "type": "string"}}}
    new2 = {"$defs": {"a": {"$dynamicAnchor": "n", "type": "string"}}}
    assert is_backward_compatible(old2, new2) is False


def test_compat_items_true_added_is_widening():
    """Adding items:true (or items:{}) asserts nothing — it must not be
    classified narrowing and force a 10^12-row re-validation."""
    from json_skema_spark.plans.compat import (delta_schema,
                                               is_backward_compatible)

    old = {"type": "array"}
    for noop in (True, {}):
        new = {"type": "array", "items": noop}
        assert is_backward_compatible(old, new) is True
        assert delta_schema(old, new) is None
    # a REAL items constraint still narrows
    new = {"type": "array", "items": {"type": "integer"}}
    assert is_backward_compatible(old, new) is False


def test_profiling_handles_dotted_column_names(spark):
    """A top-level column literally named 'a.b' must profile as itself —
    unquoted F.col parsed it as struct access (AnalysisException, or
    silently another field's stats when a struct 'a' also exists)."""
    from json_skema_spark.operators.infer import suggest_constraints
    from json_skema_spark.operators.stats import (merge_profiles,
                                                  mergeable_profile, profile)

    df = (spark.createDataFrame([(1, "s1"), (2, "s2"), (9, None)],
                                "x int, y string")
          .withColumnRenamed("x", "a.b")
          .withColumn("a", F.struct(F.lit(999).alias("b"))))
    prof = {r["column_name"]: r for r in
            profile(df, ["a.b", "y"]).collect()}
    assert prof["a.b"]["min_value"] == "1"
    assert prof["a.b"]["max_value"] == "9"
    parts = mergeable_profile(df, ["a.b"])
    assert parts.count() == 1
    merged = {r["column_name"]: r for r in merge_profiles(parts).collect()}
    assert merged["a.b"]["min_value"] == "1"
    assert merged["a.b"]["approx_distinct"] == 3
    # 3 distinct values -> the enum path supersedes min/max; the exact
    # value set proves resolution (a silent struct read would mine [999])
    sugg = {(r["column_name"], r["keyword"]): r["value"]
            for r in suggest_constraints(df, ["a.b"]).collect()}
    assert sugg[("a.b", "enum")] == "[1,2,9]"
    # force the min/max branch too: threshold below the distinct count
    sugg2 = {(r["column_name"], r["keyword"]): r["value"]
             for r in suggest_constraints(
                 df, ["a.b"], enum_max_distinct=1).collect()}
    assert sugg2[("a.b", "minimum")] == "1"
    assert sugg2[("a.b", "maximum")] == "9"


def test_merge_profiles_scale0_decimal_exact_past_2_53(spark):
    """decimal(20,0) ids past 2^53 used to fold through double in
    mergeable_profile, contradicting profile()'s exact rendering."""
    from json_skema_spark.operators.stats import (merge_profiles,
                                                  mergeable_profile, profile)

    big = 2 ** 60
    df = spark.sql(
        f"select cast(v as decimal(20,0)) as d from "
        f"values ({big}), ({big + 1}) t(v)")
    exact = {r["column_name"]: r for r in profile(df, ["d"]).collect()}
    merged = {r["column_name"]: r for r in
              merge_profiles(mergeable_profile(df, ["d"])).collect()}
    assert merged["d"]["min_value"] == exact["d"]["min_value"] == str(big)
    assert merged["d"]["max_value"] == exact["d"]["max_value"] == str(big + 1)
