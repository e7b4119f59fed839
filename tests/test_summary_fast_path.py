"""Round-6 optimization regressions: the summary leg fast path and the
codegen-friendly `required` verdict condition.

The summary fast path (ValidationPlan.summary over Compiled.legs) must be
row-for-row identical to the explode formulation it replaces, and must NOT
engage for schemas whose failure legs are non-simple (combinators,
per-element array failures) — those keep the explode path.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from json_skema_spark import compile_schema

SIMPLE = {
    "type": "object",
    "properties": {
        "a": {"type": "integer", "minimum": 2, "multipleOf": 2},
        "b": {"type": "string", "minLength": 2, "pattern": "^x"},
        "c": {"enum": ["u", "v"]},
    },
    "required": ["a", "b"],
}

COMBINATOR = {
    "type": "object",
    "properties": {
        "a": {"anyOf": [{"minimum": 5}, {"multipleOf": 3}]},
    },
}


@pytest.fixture(scope="module")
def table(spark):
    rows = [
        (4, "xy", "u"),          # all pass
        (3, "xz", "u"),          # multipleOf fails
        (1, "q", "w"),           # minimum+multipleOf? 1<2 min, odd; b wrong
        (None, None, None),      # required a, required b
        (8, "x", "v"),           # minLength fails
    ]
    return spark.createDataFrame(rows, "a int, b string, c string")


def _explode_counts(plan, df):
    return (df.filter(~plan.passed)
            .select(plan.counted_failures.alias("failures"))
            .select(F.explode("failures").alias("f"))
            .groupBy(F.col("f.keyword").alias("keyword"),
                     F.col("f.keyword_location").alias("keyword_location"))
            .agg(F.count("*").alias("n_violations")))


def test_simple_schema_has_legs(table):
    plan = compile_schema(SIMPLE, table.schema)
    assert plan._compiled.legs, "simple scalar schema must be summarizable"


def test_fast_path_matches_explode(table):
    plan = compile_schema(SIMPLE, table.schema)
    fast = {(r.keyword, r.keyword_location): r.n_violations
            for r in plan.summary(table).collect()}
    slow = {(r.keyword, r.keyword_location): r.n_violations
            for r in _explode_counts(plan, table).collect()}
    assert fast == slow and fast, f"fast={fast} slow={slow}"


def test_combinator_schema_falls_back(table):
    plan = compile_schema(COMBINATOR, table.schema)
    assert plan._compiled.legs is None, \
        "anyOf wraps child failures — legs must poison to None"
    # and the fallback still produces the right counts
    out = {(r.keyword, r.keyword_location): r.n_violations
           for r in plan.summary(table).collect()}
    slow = {(r.keyword, r.keyword_location): r.n_violations
            for r in _explode_counts(plan, table).collect()}
    assert out == slow


def test_required_cond_or_chain_matches_filter_size(table):
    """The OR-chain `required` verdict must equal the old
    size(filter(missing)) > 0 semantics on every null combination."""
    schema = {"type": "object", "required": ["a", "b", "c"]}
    plan = compile_schema(schema, table.schema)
    got = [r.passed for r in
           plan.apply(table, mode="verdict").select("passed").collect()]
    want = [r.ok for r in table.select(
        (F.size(F.filter(
            F.array(*[F.when(F.col(n).isNull(), F.lit(n))
                      for n in ("a", "b", "c")]),
            lambda x: x.isNotNull())) <= 0).alias("ok")).collect()]
    assert got == want


def test_summary_empty_table(spark):
    df = spark.createDataFrame([], "a int, b string, c string")
    plan = compile_schema(SIMPLE, df.schema)
    assert plan.summary(df).count() == 0


def test_allof_legs_match_explode(spark):
    """allOf composes children by plain accumulation, so its legs stay
    summarizable; per-branch counts must match the explode formulation."""
    df = spark.createDataFrame([(1,), (9,), (None,)], "a int")
    schema = {"type": "object",
              "properties": {"a": {"allOf": [{"minimum": 3}, {"minimum": 5}]}}}
    plan = compile_schema(schema, df.schema)
    fast = {(r.keyword, r.keyword_location): r.n_violations
            for r in plan.summary(df).collect()}
    slow = {(r.keyword, r.keyword_location): r.n_violations
            for r in _explode_counts(plan, df).collect()}
    assert fast == slow and fast


ARRAY_SCHEMA = {
    "type": "object",
    "properties": {
        "toks": {
            "type": "array",
            "minItems": 4,
            "maxItems": 6,
            "uniqueItems": True,
            "items": {"type": "string", "minLength": 1, "maxLength": 6},
            "contains": {"pattern": "^[aeiou]"},
            "minContains": 1,
            "maxContains": 1,
        }
    },
}


def test_items_and_contains_failures_keep_their_keywords(spark):
    """``items`` and ``contains`` on one array compile separate element
    schemas; each must report its own failures in both the summary (explode
    path: per-element failures have no legs) and the violations."""
    rows = [
        (1, ["apple", "b", "c", "d"]),                       # passes
        (2, ["toolongword", "b", "c", "d"]),                 # maxLength, contains
        (3, ["apple", "egg", "x", "", "x"]),                 # minLength, maxContains, uniqueItems
        (4, ["a", "b"]),                                     # minItems
        (5, None),                                           # absent: passes
        (6, ["e", "toolong1", "x", "y", "z", "w", "v"]),     # maxItems, maxLength
    ]
    df = spark.createDataFrame(rows, "id int, toks array<string>")
    plan = compile_schema(ARRAY_SCHEMA, df.schema)
    assert plan._compiled.legs is None
    loc = "#/properties/toks"
    want = {
        ("maxLength", f"{loc}/items/maxLength"): 2,
        ("minLength", f"{loc}/items/minLength"): 1,
        ("contains", f"{loc}/contains"): 1,
        ("maxContains", f"{loc}/contains"): 1,
        ("uniqueItems", f"{loc}/uniqueItems"): 1,
        ("minItems", f"{loc}/minItems"): 1,
        ("maxItems", f"{loc}/maxItems"): 1,
    }
    summary = {(r.keyword, r.keyword_location): r.n_violations
               for r in plan.summary(df).collect()}
    assert summary == want
    violations: dict = {}
    for r in plan.violations(df, "id").collect():
        k = (r.keyword, r.keyword_location)
        violations[k] = violations.get(k, 0) + 1
    assert violations == want
