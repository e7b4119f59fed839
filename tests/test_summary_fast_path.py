"""The summary's one count path and the codegen-friendly `required`
verdict condition.

ValidationPlan.summary sums Compiled.legs. It must be row-for-row identical
to grouping the exploded ``failures``, for every schema: the corpus below
holds one case per place where legs combine (combinators, gates, array
elements, variant views, unevaluated*).
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
    return (df.select(plan.failures.alias("failures"))
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


def test_combinator_schema_counts_from_legs(table):
    plan = compile_schema(COMBINATOR, table.schema)
    assert plan._compiled.legs, "anyOf must carry its branches' legs"
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
    schemas; each must report its own failures in both the summary (items
    legs sum over the elements) and the violations."""
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
    assert plan._compiled.legs
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


# One case per site where legs combine: (schema, DDL, rows, compiler
# kwargs). Every case has failing rows, except the accept-all schema.
INTS = [(None,), (-4,), (0,), (1,), (3,), (4,), (6,), (7,), (12,)]
ARRS = [(None,), ([],), ([1],), ([-1, 20],), ([1, 3, None, 5],),
        ([0, 2, 4, 6, 8],), ([-2, 11, 7, None, 9, 30],)]
JSON = [(None,), ("null",), ("3",), ('"s"',), ("{}",), ('{"x": null}',),
        ('{"x": 0}',), ('{"x": 2, "y": 1}',), ("[]",), ("[1, null, -1]",),
        ('[2, "a", [0]]',), ('{"x": [1, -5], "z": {"x": 0}}',)]
NESTED = [(None,), ([],), ([[1, 2], None, [-1]],), ([[], [5, -3, -4]],),
          ([[0], [1, None, 2]],)]


def _int(sub):
    return {"properties": {"a": sub}}


CORPUS = {
    "anyOf": (_int({"anyOf": [{"minimum": 5}, {"multipleOf": 3}]}),
              "a int", INTS, {}),
    # 1 and -4 match neither branch, 7 and 4 one, 6 and 12 both
    "oneOf": (_int({"oneOf": [{"minimum": 5}, {"multipleOf": 2}]}),
              "a int", INTS, {}),
    "if_then": (_int({"if": {"minimum": 3}, "then": {"multipleOf": 2}}),
                "a int", INTS, {}),
    "if_else": (_int({"if": {"minimum": 3}, "else": {"maximum": -1}}),
                "a int", INTS, {}),
    "if_then_else": (_int({"if": {"minimum": 3},
                           "then": {"multipleOf": 2, "maximum": 6},
                           "else": {"maximum": -1}}), "a int", INTS, {}),
    "dependentSchemas": (
        {"dependentSchemas": {"a": {"required": ["b"],
                                    "properties": {"b": {"minimum": 0}}},
                              "b": {"properties": {"a": {"maximum": 3}}}}},
        "a int, b int",
        [(None, None), (1, None), (1, -1), (4, 2), (None, -3), (2, 5)], {}),
    "prefixItems": (_int({"prefixItems": [{"minimum": 0},
                                          {"maximum": 10}]}),
                    "a array<int>", ARRS, {}),
    "items_after_prefix": (
        _int({"prefixItems": [{"minimum": 0}],
              "items": {"multipleOf": 2, "maximum": 8}}),
        "a array<int>", ARRS, {}),
    "items_nested_array": (
        _int({"items": {"minItems": 1,
                        "items": {"minimum": 0, "multipleOf": 2}}}),
        "a array<array<int>>", NESTED, {}),
    "contains": (_int({"contains": {"minimum": 5}, "minContains": 2,
                       "maxContains": 3}), "a array<int>", ARRS, {}),
    "false_subschema": (_int(False), "a int", INTS, {}),
    "unevaluatedProperties": (
        # base fails where b < 0; c is unevaluated where base passes
        {"properties": {"s": {"properties": {"b": {"minimum": 0}},
                              "unevaluatedProperties": {"maximum": 2}}}},
        "s struct<b:int,c:int>",
        [(None,), ((-1, 9),), ((1, 9),), ((1, 1),), ((None, 5),),
         ((-2, None),)], {}),
    "unevaluatedItems": (
        _int({"prefixItems": [{"minimum": 0}],
              "unevaluatedItems": {"maximum": 5}}),
        "a array<int>", ARRS, {}),
}
for strict in (False, True):
    sfx = "_strict" if strict else ""
    CORPUS["variant_views" + sfx] = (
        {"properties": {"j": {
            "properties": {"x": {"minimum": 1,
                                 "items": {"minimum": 0}}},
            "required": ["x"], "minProperties": 2,
            "items": {"type": "integer", "minimum": 0},
            "minItems": 2}}},
        "j string", JSON, {"strict_nulls": strict})
    CORPUS["variant_unevaluated" + sfx] = (
        {"properties": {"j": {
            "properties": {"x": {"minimum": 1}},
            "unevaluatedProperties": False,
            "prefixItems": [{"type": "integer"}],
            "unevaluatedItems": {"type": "integer"}}}},
        "j string", JSON, {"strict_nulls": strict})


def _corpus_table(spark, ddl, rows):
    df = spark.createDataFrame(rows, ddl)
    if ddl == "j string":
        df = df.select(F.parse_json("j").alias("j"))
    return df


@pytest.mark.parametrize("case", sorted(CORPUS))
def test_summary_equals_failures_explode(spark, case):
    """summary() equals the grouped explode of ``failures`` row for row,
    and per row the legs' counts add up to the failure array's size."""
    schema, ddl, rows, kwargs = CORPUS[case]
    df = _corpus_table(spark, ddl, rows)
    plan = compile_schema(schema, df.schema, **kwargs)
    assert plan._compiled.legs
    got = sorted(plan.summary(df).collect())
    want = sorted(_explode_counts(plan, df)
                  .select("keyword", "keyword_location", "n_violations")
                  .collect())
    assert got == want and got, case
    total = sum(plan.counts.values(), start=F.lit(0))
    sizes = df.select(total.alias("n"), F.size(plan.failures).alias("size"))
    assert all(r.n == r.size for r in sizes.collect()), case


def test_accept_all_summary_is_empty(spark):
    df = spark.createDataFrame(INTS, "a int")
    plan = compile_schema({}, df.schema)
    assert plan._compiled.legs == ()
    out = plan.summary(df)
    assert out.columns == ["keyword", "keyword_location", "n_violations"]
    assert out.collect() == []
