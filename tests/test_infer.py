"""Constraint suggestion (operators/infer.py): mined keywords + the
round-trip contract (suggested schema validates its own source data with
zero violations)."""

import json

from json_skema_spark import compile_schema
from json_skema_spark.operators.infer import suggest_constraints


def _schema_doc(suggestions):
    """The suggestion rows assembled into a draft 2020-12 document."""
    doc = {"type": "object", "properties": {}, "required": []}
    for r in suggestions.collect():
        if r.keyword == "required":
            doc["required"].append(r.column_name)
        else:
            doc["properties"].setdefault(r.column_name, {})[r.keyword] = \
                json.loads(r.value)
    return doc


def test_suggest_constraints_keywords(spark):
    df = spark.createDataFrame(
        [(1, 10.5, "ab", "x", True),
         (2, -3.25, "abcd", "y", False),
         (3, 7.0, "abc", "x", True),
         (4, None, "a", "y", None)],
        "id long, score double, name string, tag string, flag boolean")
    rows = {(r.column_name, r.keyword): json.loads(r.value)
            for r in suggest_constraints(df, enum_max_distinct=3).collect()}

    assert rows[("id", "type")] == "integer"
    assert rows[("id", "required")] is True
    assert rows[("score", "type")] == "number"
    assert ("score", "required") not in rows      # has a null
    # 3 distinct values <= threshold: enum supersedes the numeric range
    assert rows[("score", "enum")] == [-3.25, 7.0, 10.5]
    assert ("score", "minimum") not in rows
    assert rows[("name", "minLength")] == 1
    assert rows[("name", "maxLength")] == 4
    assert rows[("tag", "enum")] == ["x", "y"]    # exact small value set
    assert ("tag", "minLength") not in rows       # enum supersedes bounds
    assert rows[("flag", "type")] == "boolean"
    # id has 4 distinct > threshold 3 -> range, not enum
    assert ("id", "enum") not in rows
    assert rows[("id", "minimum")] == 1


def test_suggested_schema_roundtrips_with_zero_violations(spark):
    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "o_orderpriority"]
    doc = _schema_doc(suggest_constraints(orders, cols))
    assert doc["type"] == "object"
    assert "o_orderstatus" in doc["properties"]
    plan = compile_schema(doc, orders.schema)
    # by construction every mined constraint holds on the mining data
    assert plan.violations(orders, "o_orderkey").count() == 0
    # and the plan actually constrains: violating rows are caught
    bad = spark.createDataFrame(
        [(int(-1), int(1), "ZZ", -5.0, "nope")],
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderpriority string")
    v = compile_schema(doc, bad.schema).violations(bad, "o_orderkey")
    assert v.count() > 0


def test_suggest_skips_non_finite_and_keeps_bigints_exact(spark):
    """NaN/inf aggregates skip their keyword instead of crashing; int64
    bounds past 2^53 are mined exactly (float routing would mine a maximum
    BELOW the data max, breaking the zero-violation round trip)."""
    from json_skema_spark.operators.infer import suggest_constraints

    data = [(float("nan"), 9007199254740993)] + \
        [(1.0, i) for i in range(20)]  # >12 distinct: stays out of enum
    df = spark.createDataFrame(data, "v double, big bigint")
    rows = {(r.column_name, r.keyword): r.value
            for r in suggest_constraints(df).collect()}
    assert ("v", "minimum") not in rows  # NaN poisons min/max: skipped
    assert rows[("big", "maximum")] == "9007199254740993"
    assert rows[("big", "minimum")] == "0"
