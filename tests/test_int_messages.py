"""Exact failure messages for the keywords whose message carries a runtime
integer (a length, a count, positions or a match count).

The texts are hard-coded: they follow the reference's wording and must not
change when the way they are built changes. The string cases use
multibyte transcripts, whose character count differs from their byte
length.
"""

from __future__ import annotations

from json_skema_spark import compile_schema

SCHEMA = {
    "properties": {
        "short": {"minLength": 12},
        "long": {"maxLength": 3},
        "m": {"minProperties": 2, "maxProperties": 3},
        "arr": {"minItems": 2, "maxItems": 4, "uniqueItems": True},
        "c": {"contains": {"minimum": 10}, "minContains": 2,
              "maxContains": 3},
        "o": {"oneOf": [{"minimum": 0}, {"maximum": 10}]},
    },
}
DDL = ("id int, short string, long string, m map<string,int>, "
       "arr array<int>, c array<int>, o int")

# (id, column values, keyword, keyword_location, message)
CASES = [
    (1, {"short": "héllo wörld"}, "minLength",
     "#/properties/short/minLength",
     "actual string length 11 is lower than minLength 12"),
    (2, {"long": "日本語テキスト"}, "maxLength",
     "#/properties/long/maxLength",
     "actual string length 7 exceeds maxLength 3"),
    (3, {"long": "𝕏𝕏𝕏𝕏"}, "maxLength",
     "#/properties/long/maxLength",
     "actual string length 4 exceeds maxLength 3"),
    (4, {"m": {"a": 1}}, "minProperties",
     "#/properties/m/minProperties",
     "expected minimum properties: 2, found only 1"),
    (5, {"m": {"a": 1, "b": 2, "c": 3, "d": 4}}, "maxProperties",
     "#/properties/m/maxProperties",
     "expected maximum properties: 3, found 4"),
    (6, {"arr": [5]}, "minItems", "#/properties/arr/minItems",
     "expected minimum items: 2, found only 1"),
    (7, {"arr": [1, 2, 3, 4, 5]}, "maxItems", "#/properties/arr/maxItems",
     "expected maximum items: 4, found 5"),
    (8, {"arr": [7, 8, 7]}, "uniqueItems", "#/properties/arr/uniqueItems",
     "the same array element occurs at positions 0, 2"),
    (9, {"c": [10, 1]}, "contains", "#/properties/c/contains",
     'only 1 array items are valid against "contains" subschema, '
     "expected minimum is 2"),
    (10, {"c": [10, 11, 12, 13]}, "maxContains", "#/properties/c/contains",
     '4 array items are valid against "contains" subschema, '
     "expected maximum is 3"),
    (11, {"o": 5}, "oneOf", "#/properties/o/oneOf",
     "expected 1 subschema to match out of 2, 2 matched"),
]
COLUMNS = ("short", "long", "m", "arr", "c", "o")


def test_integer_messages_are_exact(spark):
    rows = [(i, *(vals.get(c) for c in COLUMNS)) for i, vals, *_ in CASES]
    # a row with every column inside its limits yields no violation
    rows.append((12, "twelve chars", "abc", {"a": 1, "b": 2}, [1, 2],
                 [10, 11], 11))
    df = spark.createDataFrame(rows, DDL)
    plan = compile_schema(SCHEMA, df.schema)
    got = sorted(
        (int(r["row_key"]), r["keyword"], r["keyword_location"], r["message"])
        for r in plan.violations(df, "id").collect())
    assert got == sorted((i, kw, loc, msg) for i, _, kw, loc, msg in CASES)
