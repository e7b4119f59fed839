"""String keyword verdicts: the byte-length guard in front of ``length()``
for minLength/maxLength, and ``pattern`` as the Java regex engine's
unanchored ``find()``.

The guard relies on Spark's character count lying in
[ceil(bytes/4), bytes] for every string, including strings cast from
binary with invalid UTF-8 lead bytes; the property test pins that on the
installed Spark by comparing the compiled verdicts with a bare
``length(col)`` comparison.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from json_skema_spark import compile_schema

NS = (0, 1, 2, 5, 150, 10**6, 2**62)  # 4 * 2**62 is past a long

# units repeated k times: ASCII, 2-, 3- and 4-byte UTF-8, then invalid
# lead bytes (continuation 0x80, truncated 2-byte 0xC3, truncated 4-byte
# 0xF0, and 0xF8/0xFC, which UTF-8 no longer allows)
UNITS = (b"a", "é".encode(), "€".encode(), "𝕏".encode(),
         b"\x80", b"\xc3", b"\xf0", b"\xf8", b"\xfc")
TAILS = (b"", b"a", b"\xf0", b"\xc3", "é".encode(), b"\xe2\x82")
SMALL_K = (0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 11, 12, 19, 20, 21,
           149, 150, 151, 599, 600, 601)
BIG_K = (999_999, 1_000_000, 1_000_001)
BIG_UNITS = (b"a", "𝕏".encode(), b"\xf0", b"\xf8")


@pytest.fixture(scope="module")
def strings(spark, tmp_path_factory):
    """``s`` (string, possibly invalid UTF-8) and ``b`` (its bytes), read
    back from parquet so that verdicts run in whole-stage codegen over a
    scan, as in production."""
    rows = [(u, k, t) for u in UNITS for k in SMALL_K for t in TAILS]
    rows += [(u, k, b"") for u in BIG_UNITS for k in BIG_K]
    schema = T.StructType([T.StructField("unit", T.BinaryType()),
                           T.StructField("k", T.IntegerType()),
                           T.StructField("tail", T.BinaryType())])
    src = spark.createDataFrame(rows, schema).select(
        F.concat(F.repeat(F.col("unit").cast("string"), F.col("k")),
                 F.col("tail").cast("string")).alias("s"))
    src = src.unionByName(spark.createDataFrame([(None,)], "s string"))
    path = str(tmp_path_factory.mktemp("strings") / "t")
    src.select("s", F.col("s").cast("binary").alias("b")) \
        .write.parquet(path)
    return spark.read.parquet(path)


def test_spark_char_count_on_invalid_lead_bytes(spark):
    """The two ends of the [ceil(bytes/4), bytes] band on invalid input."""
    row = spark.createDataFrame(
        [(b"\xf8" * 12, b"\xf0" * 12)], "f8 binary, f0 binary").select(
        F.length(F.col("f8").cast("string")).alias("f8"),
        F.length(F.col("f0").cast("string")).alias("f0")).first()
    assert (row["f8"], row["f0"]) == (12, 3)


@pytest.mark.parametrize("kw", ["minLength", "maxLength"])
def test_byte_guard_matches_char_count(strings, kw):
    """The compiled verdict fails exactly where ``length(col)`` breaks the
    bound, for every n, on the string and on the binary column."""
    checks = []
    for n in NS:
        for c in ("s", "b"):
            plan = compile_schema({"properties": {c: {kw: n}}},
                                  strings.schema)
            ln = F.length(c)
            broken = (ln < n) if kw == "minLength" else (ln > n)
            want_fail = F.coalesce(broken, F.lit(False))
            checks.append(F.sum(F.when(
                (~plan.passed) != want_fail, 1).otherwise(0))
                .alias(f"{c}_{n}"))
    rows = strings.count()
    mismatches = strings.agg(*checks).first().asDict()
    assert rows == len(UNITS) * len(SMALL_K) * len(TAILS) \
        + len(BIG_UNITS) * len(BIG_K) + 1
    assert mismatches == {k: 0 for k in mismatches}


CLIP = "^clip_[0-9a-f]{12}$"
OK_ID = "clip_0123456789ab"

# (pattern, value, passes) with java.util.regex find() semantics
PATTERN_CASES = [
    (CLIP, OK_ID, True),
    (CLIP, None, True),                      # absent: no verdict
    (CLIP, OK_ID[:-1], False),               # one character short
    (CLIP, OK_ID + "c", False),              # one character long
    (CLIP, OK_ID[:-1] + "B", False),
    (CLIP, "X" + OK_ID[1:], False),
    (CLIP, "", False),
    # '$' without MULTILINE also matches before ONE final line terminator
    (CLIP, OK_ID + "\n", True),
    (CLIP, OK_ID + "\r", True),
    (CLIP, OK_ID + "\r\n", True),
    (CLIP, OK_ID + "\u0085", True),          # NEL
    (CLIP, OK_ID + "\u2028", True),          # LS
    (CLIP, OK_ID + "\u2029", True),          # PS
    (CLIP, OK_ID + "\n\n", False),
    (CLIP, OK_ID + "\n\r", False),
    (CLIP, OK_ID + "\nx", False),
    (CLIP, OK_ID + " ", False),              # a space is no line terminator
    (CLIP, "clip_àéîöü6789ab", False),
    (CLIP, "clip_𝕏123456789ab", False),
    ("^$", "", True),
    ("^$", "\n", True),
    ("^$", "\r\n", True),
    ("^$", "\n\n", False),
    ("^$", "a", False),
    ("^[1-5]-", "1-urgent", True),
    ("^[1-5]-", "6-none", False),
    ("^[1-5]-", "1", False),
    ("^abc", "abcd", True),
    ("^abc", "ab", False),
    ("abc", "xxabcxx", True),                 # unanchored find()
    ("a+", "xaay", True),
    ("^x\\.y$", "x.y", True),
    ("^x\\.y$", "xzy", False),
    ("^[-x]z", "-z", True),
    ("^[x-]z", "z", False),
    ("^id[0-9]{3}[a-z]", "id123a", True),
    ("^id[0-9]{3}[a-z]", "id123A", False),
    ("^id[0-9]{3}[a-z]", "id12a", False),
    ("^\\[ok\\]$", "[ok]", True),
    ("^\\[ok\\]$", "ok", False),
    ("^é{2}$", "éé", True),
    ("^.$", "𝕏", True),                       # one code point, two UTF-16 units
    ("^.{2}$", "𝕏", False),
    ("^\\d+$", "١٢٣", False),                 # \d is ASCII-only in Java
    ("^\\p{Alpha}+$", "abc", True),
]


def test_pattern_verdicts_follow_java_find(spark):
    pats = sorted({p for p, _, _ in PATTERN_CASES})
    values = [v for _, v, _ in PATTERN_CASES]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(values)],
                               "i int, s string")
    plans = {p: compile_schema({"properties": {"s": {"pattern": p}}},
                               df.schema) for p in pats}
    got = {r["i"]: r.asDict() for r in df.select(
        "i", *[plans[p].passed.alias(f"p{j}") for j, p in enumerate(pats)])
        .collect()}
    wrong = [(p, v, want) for i, (p, v, want) in enumerate(PATTERN_CASES)
             if got[i][f"p{pats.index(p)}"] != want]
    assert not wrong
