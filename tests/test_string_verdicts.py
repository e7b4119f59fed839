"""String keyword verdicts: the byte-length guard in front of ``length()``
for minLength/maxLength, and ``pattern`` as the Java regex engine's
unanchored ``find()``.

The guard relies on Spark's character count lying in
[ceil(bytes/4), bytes] for every string, including strings cast from
binary with invalid UTF-8 lead bytes; the property test pins that on the
installed Spark by comparing the compiled verdicts with a bare
``length(col)`` comparison. A node with both keywords counts characters
once, in the union of their bands; the edge tests compare its verdicts,
violation rows and ``format_string`` message text with a bare
``length()`` at every band edge. The last test bounds the driver-JVM
round trips of a repeated ``summary()``/``violations()`` call.
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


# nodes with both keywords: (3, 4) has overlapping bands, [3, 8] and
# [5, 16]; (2, 40) has disjoint ones, [2, 4] and [41, 160]
BOTH = ((3, 4), (2, 40))
EDGE_UNITS = (b"a", "é".encode(), "€".encode(), "𝕏".encode(),
              b"\x80", b"\xf0", b"\xf8")


def _edge_strings() -> list[bytes]:
    """Strings whose byte length sits at the band edges of every bound
    in ``BOTH`` (n-1, n, n+1, 4n-4, 4n-3, 4n, 4n+1), made of one unit
    padded with ASCII to the byte length, the unit first or last."""
    obs = {ob for pair in BOTH for n in pair
           for ob in (n - 1, n, n + 1, 4 * n - 4, 4 * n - 3, 4 * n, 4 * n + 1)
           if ob >= 0}
    out = []
    for ob in sorted(obs):
        for u in EDGE_UNITS:
            q, r = divmod(ob, len(u))
            out += [u * q + b"a" * r, b"a" * r + u * q]
    return out


@pytest.fixture(scope="module")
def edges(spark, tmp_path_factory):
    rows = [(i, b) for i, b in enumerate(_edge_strings())]
    src = spark.createDataFrame(rows, "id int, b binary").select(
        "id", F.col("b").cast("string").alias("s"))
    src = src.unionByName(spark.createDataFrame([(-1, None)], "id int, s string"))
    path = str(tmp_path_factory.mktemp("edges") / "t")
    src.write.parquet(path)
    return spark.read.parquet(path)


def _expected_failures(df, lo: int, hi: int):
    """(id, keyword, message) for every failing row, from a bare
    ``length()`` and the ``format_string`` message text."""
    ln = F.length("s")
    return df.select("id", F.explode(F.array(
        F.when(ln < lo, F.struct(F.lit("minLength").alias("keyword"),
                                 F.format_string(
                                     f"actual string length %s is lower than minLength {lo}",
                                     ln).alias("message"))),
        F.when(ln > hi, F.struct(F.lit("maxLength").alias("keyword"),
                                 F.format_string(
                                     f"actual string length %s exceeds maxLength {hi}",
                                     ln).alias("message"))))).alias("f")) \
        .filter(F.col("f").isNotNull()).select("id", "f.keyword", "f.message")


@pytest.mark.parametrize("lo,hi", BOTH)
def test_overlapping_and_disjoint_bands_match_char_count(edges, lo, hi):
    """A node with both keywords counts characters once, in the union of
    the two bands: its verdicts, violation rows and messages equal those
    of a bare ``length()`` at every band edge."""
    plan = compile_schema({"properties": {"s": {"minLength": lo,
                                                "maxLength": hi}}},
                          edges.schema)
    ln = F.length("s")
    want_fail = F.coalesce((ln < lo) | (ln > hi), F.lit(False))
    assert edges.filter((~plan.passed) != want_fail).count() == 0
    got = plan.violations(edges, "id").select(
        F.col("row_key").cast("int").alias("id"), "keyword", "message")
    want = _expected_failures(edges, lo, hi)
    assert want.count() > 0
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    assert sorted(map(tuple, plan.summary(edges).select(
        "keyword", "n_violations").collect())) == sorted(map(tuple, want.groupBy(
            "keyword").count().collect()))


def test_summary_and_violations_reuse_plan_columns(spark):
    """A second ``summary()`` and ``violations()`` on a used plan build no
    Column trees: their driver-JVM round trips stay within a fixed budget
    (a rebuild of the summary's sums and literal rows alone takes several
    hundred)."""
    import copy
    import gc

    from json_skema_spark.sources.clips import (CLIPS_CONSTRAINT_SCHEMA,
                                                clips_df_fast)
    doc = copy.deepcopy(CLIPS_CONSTRAINT_SCHEMA)
    doc["properties"]["transcript"]["maxLength"] = 150
    df = clips_df_fast(spark, 100)
    plan = compile_schema(doc, df.schema)
    plan.summary(df)
    plan.violations(df, "clip_id")
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    calls = {"summary": 0, "violations": 0}
    current = ["summary"]

    def counting(command, *args, **kwargs):
        # "m" commands release Java objects whose Python proxies died:
        # garbage-collector timing, not plan building
        if not command.startswith("m\n"):
            calls[current[0]] += 1
        return send(command, *args, **kwargs)

    gc.collect()
    gc.disable()
    client.send_command = counting
    try:
        plan.summary(df)
        current[0] = "violations"
        plan.violations(df, "clip_id")
    finally:
        del client.send_command
        gc.enable()
    assert calls["summary"] <= 150, calls
    assert calls["violations"] <= 150, calls
