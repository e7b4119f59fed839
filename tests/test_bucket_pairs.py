"""Round-6 optimization regression: _bucket_pairs (one-aggregation candidate
pair generation) must be set-identical to the r05 self-join formulation it
replaced, including the oversized-bucket prune and the keep-singletons rule.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from json_skema_spark.operators.dedup import _bucket_pairs


def _selfjoin_pairs(keyed, bucket_cols, max_bucket):
    """The r05 shape: size agg -> left-semi prune -> self-join."""
    sizes = (keyed.groupBy(*bucket_cols)
             .agg(F.count("*").alias("_bsz"))
             .filter(F.col("_bsz") <= max_bucket).drop("_bsz"))
    keyed = keyed.join(sizes, on=bucket_cols, how="left_semi")
    a, b = keyed.alias("a"), keyed.alias("b")
    return (a.join(b, on=bucket_cols, how="inner")
            .filter(F.col("a.doc_id") < F.col("b.doc_id"))
            .select(F.col("a.doc_id").alias("doc_id_a"),
                    F.col("b.doc_id").alias("doc_id_b"))
            .distinct())


def _fixture(spark):
    # buckets: b1 has 3 members (3 pairs), b2 has 2, b3 is a singleton,
    # b4 has 4 members (pruned at max_bucket=3), plus a doc in two buckets
    # so the distinct() dedupe is exercised
    rows = [("b1", "d1"), ("b1", "d2"), ("b1", "d3"),
            ("b2", "d2"), ("b2", "d4"),
            ("b3", "d5"),
            ("b4", "d6"), ("b4", "d7"), ("b4", "d8"), ("b4", "d9"),
            ("b5", "d1"), ("b5", "d2")]  # duplicate pair (d1, d2)
    return spark.createDataFrame(rows, "bucket string, doc_id string")


def test_bucket_pairs_matches_selfjoin_with_prune(spark):
    keyed = _fixture(spark)
    got = sorted(map(tuple, _bucket_pairs(
        keyed, ["bucket"], max_bucket=3).collect()))
    want = sorted(map(tuple, _selfjoin_pairs(
        keyed, ["bucket"], max_bucket=3).collect()))
    assert got == want
    assert ("d1", "d2") in got and got.count(("d1", "d2")) == 1
    assert not any(a.startswith("d6") or b == "d6" for a, b in got), \
        "oversized bucket b4 must be pruned whole"
