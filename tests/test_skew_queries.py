"""Adversarial-skew behavior pins (VERDICT r04 #3).

The driver-gate rows (`unique_duplicate_orderkeys_skewed`,
`dedup_exact_hotkey`) verify VALUES under skew; these tests pin exact
counts through the hot-key aggregation and the capped hot-group cells of
exact_duplicates' salted two-phase.
"""

import pyspark.sql.functions as F

from json_skema_spark.operators import dedup, uniqueness


def _hot_key_df(spark, n=20_000, partitions=8):
    # one key carrying every row — the worst case for a hash aggregation
    return (spark.range(n).repartition(partitions)
            .select(F.lit(1).cast("bigint").alias("k")))


def test_duplicate_keys_exact_under_skew(spark):
    df = _hot_key_df(spark).unionAll(
        spark.range(2, 100).select(F.col("id").cast("bigint").alias("k")))
    out = {r["key"]: r["n_rows"]
           for r in uniqueness.duplicate_keys(df, "k").collect()}
    assert out == {1: 20_000}  # counts exact through the partial merge


def test_exact_duplicates_hot_group_capped_and_exact(spark):
    """A hyper-duplicated digest (every row identical): n_docs stays exact,
    the doc_ids cell is capped at max_ids and equals the global K-smallest
    (lexicographic) — no agg buffer ever holds the full group."""
    df = (spark.range(5_000).repartition(8)
          .select(F.col("id").cast("string").alias("doc_id"),
                  F.lit("same text").alias("text")))
    row = dedup.exact_duplicates(df, "text", "doc_id", max_ids=10).collect()
    assert len(row) == 1
    assert row[0]["n_docs"] == 5_000
    expected = sorted(str(i) for i in range(5_000))[:10]
    assert list(row[0]["doc_ids"]) == expected
