"""Integration: uniqueness under heavy key skew; profile -> drift."""

from pyspark.sql import functions as F

from json_skema_spark.operators import drift, stats, uniqueness
from json_skema_spark.sources import clips as clips_src


def test_uniqueness_under_heavy_skew(spark):
    """One hot key with 50k occurrences among 50k distinct keys: the
    aggregation must return exact counts (map-side partial counts of the
    hot key merge into one exact total)."""
    base = spark.range(0, 50_000).select(
        F.concat(F.lit("k"), F.col("id")).alias("k"))
    hot = spark.range(0, 50_000).select(F.lit("HOT").alias("k"))
    df = base.unionAll(hot).repartition(32)
    dups = {r.key: r.n_rows for r in
            uniqueness.duplicate_keys(df, "k").collect()}
    assert dups == {"HOT": 50_000}


def test_profile_baseline_drift_on_clips(spark):
    """The north-rule drift loop: clean-generation profile as baseline,
    tainted generation as current -> injected nulls/outliers must flag."""
    clean = clips_src.clips_df(spark, 400, audio=False, inject=False)
    # tainted: heavy null injection + shifted duration distribution
    tainted = clips_src.clips_df(spark, 400, audio=False, inject=False) \
        .withColumn("transcript",
                    F.when(F.rand(seed=1) < 0.4, F.lit(None))
                    .otherwise(F.col("transcript"))) \
        .withColumn("dur_ms", (F.col("dur_ms") * 10).cast("int"))
    cols = ["sr_hz", "dur_ms", "transcript"]
    base_prof = stats.profile(clean, cols)
    cur_prof = stats.profile(tainted, cols)
    report = {r.column_name: r for r in
              drift.drift_report(cur_prof, base_prof).collect()}
    assert report["transcript"].null_drift
    assert report["dur_ms"].quantile_drift
    assert report["sr_hz"].drifted is False


def test_embedding_hot_bucket_guard(spark):
    """Same blow-up guard for embedding LSH: a degenerate bucket (identical
    vectors) larger than MAX_BUCKET is dropped, small buckets still pair."""
    from json_skema_spark.operators import dedup, similarity
    hot = spark.range(0, dedup.MAX_BUCKET + 1).select(
        F.concat(F.lit("h"), F.col("id")).alias("vid"),
        F.array(F.lit(1.0), F.lit(0.0), F.lit(0.0)).alias("emb"))
    cold = spark.createDataFrame(
        [("c1", [0.0, 1.0, 0.05]), ("c2", [0.0, 1.0, 0.06])],
        ["vid", "emb"])
    df = hot.unionAll(cold)
    pairs = similarity.embedding_near_duplicates(
        df, "emb", "vid", cosine_threshold=0.95, dim=3).collect()
    ids = {(r.id_a, r.id_b) for r in pairs}
    assert ("c1", "c2") in ids
    assert not any(a.startswith("h") for a, b in ids)
