"""IVF approximate nearest-neighbor: recall vs the exact baseline."""

import numpy as np
from pyspark.sql import functions as F

from json_skema_spark.operators.similarity import (N_LISTS, SAMPLE_ROWS,
                                                   cosine_topk, ivf_list_id,
                                                   ivf_topk,
                                                   train_ivf_centroids)


def test_ivf_topk_recall(spark):
    rng = np.random.default_rng(11)
    # 8 well-separated clusters in 16d
    centers = rng.standard_normal((8, 16)) * 10
    vecs = np.concatenate([
        c + rng.standard_normal((60, 16)) for c in centers])
    df = spark.createDataFrame(
        [(f"v{i}", [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id string, embedding array<double>").cache()
    df.count()

    q = [float(x) for x in (centers[2] + 0.1)]
    exact = [r.vec_id for r in cosine_topk(df, "embedding", "vec_id", q, k=10).collect()]
    cents = train_ivf_centroids(df, "embedding")
    approx = [r.vec_id for r in ivf_topk(df, "embedding", "vec_id", q, k=10,
                                         centroids=cents, n_probe=2).collect()]
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.9, (recall, exact, approx)
    df.unpersist()


def test_ivf_list_assignment_balanced(spark):
    rng = np.random.default_rng(5)
    vecs = rng.standard_normal((100 * N_LISTS, 8))  # ~100 rows per list
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "id int, embedding array<double>")
    cents = train_ivf_centroids(df, "embedding")
    counts = (df.select(ivf_list_id(
        F.col("embedding").cast("array<double>"), cents).alias("l"))
        .groupBy("l").count().collect())
    assert len(counts) == N_LISTS
    assert all(r["count"] > 20 for r in counts)  # no empty/degenerate list


def test_ivf_sample_not_head_biased(spark):
    """The training sample is a Bernoulli draw over the whole table, never
    its head partitions (VERDICT r02 #6, ADVICE r03). Head rows cluster at
    -10, tail rows at +10, and the table exceeds SAMPLE_ROWS: a
    head-biased sample trains every centroid near -10."""
    n = 2 * SAMPLE_ROWS
    # ordered source: first half -10-centered, second half +10-centered,
    # one row per ordered partition range
    df = (spark.range(0, n, 1, 8)
          .select(F.when(F.col("id") < n // 2, F.lit(-10.0))
                  .otherwise(F.lit(10.0)).alias("c"), "id")
          .select(F.array(
              F.col("c") + (F.pmod(F.xxhash64("id"), F.lit(100)) / 100.0),
              F.col("c") - (F.pmod(F.xxhash64("id", F.lit(1)), F.lit(100)) / 100.0),
          ).alias("emb")))
    cents = train_ivf_centroids(df, "emb")
    signs = set(np.sign(cents[:, 0]))
    assert signs == {-1.0, 1.0}, f"head-biased centroids: {cents}"


def test_ann_banded_recall_beats_single_table(spark):
    """Banded OR-construction ann_topk must reach high recall on
    moderate-similarity gaussian data where the single-table AND bucket
    misses badly (VERDICT r04 #7 / BENCH ann_recall tripwire)."""
    from json_skema_spark.operators.similarity import ann_topk
    rng = np.random.default_rng(23)
    vecs = rng.standard_normal((500, 32))
    df = spark.createDataFrame(
        [(f"v{i}", [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id string, embedding array<double>").cache()
    df.count()
    hits = 0
    for s in range(3):
        q = [float(x) for x in rng.standard_normal(32)]
        exact = {r.vec_id for r in
                 cosine_topk(df, "embedding", "vec_id", q, k=10).collect()}
        banded = {r.vec_id for r in
                  ann_topk(df, "embedding", "vec_id", q, k=10).collect()}
        hits += len(exact & banded)
    df.unpersist()
    assert hits / 30 >= 0.8, hits
