"""Similarity search over an embedding column (``array<float|double>``).

No reference analogue (SURVEY.md §2.f "approx distinct — new"); part of the
training-data-pipeline surface. Two paths:

- ``cosine_topk``: brute-force exact top-k against a literal query vector —
  the correctness baseline. Dot products via ``zip_with`` + ``aggregate``
  (JVM-side, codegen); top-k via ``ORDER BY ... LIMIT k`` which Spark
  executes as TakeOrderedAndProject (per-partition heap + driver merge —
  no full sort, no shuffle of the table).
- ``lsh_bucket`` / ``ann_topk``: banded random-hyperplane LSH (sign of
  projections onto driver-seeded hyperplanes). At scale the bucket ids are
  partition keys: a query probes its bucket in each band instead of
  scanning everything.
- ``embedding_near_duplicates``: same-bucket pairs + exact cosine through
  the near-dup operators' shared pair and verify stages (operators/dedup.py)
  — the embedding-space analogue of MinHash near-dup.

Hyperplanes are generated driver-side from a numpy PRNG seeded with
``dedup.SEED`` and baked into the plan as literals — deterministic and
resumable.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from json_skema_spark.operators.dedup import (MAX_BUCKET, SEED,
                                              _bucket_pairs, _persist_base,
                                              _verify_pairs)
from json_skema_spark.operators.util import ensure_parallelism

# banded hyperplane LSH: a vector pair is a candidate when it agrees on all
# PLANES_PER_BAND planes of any of EMBED_BANDS bands
EMBED_BANDS = 16
PLANES_PER_BAND = 4
# IVF coarse quantizer: N_LISTS KMeans lists fit on ~SAMPLE_ROWS rows
N_LISTS = 16
SAMPLE_ROWS = 100_000


def dot(a: Column, b: Column) -> Column:
    """JVM-side dot product of two array columns."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity, zero-vector safe: a zero-norm side scores 0.0,
    not NaN — Spark sorts NaN ABOVE every number, so an unguarded 0/0
    would both pass `>= threshold` filters and displace real top-k hits
    whenever the corpus carries padding/failed-encode all-zero rows."""
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom > 0, dot(a, b) / denom).otherwise(F.lit(0.0))


def _lit_vec(vec) -> Column:
    return F.array(*[F.lit(float(v)) for v in vec])


def cosine_topk(df: DataFrame, embedding_col: str, id_col: str, query,
                k: int) -> DataFrame:
    """Exact top-k by cosine similarity to ``query`` (a Python list/ndarray).

    Output: ``(id, score)`` ordered desc, deterministic ties by id.
    """
    q = _lit_vec(query)
    scored = ensure_parallelism(df).select(
        F.col(id_col),
        cosine(F.col(embedding_col).cast("array<double>"), q).alias("score"),
    )
    return scored.orderBy(F.col("score").desc(), F.col(id_col)).limit(k)


def make_hyperplanes(dim: int, num_planes: int = 16) -> np.ndarray:
    rng = np.random.default_rng(SEED)
    return rng.standard_normal((num_planes, dim))


def lsh_bucket(embedding: Column, hyperplanes: np.ndarray) -> Column:
    """Sign-of-projection bucket id (0 .. 2^num_planes - 1), JVM-side."""
    if len(hyperplanes) > 63:
        # bit 63 is the sign bit: F.lit(2**63) is unrepresentable as a
        # signed long and fails literal conversion at plan build
        # (review r05c) — band the planes instead (bands x <=63)
        raise ValueError(
            f"{len(hyperplanes)} hyperplanes exceed the 63 bits a signed "
            "long bucket id can carry — split them into bands of <= 63 "
            "planes")
    bucket = F.lit(0).cast("long")
    for i, h in enumerate(hyperplanes):
        bit = F.when(dot(embedding, _lit_vec(h)) > 0,
                     F.lit(int(2 ** i)).cast("long")).otherwise(F.lit(0).cast("long"))
        bucket = bucket.bitwiseOR(bit)
    return bucket


def ann_topk(df: DataFrame, embedding_col: str, id_col: str, query,
             k: int) -> DataFrame:
    """Approximate top-k by banded OR-construction: a row is a candidate
    when its sign-vector matches the query's on ALL ``PLANES_PER_BAND``
    planes of ANY of ``EMBED_BANDS`` bands — the same 1-(1-p^r)^b recall
    amplification the near-duplicate ops use. At 16x4 a cosine-0.5
    neighbor is a candidate with p ~ 0.97, where one AND-of-12-planes
    bucket probed within 1 bit reaches ~0.11 (measured recall@10 ~0.1);
    the price is a larger candidate set (the OR of b buckets), honest at
    scale because real embedding corpora have high-similarity neighbors
    where each band still prunes hard.

    At 100 TB the table is written bucketed/partitioned by the band
    buckets so the probe prunes partitions at the source; candidates
    stream through one TakeOrderedAndProject (per-partition heap + driver
    merge — no sort, no shuffle of the table)."""
    emb = F.col(embedding_col).cast("array<double>")
    qvec = np.asarray(query, dtype=float)
    planes = make_hyperplanes(len(query), EMBED_BANDS * PLANES_PER_BAND)
    # OR over bands, evaluated in one pass — no self-join, no explode: the
    # query's bucket id in each band is a literal folded into the predicate
    match = None
    for b in range(EMBED_BANDS):
        sub = planes[b * PLANES_PER_BAND:(b + 1) * PLANES_PER_BAND]
        qb = int(sum((2 ** i) for i, h in enumerate(sub)
                     if float(np.dot(h, qvec)) > 0))
        m = lsh_bucket(emb, sub) == qb
        match = m if match is None else (match | m)
    probe = df.select(F.col(id_col), emb.alias("_e"), match.alias("_m")) \
        .filter(F.col("_m"))
    scored = probe.select(F.col(id_col),
                          cosine(F.col("_e"), _lit_vec(query)).alias("score"))
    return scored.orderBy(F.col("score").desc(), F.col(id_col)).limit(k)


def train_ivf_centroids(df: DataFrame, embedding_col: str) -> np.ndarray:
    """Coarse quantizer for IVF: KMeans (Spark MLlib, 20 iterations) on a
    deterministic UNBIASED sample. Returns (N_LISTS, dim) centroids. The
    model is centroids-only (broadcast as literals).

    Sampling (VERDICT r02 #6): one narrow count of the embedding column
    sizes a Bernoulli fraction of ~``SAMPLE_ROWS`` rows drawn from the
    whole table — never ``limit(SAMPLE_ROWS)``, which takes the FIRST file
    splits: on a table written ordered by time/tenant the quantizer would
    be fit to one slice of the distribution and probe recall collapses
    elsewhere.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    frac_df = df.select(F.col(embedding_col).cast("array<double>").alias("e"))
    rows = frac_df.count()
    if rows > SAMPLE_ROWS:
        frac_df = frac_df.sample(fraction=min(1.0, 1.25 * SAMPLE_ROWS / rows),
                                 seed=SEED)
    train = frac_df.select(array_to_vector(F.col("e")).alias("features"))
    km = KMeans(k=N_LISTS, seed=SEED, maxIter=20).fit(train)
    return np.array(km.clusterCenters())


def ivf_list_id(embedding: Column, centroids: np.ndarray) -> Column:
    """Nearest-centroid list id, pure Column expressions (argmin over
    ||x||^2 - 2 x.c + ||c||^2; ||x||^2 is common so dropped)."""
    dists = F.array(*[
        (F.lit(float(np.dot(c, c))) - 2.0 * dot(embedding, _lit_vec(c)))
        for c in centroids
    ])
    return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")


def ivf_topk(df: DataFrame, embedding_col: str, id_col: str, query, k: int,
             *, centroids: np.ndarray | None = None,
             n_probe: int = 3) -> DataFrame:
    """IVF approximate top-k: probe the ``n_probe`` inverted lists whose
    centroids are nearest the query, brute-force cosine inside them.

    At scale the table would be written partitioned by ``ivf_list_id`` so the
    probe prunes partitions at the source; pass precomputed ``centroids`` to
    skip training (e.g. loaded from the index build job)."""
    if centroids is None:
        centroids = train_ivf_centroids(df, embedding_col)
    q = np.asarray(query, dtype=float)
    d2 = ((centroids - q) ** 2).sum(axis=1)
    probe_lists = [int(i) for i in np.argsort(d2)[:n_probe]]
    emb = F.col(embedding_col).cast("array<double>")
    assigned = df.select(F.col(id_col), emb.alias("_e"),
                         ivf_list_id(emb, centroids).alias("_list"))
    probed = assigned.filter(F.col("_list").isin(probe_lists))
    scored = probed.select(F.col(id_col),
                           cosine(F.col("_e"), _lit_vec(query)).alias("score"))
    return scored.orderBy(F.col("score").desc(), F.col(id_col)).limit(k)


def embedding_near_duplicates(df: DataFrame, embedding_col: str, id_col: str, *,
                              cosine_threshold: float = 0.95,
                              dim: int | None = None) -> DataFrame:
    """Near-duplicate pairs by embedding cosine: **banded** random-hyperplane
    LSH (the SimHash/MinHash banding trick applied to sign-projections), then
    exact-cosine verification. Output ``(id_a, id_b, cosine)``.

    A pair is a candidate when its sign-vector agrees on ALL planes of SOME
    band: P(candidate) = 1 - (1 - p^r)^b with p = 1 - theta/pi. A single
    AND-of-12-planes bucket (the naive design) has recall ~0.28 at cosine
    0.95; ``EMBED_BANDS`` x ``PLANES_PER_BAND`` = 16 bands x 4 planes pushes
    the miss probability below 1e-7 for near-identical vectors while still
    pruning ~all random pairs. Shuffle volume: 16 (band, bucket, id) rows
    per vector — independent of dimension; vectors themselves only move
    for the verified candidates.

    ``dim`` is the embedding dimension; pass it when known (it is a schema
    property, not data) — the ``.first()`` fallback is a driver action that
    runs an extra job. ``MAX_BUCKET`` caps each band's buckets (one
    hot bucket of m members is m^2/2 pairs — quadratic at scale)."""
    if dim is None:
        dim = int(df.select(F.size(embedding_col).alias("d")).first()["d"])
    planes = make_hyperplanes(dim, EMBED_BANDS * PLANES_PER_BAND)
    emb = F.col(embedding_col).cast("array<double>")
    base = _persist_base(ensure_parallelism(df).select(
        F.col(id_col).alias("doc_id"), emb.alias("e")))
    banded = base.select(
        "doc_id",
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                lsh_bucket(F.col("e"),
                           planes[b * PLANES_PER_BAND:(b + 1) * PLANES_PER_BAND])
                .alias("bucket"))
            for b in range(EMBED_BANDS)
        ])).alias("bb"),
    ).select(F.col("bb.band").alias("band"),
             F.col("bb.bucket").alias("bucket"), "doc_id")
    # only (band, bucket, id) rows shuffle — never the vectors
    cand = _bucket_pairs(banded, ["band", "bucket"], MAX_BUCKET) \
        .select(F.col("doc_id_a").alias("id_a"),
                F.col("doc_id_b").alias("id_b"))
    return _verify_pairs(cand, base, "e", "cosine", cosine, cosine_threshold)
