"""Round-6 optimization regression: _bucket_pairs (one-aggregation candidate
pair generation) must be set-identical to the r05 self-join formulation it
replaced, including the oversized-bucket prune and the keep-singletons rule.
It is the only pair generator of the near-duplicate operators, so the
struct payload SimHash passes and SimHash itself are pinned here too.
"""

from __future__ import annotations

from itertools import combinations

import numpy as np
from pyspark.sql import functions as F

from json_skema_spark.operators import dedup
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

    # a struct payload whose first field is the id pairs the same members
    # (structs order field by field) and carries the other field along
    keyed_fp = keyed.withColumn("fp", F.substring("doc_id", 2, 1).cast("int"))
    got_fp = [(r.doc_id_a.doc_id, r.doc_id_b.doc_id,
               r.doc_id_a.fp, r.doc_id_b.fp)
              for r in _bucket_pairs(keyed_fp, ["bucket"], 3,
                                     F.struct("doc_id", "fp")).collect()]
    assert sorted((a, b) for a, b, _fa, _fb in got_fp) == want
    assert all(fa == int(a[1]) and fb == int(b[1]) for a, b, fa, fb in got_fp)


def _simhash_corpus(seed=5):
    """Clusters of near-duplicate documents (a base text with 0-3 token
    substitutions each) plus MAX_BUCKET + 1 identical boilerplate documents
    whose chunk buckets all exceed MAX_BUCKET."""
    rng = np.random.default_rng(seed)
    vocab = [f"w{i}" for i in range(200)]
    rows = []
    for c in range(6):
        base = [vocab[int(rng.integers(0, len(vocab)))] for _ in range(30)]
        for v in range(5):
            toks = list(base)
            for _ in range(int(rng.integers(0, 4))):
                toks[int(rng.integers(0, len(toks)))] = \
                    vocab[int(rng.integers(0, len(vocab)))]
            rows.append((f"c{c}v{v}", " ".join(toks)))
    rows += [(f"hot{i:04d}", "same boilerplate header text")
             for i in range(dedup.MAX_BUCKET + 1)]
    return rows


def test_simhash_pairs_match_brute_force(spark):
    """SimHash pairs through _bucket_pairs equal an all-pairs Hamming scan
    over the same fingerprints, with the documented prune: a pair is
    missed only when every chunk bucket it shares exceeds MAX_BUCKET."""
    rows = _simhash_corpus()
    df = spark.createDataFrame(rows, "doc_id string, text string")
    fps = {r.doc_id: r.fp for r in df.select(
        "doc_id", dedup.simhash(F.col("text")).alias("fp")).collect()}

    def chunks(fp):  # 4 chunks of 12 bits
        return [(i, (fp >> (12 * i)) & 0xFFF) for i in range(4)]

    size: dict = {}
    for fp in fps.values():
        for ch in chunks(fp):
            size[ch] = size.get(ch, 0) + 1
    want, pruned = set(), set()
    for a, b in combinations(sorted(fps), 2):
        d = bin(fps[a] ^ fps[b]).count("1")
        if d > dedup.MAX_HAMMING:
            continue
        shared = set(chunks(fps[a])) & set(chunks(fps[b]))
        assert shared  # pigeonhole: d <= MAX_HAMMING shares a chunk
        if any(size[ch] <= dedup.MAX_BUCKET for ch in shared):
            want.add((a, b, d))
        else:
            pruned.add((a, b))
    assert max(size.values()) > dedup.MAX_BUCKET and pruned
    # pairs come from more than one chunk bucket
    assert len({ch for a, b, _d in want
                for ch in set(chunks(fps[a])) & set(chunks(fps[b]))}) > 1

    got = dedup.simhash_near_duplicates(df, "text", "doc_id").collect()
    got_set = {(r.doc_id_a, r.doc_id_b, r.hamming) for r in got}
    assert len(got) == len(got_set) and got_set == want

    # a null id pairs with nothing, as in the bare-id operators (struct
    # order would sort it first)
    text = rows[0][1]
    nulls = spark.createDataFrame([(None, text), ("x", text), ("y", text)],
                                  "doc_id string, text string")
    assert [tuple(r) for r in dedup.simhash_near_duplicates(
        nulls, "text", "doc_id").collect()] == [("x", "y", 0)]
