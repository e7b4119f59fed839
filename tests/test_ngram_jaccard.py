"""n-gram-Jaccard near-dup operator (operators/dedup.
ngram_jaccard_near_duplicates): the prefix-filtered inverted index must be
EXACT — equal to brute-force all-pairs Jaccard — because the prefix lemma
(SSJoin/PPJoin) is lossless under any fixed gram order. These tests pin that
equality against an independent pure-Python oracle, the hot-gram cap's
drop semantics, the null-text convention, and the join strategy."""

import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from json_skema_spark.operators import dedup


def _grams(text: str, n: int) -> set[str]:
    """Pure-Python replica of dedup.shingles(): collapse whitespace, trim,
    lower, split on single space, distinct word n-grams (short texts yield
    the whole text as one gram)."""
    toks = re.sub(r"\s+", " ", text).strip().lower().split(" ")
    k = max(len(toks) - (n - 1), 1)
    return {" ".join(toks[i:i + n]) for i in range(k)}


def _brute_pairs(rows, n, t):
    out = {}
    for i, (ida, ta) in enumerate(rows):
        for idb, tb in rows[i + 1:]:
            a, b = _grams(ta, n), _grams(tb, n)
            j = len(a & b) / len(a | b)
            if j >= t:
                key = (ida, idb) if ida < idb else (idb, ida)
                out[key] = j
    return out


def _corpus(n_docs=40, seed=11):
    """Seeded corpus with graded overlap: documents drawn from a small
    vocabulary with per-doc substitutions, so Jaccard values spread across
    the whole (0, 1] range and the threshold actually discriminates."""
    rng = np.random.default_rng(seed)
    vocab = [f"w{i}" for i in range(30)]
    base = [vocab[i % len(vocab)] for i in range(25)]
    rows = []
    for d in range(n_docs):
        toks = list(base)
        for _ in range(int(rng.integers(0, 12))):
            toks[int(rng.integers(0, len(toks)))] = vocab[int(rng.integers(0, len(vocab)))]
        rows.append((f"d{d:02d}", " ".join(toks)))
    return rows


@pytest.mark.parametrize("n,t", [(3, 0.8), (2, 0.6)])
def test_prefix_filter_is_lossless_vs_brute_force(spark, n, t):
    rows = _corpus()
    df = spark.createDataFrame(rows, "doc_id string, text string")
    want = _brute_pairs(rows, n, t)
    assert want, "fixture must produce qualifying pairs"
    got = dedup.ngram_jaccard_near_duplicates(
        df, "text", "doc_id", n=n, jaccard_threshold=t).collect()
    got_map = {(r.doc_id_a, r.doc_id_b): r.jaccard for r in got}
    assert got_map.keys() == want.keys()
    for k, j in want.items():
        assert got_map[k] == pytest.approx(j, abs=1e-12)


def test_threshold_one_keeps_only_identical_shingle_sets(spark):
    # prefix length collapses to 1 at t=1.0 — the single smallest gram must
    # still pair identical sets
    rows = [("a", "x y z x y z"), ("b", "x y z x y z"),
            ("c", "x y z w"), ("d", "totally different text here")]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    got = dedup.ngram_jaccard_near_duplicates(
        df, "text", "doc_id", n=3, jaccard_threshold=1.0).collect()
    assert [(r.doc_id_a, r.doc_id_b, r.jaccard) for r in got] == [("a", "b", 1.0)]


def test_hot_gram_cap_drops_pairs_served_only_by_hot_grams(spark):
    def pairs(n_docs):
        df = spark.range(n_docs).select(
            F.col("id").cast("string").alias("doc_id"),
            F.lit("same same same boilerplate").alias("text"))
        return dedup.ngram_jaccard_near_duplicates(
            df, "text", "doc_id", n=3, jaccard_threshold=1.0)

    # every indexed gram has MAX_BUCKET + 1 postings — documented drop
    assert pairs(dedup.MAX_BUCKET + 1).count() == 0
    m = dedup.MAX_BUCKET  # a full-size posting list still pairs
    assert pairs(m).count() == m * (m - 1) // 2


def test_null_text_is_not_a_near_duplicate(spark):
    rows = [("a", None), ("b", None), ("c", "real text content")]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    got = dedup.ngram_jaccard_near_duplicates(
        df, "text", "doc_id", jaccard_threshold=0.1).collect()
    assert got == []


@pytest.mark.parametrize("bad", [0.0, -0.5, 1.5])
def test_threshold_out_of_range_refused(spark, bad):
    df = spark.createDataFrame([("a", "x")], "doc_id string, text string")
    with pytest.raises(ValueError, match="jaccard_threshold"):
        dedup.ngram_jaccard_near_duplicates(df, "text", "doc_id",
                                            jaccard_threshold=bad)


def test_plan_has_no_cartesian_join(spark):
    df = spark.createDataFrame(_corpus(12), "doc_id string, text string")
    plan = dedup.ngram_jaccard_near_duplicates(
        df, "text", "doc_id", n=2, jaccard_threshold=0.6)._jdf \
        .queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
