"""Table-scope operators: uniqueness, referential, stats, drift, dedup,
similarity, checkpointed resume."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from json_skema_spark.operators import (checkpoint, dedup, drift, referential,
                                        similarity, stats, uniqueness)


@pytest.fixture(scope="module")
def kv(spark):
    rows = [("a", 1), ("b", 2), ("b", 3), ("c", 4), ("c", 5), ("c", 6), ("d", 7)]
    return spark.createDataFrame(rows, "k string, v int")


def test_duplicate_keys(kv):
    got = {r.key: r.n_rows for r in uniqueness.duplicate_keys(kv, "k").collect()}
    assert got == {"b": 2, "c": 3}


def test_duplicate_rows_tagged(kv):
    rows = uniqueness.duplicate_rows(kv, "k").collect()
    assert len(rows) == 5
    assert all(r.n_rows in (2, 3) for r in rows)
    assert all(hasattr(r, "partition_id") for r in rows)


def test_uniqueness_violation_shape(kv):
    v = uniqueness.uniqueness_violations(kv, "k").collect()
    assert {r.row_key for r in v} == {"b", "c"}
    r = [x for x in v if x.row_key == "b"][0]
    assert r.keyword == "uniqueItems"
    assert r.message == "key b occurs in 2 rows, expected 1"


def test_referential_orphans(spark):
    fact = spark.createDataFrame([("x", 1), ("y", 2), ("z", 3)], "k string, v int")
    dim = spark.createDataFrame([("x",), ("y",)], "k string")
    got = referential.orphans(fact, dim, "k").collect()
    assert [r.k for r in got] == ["z"]
    viol = referential.referential_violations(fact, dim, "k").collect()
    assert viol[0].keyword == "$ref"
    assert viol[0].message == "k z has no matching row in the reference table"


def test_field_equality(spark):
    fact = spark.createDataFrame([("a", "hello"), ("b", "world")], "k string, t string")
    dim = spark.createDataFrame([("a", "hello"), ("b", "WORLD")], "k string, t string")
    bad = referential.field_equality_violations(fact, dim, "k", "t").collect()
    assert [r.row_key for r in bad] == ["b"]


def test_profile(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "c"), (None, "d")], "x int, s string")
    prof = {r.column_name: r for r in stats.profile(df).collect()}
    assert prof["x"].n_rows == 4
    assert abs(prof["x"].null_fraction - 0.25) < 1e-9
    assert prof["x"].min_value == "1" and prof["x"].max_value == "3"
    assert prof["s"].quantiles is None
    assert prof["x"].quantiles is not None
    per_part = stats.profile(df, per_partition=True).collect()
    assert all(hasattr(r, "partition_id") for r in per_part)


def test_hll_merge(spark):
    df = spark.createDataFrame([(i % 100,) for i in range(1000)], "x int")
    halves = stats.mergeable_profile(df.filter(F.col("x") < 50), ["x"]) \
        .unionByName(stats.mergeable_profile(df.filter(F.col("x") >= 50), ["x"]))
    est = stats.merge_profiles(halves).collect()[0].approx_distinct
    one_pass = stats.merge_profiles(
        stats.mergeable_profile(df, ["x"])).collect()[0].approx_distinct
    assert est == one_pass
    assert abs(est - 100) <= 5


def test_drift(spark):
    base = spark.createDataFrame(
        [("x", 0.0, 100, [1.0, 2.0, 3.0])],
        "column_name string, null_fraction double, approx_distinct long, quantiles array<double>")
    cur_same = spark.createDataFrame(
        [("x", 0.001, 98, [1.0, 2.1, 3.0])],
        "column_name string, null_fraction double, approx_distinct long, quantiles array<double>")
    cur_bad = spark.createDataFrame(
        [("x", 0.2, 9, [10.0, 20.0, 30.0])],
        "column_name string, null_fraction double, approx_distinct long, quantiles array<double>")
    ok = drift.drift_report(cur_same, base).collect()[0]
    assert not ok.drifted
    bad = drift.drift_report(cur_bad, base).collect()[0]
    assert bad.null_drift and bad.distinct_drift and bad.quantile_drift


def test_exact_duplicates(spark):
    df = spark.createDataFrame(
        [("d1", "Hello  world"), ("d2", "hello world"), ("d3", "unique text")],
        "doc_id string, text string")
    got = dedup.exact_duplicates(df, "text", "doc_id").collect()
    assert len(got) == 1
    assert got[0].doc_ids == ["d1", "d2"]


def test_exact_duplicates_hot_group_capped(spark):
    """A 10k-way duplicate must produce a bounded doc_ids cell (VERDICT r02
    #3): n_docs stays exact, doc_ids is the max_ids lexicographically
    smallest member ids — identical to slicing the full sorted list."""
    rows = [(f"d{i:05d}", "same boilerplate text") for i in range(10_000)]
    rows.append(("zzz", "something unique"))
    df = spark.createDataFrame(rows, "doc_id string, text string")
    got = dedup.exact_duplicates(df, "text", "doc_id", max_ids=7).collect()
    assert len(got) == 1
    assert got[0].n_docs == 10_000
    assert got[0].doc_ids == [f"d{i:05d}" for i in range(7)]


def test_minhash_near_duplicates(spark):
    base = "the quick brown fox jumps over the lazy dog again and again " * 3
    near = base.replace("lazy", "sleepy")
    other = "completely different content about spark query engines " * 3
    df = spark.createDataFrame(
        [("a", base), ("b", near), ("c", other)], "doc_id string, text string")
    pairs = dedup.minhash_near_duplicates(df, "text", "doc_id",
                                          jaccard_threshold=0.5).collect()
    assert [(p.doc_id_a, p.doc_id_b) for p in pairs] == [("a", "b")]
    assert pairs[0].jaccard > 0.5


def test_simhash_near_duplicates(spark):
    # 24 distinct tokens: one substituted token moves the fingerprint by
    # 1 bit, within hamming distance 3 (over 10 tokens it moves 8)
    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa lambda "
            "mu nu xi omicron pi rho sigma tau upsilon phi chi psi omega")
    near = base.replace("omega", "digamma")
    other = "numbers one two three four five six seven eight nine ten " * 4
    df = spark.createDataFrame(
        [("a", base), ("b", near), ("c", other)], "doc_id string, text string")
    fp = {r.doc_id: r.fp for r in df.select(
        "doc_id", dedup.simhash(F.col("text")).alias("fp")).collect()}

    def hamming(x, y):
        return bin(fp[x] ^ fp[y]).count("1")

    assert hamming("a", "b") <= 3 < hamming("a", "c")


def test_cosine_topk(spark):
    rows = [("v1", [1.0, 0.0]), ("v2", [0.9, 0.1]), ("v3", [0.0, 1.0])]
    df = spark.createDataFrame(rows, "vec_id string, embedding array<double>")
    top = similarity.cosine_topk(df, "embedding", "vec_id", [1.0, 0.0], k=2).collect()
    assert [r.vec_id for r in top] == ["v1", "v2"]


def test_ann_topk_matches_exact_for_easy_case(spark):
    rng = np.random.default_rng(7)
    vecs = rng.standard_normal((200, 8))
    q = vecs[17] + rng.standard_normal(8) * 0.01
    df = spark.createDataFrame(
        [(f"v{i}", [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id string, embedding array<double>")
    got = similarity.ann_topk(df, "embedding", "vec_id", [float(x) for x in q],
                              k=1).collect()
    assert got and got[0].vec_id == "v17"


def test_embedding_near_duplicates(spark):
    rng = np.random.default_rng(3)
    a = rng.standard_normal(16)
    b = a + rng.standard_normal(16) * 0.01
    c = rng.standard_normal(16)
    df = spark.createDataFrame(
        [("a", [float(x) for x in a]), ("b", [float(x) for x in b]),
         ("c", [float(x) for x in c])],
        "doc_id string, embedding array<double>")
    pairs = similarity.embedding_near_duplicates(df, "embedding", "doc_id",
                                                 cosine_threshold=0.98).collect()
    assert {(p.id_a, p.id_b) for p in pairs} == {("a", "b")}


def test_checkpoint_resume(spark, tmp_path):
    df = spark.createDataFrame([(f"k{i}", i) for i in range(100)], "k string, v int")
    mdir = str(tmp_path / "manifest")
    calls = []

    def process(bucket_df, bucket_id):
        n = bucket_df.count()
        calls.append(bucket_id)
        if len(calls) == 3:
            raise RuntimeError("simulated crash")
        return {"rows": n}

    m1 = checkpoint.PartitionManifest(mdir)
    with pytest.raises(RuntimeError):
        checkpoint.run_resumable(df, "k", 4, m1, process)
    assert len(m1.completed) == 2  # two buckets committed before the crash

    calls.clear()
    m2 = checkpoint.PartitionManifest(mdir)

    def process_ok(bucket_df, bucket_id):
        calls.append(bucket_id)
        return {"rows": bucket_df.count()}

    metrics = checkpoint.run_resumable(df, "k", 4, m2, process_ok)
    assert len(metrics) == 4
    assert len(calls) == 2  # only the two uncommitted buckets re-ran
    assert sum(m["rows"] for m in metrics.values()) == 100


def test_resume_prunes_files_not_predicates(spark, tmp_path):
    """VERDICT r02 #1 'done' criterion: a resumed run's per-bucket scans
    must read ONLY the un-committed buckets' staged files — file pruning,
    not a hash predicate over the full input. Also: the one-pass staging
    copy is written exactly once across crash + resume."""
    df = spark.createDataFrame([(f"k{i}", i) for i in range(100)], "k string, v int")
    mdir = str(tmp_path / "manifest")
    seen: dict[int, list[str]] = {}

    def crash_at_third(bucket_df, bucket_id):
        seen[bucket_id] = list(bucket_df.inputFiles())
        if len(seen) == 3:
            raise RuntimeError("simulated crash")
        return {"rows": bucket_df.count()}

    m1 = checkpoint.PartitionManifest(mdir)
    with pytest.raises(RuntimeError):
        checkpoint.run_resumable(df, "k", 4, m1, crash_at_third)
    staging = str(tmp_path / "manifest" / "staging")
    stage_mtime = os.path.getmtime(os.path.join(staging, "_SUCCESS"))
    done_before = set(m1.completed)

    seen.clear()
    m2 = checkpoint.PartitionManifest(mdir)

    def record(bucket_df, bucket_id):
        seen[bucket_id] = list(bucket_df.inputFiles())
        return {"rows": bucket_df.count()}

    metrics = checkpoint.run_resumable(df, "k", 4, m2, record)
    # resumed buckets are exactly the ones not committed before the crash
    assert set(map(str, seen)) == {str(b) for b in range(4)} - done_before
    # every file opened by a resumed bucket lives under that bucket's dir
    for b, files in seen.items():
        assert files, f"bucket {b} read no staged files"
        for f in files:
            assert f"_bucket={b}/" in f or f.endswith(f"_bucket={b}"), (b, f)
    # staging was not rewritten on resume (single full pass over the input)
    assert os.path.getmtime(os.path.join(staging, "_SUCCESS")) == stage_mtime
    assert sum(m["rows"] for m in metrics.values()) == 100


def test_contamination_flags_and_decontaminate(spark):
    from json_skema_spark.operators import contamination
    df = spark.createDataFrame(
        [(1, "The QUICK   brown fox jumps"), (2, "totally clean document text"),
         (3, "prefix quick brown fox suffix")],
        "doc_id int, text string")
    probes = ["quick brown fox"]
    flags = {r.doc_id: (r.contaminated, r.matched)
             for r in contamination.contamination_flags(
                 df, "text", "doc_id", probes).collect()}
    assert flags[1] == (True, "quick brown fox")   # case/whitespace normalized
    assert flags[2] == (False, "")
    assert flags[3][0] is True
    assert [d for d, (hit, _m) in sorted(flags.items()) if not hit] == [2]


def test_stratified_sample_deterministic(spark):
    from json_skema_spark.operators import sampling
    df = spark.range(0, 2000).selectExpr(
        "id AS k", "CASE WHEN id % 2 = 0 THEN 'en' ELSE 'de' END AS lang")
    out1 = sampling.stratified_sample(df, "k", "lang",
                                      {"en": 0.5, "de": 0.1}).collect()
    out2 = sampling.stratified_sample(df.repartition(7), "k", "lang",
                                      {"en": 0.5, "de": 0.1}).collect()
    # deterministic in the key: identical selection across partitionings
    assert sorted(r.k for r in out1) == sorted(r.k for r in out2)
    n_en = sum(1 for r in out1 if r.lang == "en")
    n_de = sum(1 for r in out1 if r.lang == "de")
    assert 400 <= n_en <= 600 and 50 <= n_de <= 150  # ~0.5/0.1 of 1000 each
    # different seed -> different selection
    out3 = sampling.stratified_sample(df, "k", "lang", {"en": 0.5, "de": 0.1},
                                      seed=7).collect()
    assert sorted(r.k for r in out3) != sorted(r.k for r in out1)


def test_pack_greedy_and_chunk_assignments(spark):
    from json_skema_spark.operators import packing
    df = spark.createDataFrame(
        [(f"d{i:03d}", n) for i, n in enumerate(
            [1500, 900, 800, 700, 600, 400, 300, 200, 100, 3000])],
        "doc_id string, n_tokens long")
    packed = packing.pack_greedy(df, "doc_id", "n_tokens",
                                 max_tokens=2048, buckets=1).collect()
    assert sorted(r.doc_id for r in packed) == sorted(
        f"d{i:03d}" for i in range(10))  # every doc packed exactly once
    totals = {}
    for r in packed:
        totals.setdefault(r.pack_id, []).append(r.n_tokens)
    for pid, toks in totals.items():
        assert sum(toks) <= 2048 or len(toks) == 1  # oversized doc alone
    # FFD beats one-doc-per-pack
    assert len(totals) < 10
    # determinism across partitionings
    p2 = packing.pack_greedy(df.repartition(5), "doc_id", "n_tokens",
                             max_tokens=2048, buckets=1).collect()
    assert sorted(map(tuple, packed)) == sorted(map(tuple, p2))

    chunks = packing.chunk_assignments(df, "doc_id", "n_tokens",
                                       max_tokens=1000).collect()
    by_id = {r.doc_id: r for r in chunks}
    assert by_id["d000"].chunk_id == 0 and by_id["d000"].chunk_offset == 0
    assert by_id["d001"].chunk_id == 1 and by_id["d001"].chunk_offset == 500


def test_chunk_assignments_two_level_prefix_sum(spark):
    """VERDICT r02 #2: the running sum must not serialize a whole group
    onto one task. Plan-pinned: with a group column the executed plan has
    ZERO single-partition exchanges; without one, the only single-partition
    exchange is over the per-slice subtotal table (one row per shuffle
    partition), never the document stream. Values must equal the naive
    single-window formulation."""
    from pyspark.sql import Window

    from json_skema_spark.operators import packing
    import random
    random.seed(11)
    rows = [(f"d{i:05d}", random.choice(["en", "fr", "de"]),
             random.randint(1, 4000)) for i in range(3000)]
    df = spark.createDataFrame(rows, "doc_id string, lang string, n_tokens long")

    for group in ("lang", None):
        got = packing.chunk_assignments(df, "doc_id", "n_tokens",
                                        max_tokens=2048, group_col=group)
        part = [group] if group else []
        w = (Window.partitionBy(*part).orderBy("doc_id") if part
             else Window.orderBy("doc_id"))
        start = (F.sum("n_tokens").over(w) - F.col("n_tokens")).cast("long")
        want = df.select(
            "doc_id", *part, "n_tokens",
            F.floor(start / 2048).cast("long").alias("chunk_id"),
            F.pmod(start, F.lit(2048)).cast("long").alias("chunk_offset"))
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0
        plan = got._jdf.queryExecution().executedPlan().toString()
        n_single = plan.count("SinglePartition")
        assert n_single == (0 if group else 1), plan


def test_duplicate_clusters_transitive_closure(spark):
    """A~B, B~C, D~E: two clusters, min-id canonical, chains collapse even
    though A~C was never emitted; long chain converges within max_iter via
    pointer jumping."""
    from json_skema_spark.operators.dedup import duplicate_clusters

    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("d", "e")],
        "doc_id_a string, doc_id_b string")
    got = {r.doc_id: (r.cluster_id, r.is_canonical)
           for r in duplicate_clusters(pairs).collect()}
    assert got == {"a": ("a", True), "b": ("a", False), "c": ("a", False),
                   "d": ("d", True), "e": ("d", False)}

    # 40-node path graph: diameter 39 >> default rounds without jumping
    chain = spark.createDataFrame(
        [(f"n{i:02d}", f"n{i+1:02d}") for i in range(39)],
        "doc_id_a string, doc_id_b string")
    labels = duplicate_clusters(chain, max_iter=8).collect()
    assert {r.cluster_id for r in labels} == {"n00"}
    assert sum(r.is_canonical for r in labels) == 1


def test_violation_digest_exact_counts_bounded_examples(spark):
    """Counts exact even when examples are capped; example_keys = the K
    globally smallest keys regardless of salt bucketing."""
    from json_skema_spark.plans.verdict import violation_digest

    rows = [(f"k{i:04d}", "maximum", "#/properties/v/maximum") for i in range(500)] \
        + [("z1", "required", "#/required")]
    v = spark.createDataFrame(
        rows, "row_key string, keyword string, keyword_location string")
    got = {r.keyword: r for r in
           violation_digest(v, per_keyword=3).collect()}
    assert got["maximum"].n_violations == 500
    assert got["maximum"].example_keys == ["k0000", "k0001", "k0002"]
    assert got["required"].n_violations == 1
    assert got["required"].example_keys == ["z1"]


def test_resume_honors_recorded_staging_dir(spark, tmp_path):
    """Review regression: a resume invoked with a DIFFERENT staging_dir
    must read the directory the crashed run actually staged (recorded in
    the manifest), not silently treat every bucket as empty."""
    df = spark.createDataFrame([(f"k{i}", i) for i in range(60)],
                               "k string, v int")
    mdir = str(tmp_path / "m")
    run1_staging = str(tmp_path / "stage_A")

    def crash_at_second(bucket_df, bucket_id):
        if bucket_id >= 1:
            raise RuntimeError("simulated crash")
        return {"rows": bucket_df.count()}

    m1 = checkpoint.PartitionManifest(mdir)
    with pytest.raises(RuntimeError):
        checkpoint.run_resumable(df, "k", 4, m1, crash_at_second,
                                 staging_dir=run1_staging)
    assert m1.staging_dir == run1_staging

    m2 = checkpoint.PartitionManifest(mdir)
    metrics = checkpoint.run_resumable(
        df, "k", 4, m2, lambda b, i: {"rows": b.count()},
        staging_dir=str(tmp_path / "stage_B_never_created"))
    assert sum(m["rows"] for m in metrics.values()) == 60  # nothing lost


def test_drop_near_duplicates_end_to_end(spark):
    """pairs -> clusters -> keep canonical: transitive near-dups collapse
    to one survivor; distinct docs survive untouched."""
    from json_skema_spark.operators.dedup import drop_near_duplicates

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [("d1", base),
            ("d2", base + " today"),        # near-dup of d1
            ("d3", base + " today now"),    # near-dup of d2 (chains to d1)
            ("d4", "completely different text about spark dataframes "
                   "and shuffle boundaries in distributed engines")]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    kept = {r.doc_id for r in
            drop_near_duplicates(df, "text", "doc_id",
                                 jaccard_threshold=0.5).collect()}
    assert kept == {"d1", "d4"}  # min-id canonical survives each cluster


def test_resume_refuses_missing_staging_root(spark, tmp_path):
    """Review regression: a staged manifest whose staging dir vanished
    (tmp cleaner, node swap) must raise, not commit empty buckets."""
    import shutil

    df = spark.createDataFrame([(f"k{i}", i) for i in range(20)],
                               "k string, v int")
    mdir = str(tmp_path / "m")
    m1 = checkpoint.PartitionManifest(mdir)
    with pytest.raises(RuntimeError):
        checkpoint.run_resumable(
            df, "k", 4, m1,
            lambda b, i: (_ for _ in ()).throw(RuntimeError("crash")))
    shutil.rmtree(os.path.join(mdir, "staging"))
    m2 = checkpoint.PartitionManifest(mdir)
    with pytest.raises(FileNotFoundError, match="does not exist"):
        checkpoint.run_resumable(df, "k", 4, m2,
                                 lambda b, i: {"rows": b.count()})


def test_cosine_zero_vector_safe(spark):
    """Zero-norm embeddings score 0.0, not NaN (NaN sorts ABOVE every
    number in Spark and would both pass >= filters and top every top-k)."""
    from json_skema_spark.operators.similarity import cosine, cosine_topk

    df = spark.createDataFrame(
        [("z", [0.0, 0.0]), ("a", [1.0, 0.0]), ("b", [0.0, 1.0])],
        "doc_id string, e array<double>")
    vals = {r.doc_id: r.c for r in df.select(
        "doc_id", cosine(F.col("e"), F.array(F.lit(1.0), F.lit(0.0)))
        .alias("c")).collect()}
    assert vals["z"] == 0.0 and vals["a"] == 1.0
    top = cosine_topk(df, "e", "doc_id", [1.0, 0.0], k=2).collect()
    assert [r.doc_id for r in top] == ["a", "b"]  # zero vector not on top


def test_exact_duplicates_ignores_null_text(spark):
    """Null-text rows are not duplicates of each other (null digests group
    together under groupBy)."""
    from json_skema_spark.operators.dedup import exact_duplicates

    df = spark.createDataFrame(
        [("a", None), ("b", None), ("c", "same"), ("d", "same")],
        "doc_id string, text string")
    got = exact_duplicates(df, "text", "doc_id").collect()
    assert len(got) == 1 and set(got[0].doc_ids) == {"c", "d"}


def test_contamination_null_text_kept(spark):
    from json_skema_spark.operators.contamination import contamination_flags

    df = spark.createDataFrame(
        [("a", "the quick brown fox runs"), ("b", None)],
        "doc_id string, text string")
    flags = {r.doc_id: r.contaminated for r in contamination_flags(
        df, "text", "doc_id", ["quick brown fox"]).collect()}
    assert flags == {"a": True, "b": False}  # real boolean, not NULL


def test_drift_report_flags_added_and_removed_columns(spark):
    from json_skema_spark.operators.drift import drift_report
    from json_skema_spark.operators.stats import profile

    base_df = spark.createDataFrame([(1, "x")], "a int, b string")
    cur_df = spark.createDataFrame([(1, 2.0)], "a int, c double")
    rep = {r.column_name: r for r in drift_report(
        profile(cur_df), profile(base_df)).collect()}
    assert set(rep) == {"a", "b", "c"}
    assert not rep["a"].drifted
    assert rep["b"].drifted and rep["c"].drifted  # removed/added = drift


def test_resume_refuses_bucket_count_mismatch(spark, tmp_path):
    """Review regression: resuming with a different num_buckets would read
    missing bucket dirs as empty and skip validation — must raise."""
    df = spark.createDataFrame([(f"k{i}", i) for i in range(20)],
                               "k string, v int")
    mdir = str(tmp_path / "m")
    m1 = checkpoint.PartitionManifest(mdir)
    with pytest.raises(RuntimeError):
        checkpoint.run_resumable(
            df, "k", 8, m1,
            lambda b, i: (_ for _ in ()).throw(RuntimeError("crash")))
    m2 = checkpoint.PartitionManifest(mdir)
    with pytest.raises(ValueError,
                       match="num_buckets: requested 4, recorded 8"):
        checkpoint.run_resumable(df, "k", 4, m2,
                                 lambda b, i: {"rows": b.count()})
