"""Round-4 review-pass regressions for the profile/drift/sampling/packing/
infer/annotations family (all findings confirmed against concrete failure
scenarios before fixing)."""

from decimal import Decimal

import pytest
from pyspark.sql import functions as F


def test_infer_decimal_enum_and_bounds(spark):
    """DecimalType columns: enum values and min/max must render without a
    json.dumps TypeError, and integral decimals past 2^53 must mine EXACT
    bounds (a float round-trip mines a maximum below the data max)."""
    from json_skema_spark.operators.infer import suggest_constraints
    big = Decimal("10000000000000000001")  # > 2^53, float rounds DOWN
    df = spark.createDataFrame(
        [(Decimal("1.50"),), (Decimal("2.25"),), (big,)],
        "price decimal(38,2)")
    sug = {(r.column_name, r.keyword): r.value
           for r in suggest_constraints(df).collect()}
    assert ("price", "maximum") in sug or ("price", "enum") in sug
    rendered = " ".join(sug.values())
    assert "10000000000000000001" in rendered  # exact, not 1e19


def test_pack_greedy_null_tokens_counts_as_zero(spark):
    from json_skema_spark.operators.packing import pack_greedy
    df = spark.createDataFrame(
        [("a", 10), ("b", None), ("c", 5)], "doc_id string, n int")
    out = pack_greedy(df, "doc_id", "n", max_tokens=16, buckets=1).collect()
    assert len(out) == 3  # null row packed (as 0), task did not die
    assert {r.doc_id for r in out} == {"a", "b", "c"}


def test_chunk_assignments_null_tokens_no_null_chunks(spark):
    from json_skema_spark.operators.packing import chunk_assignments
    df = spark.createDataFrame(
        [("a", 10), ("b", None), ("c", 5)], "doc_id string, n int")
    out = chunk_assignments(df, "doc_id", "n", max_tokens=8).collect()
    assert all(r.chunk_id is not None for r in out)


def test_chunk_id_exact_past_double_precision(spark):
    """chunk_id must use exact arithmetic: cumulative token streams past
    2^53 round under double division while chunk_offset (long pmod) stays
    exact — the pair would disagree."""
    from json_skema_spark.operators.packing import chunk_assignments
    big = (1 << 53) + 4097  # odd offset past the double-exact boundary
    df = spark.createDataFrame(
        [("a", big), ("b", 10), ("c", 7)], "doc_id string, n long")
    out = {r.doc_id: r for r in
           chunk_assignments(df, "doc_id", "n", max_tokens=2048).collect()}
    for doc, start in (("a", 0), ("b", big), ("c", big + 10)):
        assert out[doc].chunk_id == start // 2048, doc
        assert out[doc].chunk_offset == start % 2048, doc


def test_stratified_sample_keeps_null_keys_at_full_rate(spark):
    from json_skema_spark.operators.sampling import stratified_sample
    df = spark.createDataFrame(
        [("k1", "fr"), (None, "fr"), ("k2", "en")],
        "doc_id string, lang string")
    kept = stratified_sample(df, "doc_id", "lang",
                             {"fr": 1.0, "en": 0.0}).collect()
    assert {r.lang for r in kept} == {"fr"} and len(kept) == 2


def test_drift_all_null_column_not_flagged(spark):
    """approx_distinct 0 on BOTH sides = identical distribution, not
    drift."""
    from json_skema_spark.operators.drift import drift_report
    prof = spark.createDataFrame(
        [("ghost", 100, 1.0, None, None, 0, None)],
        "column_name string, n_rows long, null_fraction double, "
        "min_value string, max_value string, approx_distinct long, "
        "quantiles array<double>")
    rep = drift_report(prof, prof).collect()
    assert len(rep) == 1 and rep[0].drifted is False


def test_deprecated_usage_dotted_column_name(spark):
    from json_skema_spark.operators.annotations import deprecated_usage
    df = spark.createDataFrame([(1.0, 2.0), (None, 3.0)],
                               "`legacy.score` double, score double")
    schema = {"properties": {"legacy.score": {"deprecated": True}}}
    rep = deprecated_usage(df, schema).collect()
    row = next(r for r in rep if r.property_path == "legacy.score")
    assert row.n_present == 1  # one non-null usage counted, no crash


def test_merged_profile_long_minmax_exact(spark):
    """Long min/max past 2^53 must survive the mergeable fold EXACTLY —
    the double path rounds 2^63-1 to 9.223372036854776E18."""
    from json_skema_spark.operators.stats import (mergeable_profile,
                                                  merge_profiles)
    big = (1 << 63) - 1
    df = spark.createDataFrame([(big,), (big - 1,), (5,)], "id long")
    merged = merge_profiles(mergeable_profile(df)).collect()[0]
    assert merged.max_value == str(big)
    assert merged.min_value == "5"


def test_merge_hll_tolerates_different_lg_k(spark):
    from json_skema_spark.operators.stats import hll_sketches, merge_hll
    df = spark.createDataFrame([(i,) for i in range(100)], "id long")
    a = hll_sketches(df, ["id"], lg_k=12)
    b = hll_sketches(df, ["id"], lg_k=13)
    est = merge_hll(a.unionByName(b)).collect()[0].approx_distinct
    assert 80 <= est <= 120  # merge succeeded, estimate sane


def test_profile_per_partition_name_collision_raises(spark):
    from json_skema_spark.operators.stats import profile
    df = spark.createDataFrame([(1, 2)], "partition_id int, v int")
    with pytest.raises(ValueError, match="partition_id"):
        profile(df, ["v"], per_partition=True)


# ---------------------------------------- dedup/join family (review pass 6)

def test_simhash_banding_scales_with_max_hamming(spark):
    """Fixed 4-chunk banding only guarantees recall for hamming <= 3; the
    chunk count must derive from max_hamming. Construct a pair at hamming
    distance 4 whose differing bits hit 4 distinct 12-bit chunks — the old
    banding misses it, max_hamming=4 (5 chunks) must find it."""
    from json_skema_spark.operators import dedup

    # find two texts whose fingerprints differ in exactly 4 bits spread
    # over all four 12-bit chunks: search a small pool deterministically
    import itertools
    texts = [f"alpha bravo charlie delta echo w{i}" for i in range(40)]
    df = spark.createDataFrame([(str(i), t) for i, t in enumerate(texts)],
                               "doc_id string, text string")
    fps = {r.doc_id: r.fp for r in df.select(
        "doc_id", dedup.simhash(F.col("text")).alias("fp")).collect()}
    target = None
    for a, b in itertools.combinations(fps, 2):
        x = fps[a] ^ fps[b]
        if bin(x).count("1") == 4 and all(
                (x >> (12 * c)) & 0xFFF for c in range(4)):
            target = (a, b)
            break
    if target is None:
        pytest.skip("no 4-bit all-chunk pair in the pool (fingerprints "
                    "are data-dependent)")
    pair_df = df.filter(F.col("doc_id").isin(list(target)))
    found = dedup.simhash_near_duplicates(pair_df, "text", "doc_id",
                                          max_hamming=4).collect()
    assert len(found) == 1 and found[0].hamming == 4


def test_duplicate_keys_ignores_nulls(spark):
    from json_skema_spark.operators import uniqueness
    df = spark.createDataFrame(
        [(None,), (None,), (None,), ("k1",), ("k1",)], "k string")
    dups = uniqueness.duplicate_keys(df, "k").collect()
    assert len(dups) == 1 and dups[0].key == "k1" and dups[0].n_rows == 2
    rows = uniqueness.duplicate_rows(df, "k").collect()
    assert {r.k for r in rows} == {"k1"}  # both APIs now agree


def test_minhash_null_text_not_duplicates(spark):
    from json_skema_spark.operators import dedup
    df = spark.createDataFrame(
        [("a", None), ("b", None), ("c", None),
         ("d", "the quick brown fox jumps over the lazy dog"),
         ("e", "the quick brown fox jumps over the lazy dog")],
        "doc_id string, text string")
    pairs = dedup.minhash_near_duplicates(df, "text", "doc_id",
                                          jaccard_threshold=0.9).collect()
    ids = {(r.doc_id_a, r.doc_id_b) for r in pairs}
    assert ids == {("d", "e")}  # null-text docs never pair


def test_orphans_null_fact_keys_not_reported(spark):
    from json_skema_spark.operators import referential
    fact = spark.createDataFrame([("k1",), (None,), (None,)], "k string")
    dim = spark.createDataFrame([("k1",)], "k string")
    assert referential.orphans(fact, dim, "k").count() == 0
    fact2 = spark.createDataFrame([("k2",), (None,)], "k string")
    o = referential.orphans(fact2, dim, "k").collect()
    assert [r.k for r in o] == ["k2"]  # real orphan still found


def test_field_equality_any_reference_value_conforms(spark):
    from json_skema_spark.operators import referential
    dim = spark.createDataFrame(
        [("k1", "a"), ("k1", "b"), ("k2", "x")], "k string, v string")
    fact = spark.createDataFrame(
        [("k1", "a"), ("k1", "b"), ("k1", "z"), ("k2", "x"), ("k3", "q")],
        "k string, v string")
    viols = referential.field_equality_violations(fact, dim, "k", "v").collect()
    # only (k1, z) violates: it matches neither 'a' nor 'b'; k3 is an
    # orphan (not an equality violation); no duplicates from dim fan-out
    assert len(viols) == 1 and viols[0].row_key == "k1"


def test_release_persisted_signatures(spark):
    from json_skema_spark.operators import dedup
    df = spark.createDataFrame(
        [(str(i), f"some text number {i} with shared words") for i in range(20)],
        "doc_id string, text string")
    dedup.minhash_near_duplicates(df, "text", "doc_id").count()
    assert dedup.release_persisted_signatures() >= 1
    assert dedup.release_persisted_signatures() == 0  # idempotent


# ------------------------------- fixtures/functions family (review pass 7)

def test_builder_subschema_not_aliased():
    from json_skema_spark.plans.builder import SchemaBuilder
    name = SchemaBuilder.string().minLength(2)
    parent = (SchemaBuilder.object()
              .prop("a", name).prop("b", name).build())
    name.maxLength(5)  # post-attachment chaining must NOT leak into parent
    assert parent["properties"]["a"] == {"type": "string", "minLength": 2}
    assert parent["properties"]["b"] == {"type": "string", "minLength": 2}
    built = SchemaBuilder.integer().minimum(1)
    doc1 = built.build()
    built.maximum(9)
    assert doc1 == {"type": "integer", "minimum": 1}  # build() snapshot


def test_contamination_probe_word_count_validated(spark):
    from json_skema_spark.operators.contamination import (
        contamination_flags, decontaminate)
    df = spark.createDataFrame([("d1", "the answer is forty two")],
                               "doc_id string, text string")
    with pytest.raises(ValueError, match="never match"):
        contamination_flags(df, "text", "doc_id",
                            ["the answer is forty"], n=3)
    with pytest.raises(ValueError, match="never match"):
        decontaminate(df, "text", "doc_id", ["answer is"], n=3)
    # exact-n probes still work through both twins
    flags = contamination_flags(df, "text", "doc_id",
                                ["the answer is"], n=3).collect()
    assert flags[0].contaminated is True
    assert decontaminate(df, "text", "doc_id",
                         ["the answer is"], n=3).count() == 0


def test_scrubber_replacement_with_dollar_sign(spark):
    from json_skema_spark.functions.text import remove_emails, remove_urls
    df = spark.createDataFrame(
        [("see https://x.test/a and mail me@x.test",)], "text string")
    out = df.select(
        remove_urls(F.col("text"), "<$URL>").alias("a")).collect()[0].a
    assert "<$URL>" in out and "https" not in out
    out2 = df.select(
        remove_emails(F.col("text"), r"<\MAIL>").alias("b")).collect()[0].b
    assert r"<\MAIL>" in out2 and "me@x.test" not in out2


def test_audio_features_sr_zero_decoder_contained(spark):
    """A third-party decoder reporting sample rate 0 must degrade to empty
    rows, never ZeroDivisionError the task (the registry contract)."""
    import numpy as np

    from json_skema_spark.functions import audio as audio_fn
    from json_skema_spark.functions.audio_features import (extract_features,
                                                           resample_clips,
                                                           sample_frames)
    audio_fn.register_decoder("srzero", lambda buf: (np.ones(100), 0, ""))
    try:
        df = spark.createDataFrame(
            [("c1", bytearray(b"xx"), "srzero")],
            "clip_id string, bytes binary, codec string")
        feats = extract_features(df).collect()
        assert feats[0].n_frames == 0
        res = resample_clips(df, target_sr=8000).collect()
        assert res[0].n_samples == 0
        assert sample_frames(df).count() == 0
    finally:
        audio_fn.unregister_decoder("srzero")
        audio_fn._KNOWN_CODECS.discard("srzero")


def test_transcripts_ref_inject_matches_clips(spark):
    """inject=False ref against inject=False clips: ids align (no spurious
    orphans from injection-consumed rng draws), transcripts agree except
    the documented ~0.2% mutations."""
    from json_skema_spark.sources.clips import clips_df, transcripts_ref_df
    clips = clips_df(spark, 300, audio=False, inject=False)
    ref = transcripts_ref_df(spark, 300, inject=False)
    j = clips.join(ref, "clip_id")
    n = j.count()
    assert n >= 290  # only the ~0.3% omitted-orphan draw removes ids
    diff = j.filter(clips["transcript"] != ref["transcript"]).count()
    assert diff <= 3  # only the documented ~0.2% MUTATED rows differ
