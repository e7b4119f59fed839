"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: validate the orders table at sf0.001 and return
the exploded violations DataFrame.

``queries()`` / ``oracle_sql()`` — one entry per operator family from
SURVEY.md §2, DuckDB-cross-checkable at sf0.01. Every computed column is
aliased identically on both sides (the driver's compare sorts columns by
name and hashes values).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from json_skema_spark import compile_schema
from json_skema_spark.functions import text as jtext
from json_skema_spark.operators import dedup, referential, similarity, stats, uniqueness

SF0001 = "/root/testdata/sf0.001"

# ---------------------------------------------------------------------------
# schemas under validation (draft 2020-12 keyword coverage over driver tables)
# ---------------------------------------------------------------------------

ORDERS_SCHEMA = {
    "type": "object",
    "properties": {
        "o_orderstatus": {"enum": ["O", "F"]},
        "o_totalprice": {"type": "number", "exclusiveMinimum": 0, "maximum": 400000},
        "o_orderpriority": {"type": "string", "pattern": "^[1-5]-"},
    },
    "required": ["o_orderkey", "o_custkey"],
}

LINEITEM_SCHEMA = {
    "type": "object",
    "properties": {
        "l_quantity": {"minimum": 1, "maximum": 45},
        "l_discount": {"maximum": 0.08},
        "l_returnflag": {"enum": ["A", "N", "R"]},
        "l_linestatus": {"enum": ["O"]},
        "l_linenumber": {"type": "integer", "multipleOf": 2},
        "l_extendedprice": {"exclusiveMinimum": 0},
    },
    "required": ["l_orderkey", "l_partkey"],
}

EMBED_QUERY = [1.0] + [0.0] * 63  # fixed probe vector for top-k


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: schema-validate orders at sf0.001 -> violations table."""
    orders = _t(spark, SF0001, "orders")
    plan = compile_schema(ORDERS_SCHEMA, orders.schema)
    return plan.violations(orders, "o_orderkey")


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def _q_orders_verdict(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    plan = compile_schema(ORDERS_SCHEMA, orders.schema)
    return plan.apply(orders, mode="verdict").select("o_orderkey", "passed")


def _q_orders_violations(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    plan = compile_schema(ORDERS_SCHEMA, orders.schema)
    return plan.violations(orders, "o_orderkey").drop("partition_id")


def _q_violation_digest(spark, sf_dir):
    """Triage digest (plans/verdict.violation_digest): exact per-keyword
    counts + the 5 smallest offending keys, computed with salted windowed
    top-K (never a full collect of a hot keyword). Oracle: same violations
    SQL grouped with an ordered array_agg slice."""
    from json_skema_spark.plans.verdict import violation_digest
    orders = _t(spark, sf_dir, "orders")
    plan = compile_schema(ORDERS_SCHEMA, orders.schema)
    v = plan.violations(orders, "o_orderkey")
    # example_keys serialized to a joined string: the driver's value-hash
    # comparator needs hash-comparable scalar cells, not arrays (same
    # pattern as dedup_exact_documents below).
    return violation_digest(v, per_keyword=5).select(
        "keyword", "keyword_location", "n_violations",
        F.array_join(F.col("example_keys"), ",").alias("example_keys"))


def _q_lineitem_verdict(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    plan = compile_schema(LINEITEM_SCHEMA, li.schema)
    return plan.apply(li, mode="verdict").select(
        "l_orderkey", "l_linenumber", "passed")


def _q_lineitem_violation_summary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    plan = compile_schema(LINEITEM_SCHEMA, li.schema)
    return plan.summary(li)


def _q_duplicate_orderkeys(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return uniqueness.duplicate_keys(li, "l_orderkey") \
        .select(F.col("key").alias("l_orderkey"), "n_rows")


def _q_customers_without_orders(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return referential.orphans(c, o.select(F.col("o_custkey").alias("c_custkey")),
                               "c_custkey").select("c_custkey")


def _q_orders_null_injected(spark, sf_dir):
    """NULL-path gate (review r04): the sf fixtures carry ZERO NULL cells,
    so the required-keyword and null-member paths were compared on
    vacuously-true results. Deterministic NULL injection (key-derived)
    makes the comparison exercise them: ~1% of rows lose o_orderstatus
    (required+enum), ~1% lose o_totalprice (optional keyword skips), ~1%
    lose o_custkey (required)."""
    orders = _t(spark, sf_dir, "orders")
    inj = orders.select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 97 == 0, F.lit(None))
        .otherwise(F.col("o_orderstatus")).alias("o_orderstatus"),
        F.when(F.col("o_orderkey") % 89 == 0, F.lit(None))
        .otherwise(F.col("o_totalprice")).alias("o_totalprice"),
        F.when(F.col("o_orderkey") % 83 == 0, F.lit(None))
        .otherwise(F.col("o_custkey")).alias("o_custkey"))
    schema = {"type": "object",
              "properties": {"o_orderstatus": {"enum": ["O", "F", "P"]},
                             "o_totalprice": {"minimum": 0}},
              "required": ["o_orderstatus", "o_custkey"]}
    plan = compile_schema(schema, inj.schema)
    return plan.apply(inj, mode="verdict").select("o_orderkey", "passed")


def _q_orphans_injected(spark, sf_dir):
    """Orphan-path gate (review r04): the fixture has zero orphan
    customers, so referential.orphans' output path compared empty-vs-empty.
    Dropping every order whose custkey is divisible by 7 orphans a
    deterministic ~14% of customers — the anti-join's nonzero path."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") % 7 != 0)
    return referential.orphans(
        c, o.select(F.col("o_custkey").alias("c_custkey")),
        "c_custkey").select("c_custkey")


def _q_profile_lineitem(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    cols = ["l_orderkey", "l_quantity", "l_extendedprice", "l_discount"]
    return stats.profile(li, cols, exact_distinct=True).select(
        "column_name", "n_rows", "null_fraction", "min_value", "max_value",
        F.col("approx_distinct").alias("n_distinct"))


def _q_exact_dup_documents(spark, sf_dir):
    # doc_ids serialized to a joined string: the driver's value-hash
    # comparator needs hash-comparable scalar cells, not arrays.
    # doc_id pre-cast to STRING so the operator's sort (and its max_ids
    # K-smallest cap) is lexicographic like the oracle's VARCHAR
    # list_sort — numeric sort emits '9,10' where the oracle says '10,9'
    # for any dup group crossing a digit-length boundary (review r04)
    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"), "text")
    return dedup.exact_duplicates(docs, "text", "doc_id") \
        .select("digest", "n_docs",
                F.array_join(F.col("doc_ids").cast("array<string>"), ",")
                .alias("doc_ids"))


def _q_exact_dup_prefix(spark, sf_dir):
    """Exact dedup with guaranteed duplicates: digest of the first 3 tokens
    (documents share openings) — exercises the nonzero-duplicates path."""
    docs = _t(spark, sf_dir, "documents")
    prefixed = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),  # lexicographic sort
        F.array_join(F.slice(F.split(F.col("text"), " "), 1, 3), " ").alias("text"))
    return dedup.exact_duplicates(prefixed, "text", "doc_id") \
        .select("digest", "n_docs", F.array_join("doc_ids", ",").alias("doc_ids"))


def _q_exact_dup_hotkey(spark, sf_dir):
    """Exact dedup under ADVERSARIAL multiplicity (VERDICT r04 #3): every
    doc_id % 10 == 0 document's text replaced by ONE constant, so 10% of
    the corpus lands in a single digest group. Exercises the salted
    per-(digest, salt) K-smallest id cap (dedup.exact_duplicates max_ids)
    for real: the hot group has 50 members, the output cell keeps the 20
    lexicographically-smallest — the distributive top-K the docstring
    promises. Oracle: plain GROUP BY + list_sort slice on the identically
    injected corpus."""
    docs = _t(spark, sf_dir, "documents")
    injected = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),  # lexicographic sort
        F.when(F.col("doc_id") % 10 == 0, F.lit("hot boilerplate text"))
        .otherwise(F.col("text")).alias("text"))
    return dedup.exact_duplicates(injected, "text", "doc_id", max_ids=20) \
        .select("digest", "n_docs", F.array_join("doc_ids", ",").alias("doc_ids"))


def _q_duplicate_orderkeys_skewed(spark, sf_dir):
    """Uniqueness under ADVERSARIAL key skew (VERDICT r04 #3): the lineitem
    key column plus 5,000 injected rows all sharing key 1 (~8% of the
    sf0.01 table on one key). duplicate_keys is one groupBy count, and
    Spark's map-side partial count bounds what any reducer receives for
    the hot key at one row per map task, so no salt is needed; the exact
    count under skew is pinned by tests/test_skew_queries.py. Oracle:
    plain GROUP BY over the identical union."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey")
    hot = spark.range(5000).select(
        F.lit(1).cast("bigint").alias("l_orderkey"))
    return uniqueness.duplicate_keys(li.unionAll(hot), "l_orderkey") \
        .select(F.col("key").alias("l_orderkey"), "n_rows")


def _q_duplicate_rows(spark, sf_dir):
    """Row-level duplicate tagging (uniqueness.duplicate_rows): every ROW
    whose key occurs more than once, with the key's multiplicity — the
    violation-row twin of unique_duplicate_orderkeys (which returns one
    row per KEY). partition_id is dropped from the gate output (physical
    provenance, nondeterministic across runs by design)."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber")
    return uniqueness.duplicate_rows(li, "l_orderkey") \
        .select("l_orderkey", "l_linenumber", "n_rows")


def _q_uniqueness_violations(spark, sf_dir):
    """Duplicate keys rendered in the engine's standard violations shape
    (uniqueness.uniqueness_violations — FIXTURES.md §5 row contract)."""
    li = _t(spark, sf_dir, "lineitem")
    return uniqueness.uniqueness_violations(li, "l_orderkey")


def _q_field_equality(spark, sf_dir):
    """Transcript-equality-style reference check
    (referential.field_equality_violations — the input_hint's per-row
    'transcript equality vs the reference' invariant over driver tables):
    a reference table carrying a deterministically perturbed value for
    every o_orderkey % 31 == 0 row; exactly those rows must be reported
    as const violations, everything else conforms via the null-safe
    (key, value) anti-join. partition_id dropped (nondeterministic)."""
    o = _t(spark, sf_dir, "orders")
    ref = o.select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 31 == 0, F.lit("X-REF"))
        .otherwise(F.col("o_orderpriority")).alias("o_orderpriority"))
    v = referential.field_equality_violations(
        o.select("o_orderkey", "o_orderpriority"), ref,
        "o_orderkey", "o_orderpriority")
    return v.drop("partition_id")


def _q_drop_kept_set(spark, sf_dir):
    """END-TO-END one-call dedup (operators/dedup.drop_near_duplicates):
    MinHash-LSH pairs -> connected-components clusters -> anti-join the
    non-canonical members; returns the KEPT doc ids. The per-stage oracles
    (dedup_minhash_pairs/clusters) can't see composition bugs between the
    stages (loser-set construction, anti-join null keys) — this row can
    (VERDICT r04 #4). Oracle: the recursive-CTE closure's min-reachable-id
    keep rule, anti-selected from documents."""
    docs = _t(spark, sf_dir, "documents")
    kept = dedup.drop_near_duplicates(docs, "text", "doc_id",
                                      jaccard_threshold=0.5)
    return kept.select("doc_id")


def _q_media_rgb_stats(spark, sf_dir):
    """rgb8raw per-channel stats (functions/media.image_stats) over a
    deterministic synthetic image per document — media was the only
    LLM-pipeline family with zero oracle coverage (VERDICT r04 #5).

    Fixture: one 8x8x3 image per doc, flattened sample j carrying
    ``(doc_id*37 + j*11) % 256``; every doc_id % 97 == 0 payload is
    truncated by one byte to pin the error path. Encode, decode, and stats
    all run the REAL media path (Arrow-batched mapInPandas); the oracle
    reproduces the sample formula analytically — per-channel means are
    exact (sums of uint8 over 64 pixels divide by a power of two) and the
    gray stddev agrees to well inside round(6)."""
    from json_skema_spark.functions import media

    ids = _t(spark, sf_dir, "documents").select("doc_id")

    def synth(batches):
        import numpy as np
        import pandas as pd
        from json_skema_spark.functions.media import encode_rgb8raw
        for pdf in batches:
            rows = []
            for k in pdf["doc_id"]:
                k = int(k)
                pix = ((k * 37 + np.arange(192) * 11) % 256) \
                    .astype(np.uint8).reshape(8, 8, 3)
                buf = encode_rgb8raw(pix)
                if k % 97 == 0:
                    buf = buf[:-1]
                rows.append((str(k), "rgb8raw", buf))
            yield pd.DataFrame(rows, columns=["image_id", "codec", "bytes"])

    imgs = ids.mapInPandas(synth,
                           "image_id string, codec string, bytes binary")
    s = media.image_stats(imgs)
    return s.select("image_id", "decode_ok", "error",
                    F.round("mean_r", 6).alias("mean_r"),
                    F.round("mean_g", 6).alias("mean_g"),
                    F.round("mean_b", 6).alias("mean_b"),
                    F.round("std_gray", 6).alias("std_gray"))


def _q_audio_snr_verdicts(spark, sf_dir):
    """The REAL audio invariant path (functions/audio.pcm_invariant_check:
    RIFF/WAVE PCM16 decode -> cached one-period float32 reference ->
    chunk-wise SNR -> >=30 dB verdict) under the driver gate — audio is the
    graft payload (BASELINE.json north_star: "decoded-PCM allclose
    (SNR>=30dB)") yet previously had bench-probe coverage only, no oracle
    row.

    Fixture: one PCM16 WAV per document — tone index doc_id % 16, sr
    8000/16000 by doc_id parity, dur 200..600 ms. Two injected failure
    classes: every doc_id % 23 == 0 payload is truncated to len//3
    (container error path -> 'truncated_data_chunk'), else every
    doc_id % 17 == 0 clip is synthesized one tone index OFF its claimed
    clip_id (decodes cleanly, SNR ~4 dB -> verdict False with empty error —
    the "audio doesn't match its metadata" class the SNR check exists for).

    The oracle never parses bytes: encode (float64 two-sine synth,
    truncate-toward-zero int16 quantization), decode (int16/32767) and the
    float32 reference (double sin rounded to REAL — numpy computes sin in
    float64 then .astype(float32), so CAST(... AS REAL) is bit-identical)
    are replayed analytically per sample in DuckDB; measured |delta snr|
    ~1e-14 dB, eleven orders below the round(3) grain."""
    from json_skema_spark.functions import audio as jaudio

    ids = _t(spark, sf_dir, "documents").select("doc_id")

    def synth(batches):
        import pandas as pd

        from json_skema_spark.functions.audio import (encode_wav_pcm16,
                                                      synth_reference_signal)
        for pdf in batches:
            rows = []
            for k in pdf["doc_id"]:
                k = int(k)
                sr = 8000 if k % 2 == 0 else 16000
                dur = 200 + (k * 131) % 401
                tone = k + 1 if (k % 17 == 0 and k % 23 != 0) else k
                buf = encode_wav_pcm16(synth_reference_signal(tone, sr, dur),
                                       sr)
                if k % 23 == 0:
                    buf = buf[: len(buf) // 3]
                rows.append((f"clip_{k:012x}", bytearray(buf), sr, dur,
                             "pcm_s16le", "t"))
            yield pd.DataFrame(rows, columns=[
                "clip_id", "bytes", "sr_hz", "dur_ms", "codec", "transcript"])

    clips = ids.mapInPandas(
        synth, "clip_id string, bytes binary, sr_hz int, dur_ms int, "
               "codec string, transcript string")
    checked = jaudio.pcm_invariant_check(clips)
    return checked.select(
        F.conv(F.substring("clip_id", 6, 12), 16, 10).cast("long")
        .alias("doc_id"),
        "invariant_ok", "error",
        F.when(F.col("snr_db") == F.lit(float("-inf")),
               F.lit(None).cast("double"))
        .otherwise(F.round("snr_db", 3)).alias("snr_db"))


def _q_token_stats_documents(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        jtext.token_count(F.col("text")).alias("n_tokens"),
        F.length("text").alias("n_chars_actual"),
    )


def _q_lang_id_documents(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", jtext.language_id(F.col("text")).alias("lang_guess"))


def _q_quality_documents(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", jtext.quality_score(F.col("text")).alias("quality"))


def _q_text_clean(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.length(jtext.clean_text(F.col("text"))).alias("clean_len"),
        F.round(jtext.repetition_ratio(F.col("text")), 6).alias("rep_ratio"))


def _q_fingerprint_documents(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", jtext.fingerprint(F.col("text")).alias("fp"))


def _q_topk_embeddings(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    top = similarity.cosine_topk(emb, "embedding", "vec_id", EMBED_QUERY, k=10)
    return top.select("vec_id", F.round("score", 6).alias("score"))


def _minhash_pairs(spark, sf_dir):
    """Shared pair construction for the two minhash queries — ONE place
    encodes the (threshold, columns) contract both oracles mirror."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.minhash_near_duplicates(docs, "text", "doc_id",
                                         jaccard_threshold=0.5)


def _q_minhash_pairs_documents(spark, sf_dir):
    pairs = _minhash_pairs(spark, sf_dir)
    return pairs.select("doc_id_a", "doc_id_b", F.round("jaccard", 6).alias("jaccard"))


def _q_minhash_clusters(spark, sf_dir):
    """Near-dup pairs -> connected components (operators/dedup.
    duplicate_clusters: min-label propagation + pointer jumping): the
    transitive closure A~B~C collapses to one keep-decision. Oracle: the
    same pair SQL wrapped in a recursive CTE computing min-reachable-id."""
    return dedup.duplicate_clusters(_minhash_pairs(spark, sf_dir))


def _q_ngram_jaccard_pairs(spark, sf_dir):
    """EXACT n-gram-Jaccard near-dup pairs via the prefix-filtered inverted
    index (operators/dedup.ngram_jaccard_near_duplicates) — the
    deterministic sibling of the MinHash row, deliberately parameterized
    differently (bigrams, t=0.6) so the two rows pin different shingle and
    threshold code paths. The prefix filter is analytically lossless, so
    the output IS the brute-force all-pairs answer the oracle computes."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_near_duplicates(docs, "text", "doc_id",
                                                n=2, jaccard_threshold=0.6)
    return pairs.select("doc_id_a", "doc_id_b",
                        F.round("jaccard", 6).alias("jaccard"))


def _ivf_fixed_centroids():
    """Deterministic coarse-quantizer centroids (8 x 64, seeded numpy) —
    stands in for the KMeans index-build output so the probe path is exactly
    reproducible in the DuckDB oracle (the KMeans-trained path keeps its
    recall>=0.9 unit test, tests/test_ivf.py)."""
    import numpy as np
    return np.random.default_rng(7).standard_normal((8, 64))


def _q_ivf_topk_embeddings(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    top = similarity.ivf_topk(emb, "embedding", "vec_id", EMBED_QUERY, k=10,
                              centroids=_ivf_fixed_centroids(), n_probe=3)
    return top.select("vec_id", F.round("score", 6).alias("score"))


def _ivf_oracle_sql() -> str:
    """DuckDB replica of the IVF probe: same literal centroids, same
    nearest-list assignment (argmin of ||c||^2 - 2 x.c), same 3 probe
    lists, same cosine top-10."""
    import numpy as np
    cents = _ivf_fixed_centroids()
    q = np.asarray(EMBED_QUERY, dtype=float)
    probes = [int(i) for i in np.argsort(((cents - q) ** 2).sum(axis=1))[:3]]
    qlit = "[" + ",".join(repr(float(x)) for x in q) + "]"
    dists = ",".join(
        f"({float(np.dot(c, c))!r} - 2*list_inner_product(v, ["
        + ",".join(repr(float(x)) for x in c) + "]))"
        for c in cents)
    return f"""
        WITH d AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                   FROM embeddings),
        a AS (SELECT vec_id, v,
                     list_position([{dists}], list_min([{dists}])) - 1 AS lst
              FROM d)
        SELECT vec_id, round(list_cosine_similarity(v, {qlit}), 6) AS score
        FROM a WHERE lst IN ({",".join(map(str, probes))})
        ORDER BY list_cosine_similarity(v, {qlit}) DESC, vec_id LIMIT 10
    """


# probe n-grams for the decontamination query: real trigrams from the
# documents corpus, in shingle normal form (lowercase, single-spaced)
PROBE_NGRAMS = ["stream table hash", "row column sort", "window fast query"]


def _q_contamination(spark, sf_dir):
    """Benchmark decontamination: literal probe-set n-gram intersection,
    map-side only (operators/contamination.py)."""
    from json_skema_spark.operators import contamination
    docs = _t(spark, sf_dir, "documents")
    return contamination.contamination_flags(docs, "text", "doc_id",
                                             PROBE_NGRAMS)


def _q_stratified_sample(spark, sf_dir):
    """Deterministic md5-bucket stratified sampling (training-mix op):
    reproducible row selection, bit-identical in DuckDB."""
    from json_skema_spark.operators import sampling
    docs = _t(spark, sf_dir, "documents")
    return sampling.stratified_sample(
        docs, "doc_id", "lang", {"en": 0.5, "de": 0.25, "fr": 1.0},
        default_rate=0.1).select("doc_id", "lang")


def _q_pii_scrub(spark, sf_dir):
    """PII detect + scrub over deterministically injected PII (the corpus
    itself is PII-free, so emails/URLs/phones are appended per doc_id branch
    with known counts — same construction mirrored in the oracle)."""
    docs = _t(spark, sf_dir, "documents")
    k = F.col("doc_id")
    injected = (
        F.when(k % 4 == 0, F.concat("text", F.lit(" contact me@example.org now")))
        .when(k % 4 == 1, F.concat("text", F.lit(" visit https://example.com/page then")))
        .when(k % 4 == 2, F.concat("text", F.lit(" call 555-123-4567 today")))
        .otherwise(F.col("text")))
    urls, emails, phones = jtext.pii_counts(injected)
    return docs.select(
        "doc_id", urls.alias("n_urls"), emails.alias("n_emails"),
        phones.alias("n_phones"),
        F.length(jtext.scrub_pii(injected)).alias("scrubbed_len"))


def _q_chunk_packing(spark, sf_dir):
    """Concat-and-chunk sequence labeling per language (training-prep op):
    windowed running token total, oracle-exact in SQL."""
    from json_skema_spark.operators import packing
    docs = _t(spark, sf_dir, "documents")
    d = docs.select("doc_id", "lang",
                    jtext.token_count(F.col("text")).alias("n_tokens"))
    return packing.chunk_assignments(d, "doc_id", "n_tokens",
                                     max_tokens=512, group_col="lang")


def _q_pack_greedy(spark, sf_dir):
    """First-fit-decreasing bin packing (operators/packing.pack_greedy, the
    applyInPandas strategy) with buckets=1 so the oracle can replay the
    exact sequential FFD: DuckDB recursive CTE threading the open-bin
    capacity list through the (n_tokens desc, doc_id asc) order — the
    bucketed production path's per-bucket algorithm is this same sequence
    (bucket ids come from xxhash64, not expressible in DuckDB, hence the
    single-bucket gate fixture; bucketing itself is oracled structurally
    via dedup/uniqueness salt conventions)."""
    from json_skema_spark.operators import packing
    docs = _t(spark, sf_dir, "documents")
    d = docs.select("doc_id",
                    jtext.token_count(F.col("text")).alias("n_tokens"))
    return packing.pack_greedy(d, "doc_id", "n_tokens",
                               max_tokens=512, buckets=1)


def _q_embedding_near_dup(spark, sf_dir):
    """Banded hyperplane-LSH near-dup pairs over the embeddings table plus a
    deterministically perturbed copy of every 10th vector (the raw table has
    no high-cosine pairs — max pairwise cosine ~0.51 — so the perturbed
    copies provide a nonzero, exactly-reconstructible answer; 16x4 banding
    puts LSH miss probability below 1e-20 at cosine ~0.99995, so the LSH
    output equals the brute-force oracle)."""
    emb = _t(spark, sf_dir, "embeddings")
    base = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
    pert = (base.filter(F.col("vec_id") % 10 == 0)
            .select((F.col("vec_id") + 1000000).alias("vec_id"),
                    F.transform(F.col("e"),
                                lambda x, i: F.when(i == 0, x * 1.01).otherwise(x))
                    .alias("e")))
    both = base.unionAll(pert)
    pairs = similarity.embedding_near_duplicates(both, "e", "vec_id",
                                                 cosine_threshold=0.99, dim=64)
    return pairs.select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))


def _q_simhash_documents(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", dedup.simhash(F.col("text")).alias("fp"))


# ---------------------------------------------------------------------------
# §2.d array keywords over a synthesized array column (driver-oracle-checked:
# DuckDB list_* functions express the identical semantics)
# ---------------------------------------------------------------------------

ARRAY_SCHEMA = {
    "type": "object",
    "properties": {
        "toks": {
            "type": "array",
            "minItems": 4,
            "maxItems": 6,
            "uniqueItems": True,
            "items": {"type": "string", "minLength": 1, "maxLength": 6},
            "contains": {"pattern": "^[aeiou]"},
            "minContains": 1,
            "maxContains": 1,
        }
    },
}


def _q_array_keywords(spark, sf_dir):
    """items/prefix-slice/contains/min-maxItems/uniqueItems over the first 6
    whitespace tokens of each document (ArrayValidationTest.kt parity)."""
    d = _array_toks(spark, sf_dir)
    plan = compile_schema(ARRAY_SCHEMA, d.schema)
    return plan.apply(d, mode="verdict").select("doc_id", "passed")


def _array_toks(spark, sf_dir):
    """Shared toks derivation for the two array-keyword queries — the
    slice expression is the contract both DuckDB oracles mirror; keep it
    in ONE place."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id",
                       F.slice(F.split(F.col("text"), " "), 1,
                               (F.lit(3) + F.pmod("doc_id", F.lit(5)))
                               .cast("int"))
                       .alias("toks"))


def _q_array_violation_summary(spark, sf_dir):
    """Per-keyword violation counts for the array schema — pins keyword and
    keyword_location strings, not just the verdict bit."""
    d = _array_toks(spark, sf_dir)
    plan = compile_schema(ARRAY_SCHEMA, d.schema)
    return plan.summary(d)


# ---------------------------------------------------------------------------
# §2.e combinators over orders (ApplicatorValidationTest.kt parity): each
# combinator compiled as its own plan -> per-combinator verdict columns
# ---------------------------------------------------------------------------

_COMBINATOR_SCHEMAS = {
    "allof_ok": {"allOf": [
        {"properties": {"o_totalprice": {"exclusiveMinimum": 0}}},
        {"properties": {"o_orderpriority": {"pattern": "^[1-5]-"}}},
    ]},
    "anyof_ok": {"anyOf": [
        {"properties": {"o_orderstatus": {"const": "F"}}},
        {"properties": {"o_totalprice": {"maximum": 200000}}},
    ]},
    "oneof_ok": {"oneOf": [
        {"properties": {"o_totalprice": {"maximum": 100000}}},
        {"properties": {"o_custkey": {"multipleOf": 2}}},
    ]},
    "not_ok": {"not": {"properties": {"o_totalprice": {"exclusiveMinimum": 500000}}}},
    "ite_ok": {
        "if": {"properties": {"o_orderstatus": {"const": "O"}}},
        "then": {"properties": {"o_totalprice": {"exclusiveMinimum": 100}}},
        "else": {"properties": {"o_orderpriority": {"minLength": 3}}},
    },
}


def _q_combinators(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    cols = [F.col("o_orderkey")]
    overall = None
    for alias, schema in _COMBINATOR_SCHEMAS.items():
        p = compile_schema(schema, o.schema).passed
        cols.append(p.alias(alias))
        overall = p if overall is None else overall & p
    cols.append(overall.alias("passed"))
    return o.select(*cols)


# ---------------------------------------------------------------------------
# §2.b formats (FormatTest.kt parity): 9 candidate columns constructed
# deterministically from o_orderkey with known per-branch validity
# ---------------------------------------------------------------------------

_FORMAT_COLS = ["date_s", "time_s", "datetime_s", "duration_s", "uri_s",
                "email_s", "ipv4_s", "ipv6_s", "uuid_s"]
_FORMAT_OF = {"date_s": "date", "time_s": "time", "datetime_s": "date-time",
              "duration_s": "duration", "uri_s": "uri", "email_s": "email",
              "ipv4_s": "ipv4", "ipv6_s": "ipv6", "uuid_s": "uuid"}


def _format_candidates(o):
    k = F.col("o_orderkey")
    ks = k.cast("string")
    date_s = (F.when(k % 4 == 0, F.lit("2021-02-29"))
              .when(k % 4 == 1, F.lit("2020-02-29"))
              .otherwise(F.date_format("o_orderdate", "yyyy-MM-dd")))
    time_s = (F.when(k % 5 == 0, F.lit("23:59:60Z"))
              .when(k % 5 == 1, F.lit("23:59:60+01:00"))
              .when(k % 5 == 2, F.lit("12:00:61Z"))
              .when(k % 5 == 3, F.lit("08:30:00+05:30"))
              .otherwise(F.lit("23:30:00-12:45")))
    return o.filter(k.isNotNull()).select(
        "o_orderkey",
        date_s.alias("date_s"),
        time_s.alias("time_s"),
        F.concat(date_s, F.lit("T"), time_s).alias("datetime_s"),
        F.when(k % 3 == 0, F.lit("P1DT2H")).when(k % 3 == 1, F.lit("PT"))
        .otherwise(F.lit("P3W")).alias("duration_s"),
        F.when(k % 3 == 0, F.concat(F.lit("https://example.com/"), ks))
        .when(k % 3 == 1, F.lit("not a uri"))
        .otherwise(F.concat(F.lit("urn:isbn:"), ks)).alias("uri_s"),
        F.when(k % 4 == 0, F.concat(F.lit("user."), ks, F.lit("@example.com")))
        .when(k % 4 == 1, F.lit("@nodomain"))
        .when(k % 4 == 2, F.lit("a..b@example.com"))
        .otherwise(F.concat(F.lit("x"), ks, F.lit("@sub.example.org")))
        .alias("email_s"),
        F.when(k % 4 == 0, F.lit("256.1.1.1"))
        .when(k % 4 == 1, F.lit("127.0.0.1"))
        .when(k % 4 == 2, F.lit("1.2.3"))
        .otherwise(F.concat((k % 256).cast("string"), F.lit(".0.0.1")))
        .alias("ipv4_s"),
        F.when(k % 4 == 0, F.lit("::1"))
        .when(k % 4 == 1, F.lit("1:2:3:4:5:6:7:8"))
        .when(k % 4 == 2, F.lit("12345::"))
        .otherwise(F.concat(F.lit("::ffff:192.168.0."), (k % 256).cast("string")))
        .alias("ipv6_s"),
        F.when(k % 3 == 0, F.lit("123e4567-e89b-12d3-a456-426614174000"))
        .when(k % 3 == 1, F.lit("123e4567-e89b-12d3-a456-42661417400"))
        .otherwise(F.lit("ABCDEF01-2345-6789-abcd-ef0123456789")).alias("uuid_s"),
    )


def _q_formats(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    cand = _format_candidates(o)
    cols = [F.col("o_orderkey")]
    for c in _FORMAT_COLS:
        plan = compile_schema({"properties": {c: {"format": _FORMAT_OF[c]}}},
                              cand.schema, format_assertion=True)
        cols.append(plan.passed.alias(f"{_FORMAT_OF[c].replace('-', '_')}_ok"))
    return cand.select(*cols)


# ---------------------------------------------------------------------------
# §2.c object-shape keywords over a synthesized struct column
# (ObjectValidationTest.kt parity): required/dependentRequired/min-max-
# Properties/propertyNames/additionalProperties on one nested object
# ---------------------------------------------------------------------------

OBJECT_SHAPE_SCHEMA = {
    "type": "object",
    "properties": {
        "obj": {
            "type": "object",
            "properties": {"status": {"type": "string"},
                           "price": {"type": "number"}},
            "required": ["price"],
            "dependentRequired": {"status": ["price", "note"]},
            "minProperties": 2,
            "maxProperties": 2,
            "propertyNames": {"maxLength": 5},
            "additionalProperties": {"type": "string", "minLength": 6},
        }
    },
}


def _q_object_shape(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    d = o.select(
        "o_orderkey",
        F.struct(
            F.when(k % 5 == 0, F.lit(None).cast("string"))
            .otherwise(F.col("o_orderstatus")).alias("status"),
            F.when(k % 7 == 0, F.lit(None).cast("double"))
            .otherwise(F.col("o_totalprice")).alias("price"),
            F.when(k % 3 == 0, F.col("o_orderpriority"))
            .otherwise(F.lit(None).cast("string")).alias("note"),
        ).alias("obj"))
    plan = compile_schema(OBJECT_SHAPE_SCHEMA, d.schema)
    return plan.apply(d, mode="verdict").select("o_orderkey", "passed")


EVENTS_SCHEMA = {
    "type": "object",
    "properties": {
        "event_type": {"enum": ["click", "view", "signup", "purchase", "error"]},
        "value": {"exclusiveMinimum": 0, "maximum": 450},
    },
    "required": ["event_id", "ts", "user_id"],
}


def _q_events_verdict(spark, sf_dir):
    """Typed-column validation + JSON-payload validation (from_json path)."""
    from json_skema_spark.plans.verdict import validate_json_column
    ev = _t(spark, sf_dir, "events")
    plan = compile_schema(EVENTS_SCHEMA, ev.schema)
    with_json = validate_json_column(
        ev, "props", "struct<k:int>",
        {"properties": {"k": {"minimum": 0, "maximum": 80}}, "required": ["k"]})
    return with_json.select(
        "event_id", plan.passed.alias("passed"),
        F.col("json_passed").alias("props_passed"))


def _q_events_open_json(spark, sf_dir):
    """Open-document (VariantType) validation: no predeclared payload type."""
    from json_skema_spark.plans.verdict import validate_open_json
    ev = _t(spark, sf_dir, "events")
    out = validate_open_json(
        ev, "props",
        {"required": ["k"],
         "properties": {"k": {"type": "integer", "minimum": 10, "maximum": 90}}})
    return out.select("event_id", F.col("json_passed").alias("passed"))


def _q_events_unevaluated(spark, sf_dir):
    """unevaluatedProperties on fully dynamic (VariantType) documents with
    strict JSON-null semantics — the round-3 engine capability. A JSON doc
    is built per event row with a VARYING key set (every third row gains a
    numeric "extra", every fifth a null "note"); the schema evaluates
    uid/type via properties and constrains everything else with
    unevaluatedProperties {"type": "number"} — so "extra" passes and the
    null "note" fails (a JSON null is a present non-number in strict mode).
    The oracle derives the same verdict from the source columns directly.
    """
    from json_skema_spark.plans.verdict import validate_open_json
    ev = _t(spark, sf_dir, "events")
    # NULL-SAFE doc build: F.concat null-propagates, so a NULL user_id /
    # event_type / value would collapse the WHOLE doc to NULL while the
    # oracle still computes a verdict from the columns (review r04).
    # NULL columns render as JSON null — present non-matching values in
    # strict mode — and the oracle mirrors that exactly.
    doc = F.concat(
        F.lit('{"uid": '),
        F.coalesce(F.col("user_id").cast("string"), F.lit("null")),
        F.lit(', "type": '),
        F.when(F.col("event_type").isNull(), F.lit("null"))
        .otherwise(F.concat(F.lit('"'), F.col("event_type"), F.lit('"'))),
        F.when(F.col("event_id") % 3 == 0,
               F.concat(F.lit(', "extra": '),
                        F.coalesce(F.round(F.col("value"), 2).cast("string"),
                                   F.lit("null"))))
        .otherwise(F.lit("")),
        F.when(F.col("event_id") % 5 == 0, F.lit(', "note": null'))
        .otherwise(F.lit("")),
        F.lit("}"))
    out = validate_open_json(
        ev.withColumn("_doc", doc), "_doc",
        {"type": "object",
         "required": ["uid"],
         "properties": {"uid": {"type": "integer"},
                        "type": {"enum": ["click", "view"]}},
         "unevaluatedProperties": {"type": "number"}},
        strict_nulls=True)
    return out.select("event_id", F.col("json_passed").alias("passed"))


def _q_suggest_constraints(spark, sf_dir):
    """Constraint mining (operators/infer.py): profile orders into
    draft 2020-12 keyword suggestions — (column_name, keyword, value) rows
    with JSON-rendered values; the DuckDB oracle recomputes every mined
    keyword from the same aggregates."""
    from json_skema_spark.operators.infer import suggest_constraints
    o = _t(spark, sf_dir, "orders")
    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "o_orderpriority"]
    return suggest_constraints(o, cols)


def _q_drift_orders(spark, sf_dir):
    """Distribution drift vs a baseline profile (north rule op): baseline =
    full orders profile, current = the same table filtered to
    o_totalprice < 150000 (a deliberate distribution shift). Exact-distinct
    profiles so null-fraction and distinct-ratio drift are bit-reproducible
    in DuckDB; the quantile-drift branch stays pytest-covered (sketch-based,
    not cross-engine-exact) and is pruned from this projection."""
    from json_skema_spark.operators.drift import drift_report
    o = _t(spark, sf_dir, "orders")
    cols = ["o_orderkey", "o_custkey", "o_totalprice"]
    base = stats.profile(o, cols, exact_distinct=True)
    cur = stats.profile(o.filter(F.col("o_totalprice") < 150000), cols,
                        exact_distinct=True)
    rep = drift_report(cur, base)
    return rep.select("column_name",
                      F.round("null_delta", 9).alias("null_delta"),
                      "null_drift",
                      F.round("distinct_ratio", 9).alias("distinct_ratio"),
                      "distinct_drift")


def _q_deprecated_usage(spark, sf_dir):
    """Deprecated-field usage report (operators/annotations.py): the
    reference stores `deprecated` as an annotation with no validation
    effect (Schema.kt:14, SchemaLoader.kt:534); at table scale the useful
    surfacing is "how many rows still carry a value at each deprecated
    location" — one aggregation pass, one row per marked path. A nested
    struct with injected nulls exercises the parent-null semantics."""
    from json_skema_spark.operators.annotations import deprecated_usage
    ev = _t(spark, sf_dir, "events")
    shaped = ev.select(
        "event_id", "event_type",
        F.struct(
            F.when(F.col("event_id") % 3 == 0, F.col("value"))
            .alias("legacy_score"),
            F.col("event_type").alias("kind")).alias("meta"))
    schema = {"type": "object", "properties": {
        "event_type": {"type": "string", "deprecated": True},
        "meta": {"type": "object", "properties": {
            "legacy_score": {"type": "number", "deprecated": True},
            "kind": {"type": "string"}}}}}
    rep = deprecated_usage(shaped, schema)
    return rep.select("schema_pointer", "property_path", "n_present",
                      "n_rows",
                      F.round("frac_present", 9).alias("frac_present"))


def _q_profile_merge(spark, sf_dir):
    """Mergeable-profile path (operators/stats.mergeable_profile +
    merge_profiles): lineitem profiled in 4 disjoint hash slices, parts
    merged — exact fields (n_rows, null_fraction, min/max) must equal a
    single pass; the oracle recomputes them straight over the table. (The
    4 filtered scans here only SIMULATE independently-profiled slices; in
    the runner each part rides its own bucket's single staged read.) The
    HLL-sketch field is engine-specific and excluded from the projection
    (estimate-vs-single-pass equivalence is pinned by
    tests/test_merge_profiles.py)."""
    from json_skema_spark.operators import stats
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice")
    parts = None
    for k in range(4):
        p = stats.mergeable_profile(
            li.filter(F.pmod(F.xxhash64("l_orderkey"), F.lit(4)) == k))
        parts = p if parts is None else parts.unionByName(p)
    merged = stats.merge_profiles(parts)
    return merged.select(
        "column_name", "n_rows",
        F.round("null_fraction", 9).alias("null_fraction"),
        F.round(F.col("min_value").cast("double"), 6).alias("min_value"),
        F.round(F.col("max_value").cast("double"), 6).alias("max_value"))


def _q_canonical_order_per_customer(spark, sf_dir):
    """Canonical (earliest) order per customer — the top-1-per-key shape.

    Implemented as a HASH AGGREGATE on a lexicographic struct min, not a
    ``row_number() OVER (PARTITION BY ...)`` window: the window formulation
    shuffles and SORTS every row of the table per key, while the struct-min
    agg combines map-side and shuffles one partial row per (task, key) —
    at 100x data the window ran 14.9 s vs 3.8 s for the agg (round-5
    measurement), and a hyper-active key degrades the window to one
    sorting task where the agg stays balanced. ``min(struct(date, key))``
    selects exactly the ``row_number() = 1`` row of ``ORDER BY date, key``
    (field-by-field comparison, nulls-first on both paths, key breaks
    ties deterministically) — the oracle keeps the window formulation to
    pin the equivalence. Salted-window coverage itself lives in
    ``violation_digest`` (plans/verdict.py)."""
    o = _t(spark, sf_dir, "orders")
    return (o.groupBy("o_custkey")
            .agg(F.min(F.struct("o_orderdate", "o_orderkey")).alias("m"))
            .select("o_custkey", F.col("m.o_orderkey").alias("o_orderkey")))


def _q_pricing_summary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
             F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
             F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
             .alias("sum_disc_price"),
             F.count("*").alias("count_order"))
    )


STREAM_EVENTS_SCHEMA = {
    "type": "object",
    "properties": {
        # 'error' excluded on purpose: ~20% of rows violate the enum, so
        # the parity check exercises real violation volume, not a handful
        "event_type": {"enum": ["click", "view", "signup", "purchase"]},
        # generated values span ~0.01..490, so BOTH numeric keywords fire
        # on real rows (exclusiveMinimum 0 would be a vacuous leg: no
        # value is <= 0 — review r05c)
        "value": {"exclusiveMinimum": 1, "maximum": 300},
    },
}

# number of staged files == forced micro-batches; module-level so the
# negative pytest leg can collapse it and assert the drain guard fires
_STREAM_STAGE_FILES = 4


def _q_stream_violation_windows(spark, sf_dir):
    """STREAM/BATCH PARITY through the driver's oracle gate — the one
    component family whose correctness signal was pytest-only (VERDICT
    r04). This runs the REAL Structured Streaming path end-to-end
    (streaming/validate_stream.violation_rate: file source -> watermark ->
    compiled-plan verdicts -> windowed keyword counts -> memory sink),
    drains the events table with an availableNow trigger, and returns the
    final windowed counts as a batch DataFrame. The DuckDB oracle
    recomputes the same per-day keyword counts relationally, so a green
    row certifies that micro-batch execution emits byte-identical verdict
    aggregates to a batch pass (Validator.kt semantics carried through
    the streaming substrate), not merely that "a stream ran".

    The drain is deliberately MULTI-batch: the events table is staged as
    ``_STREAM_STAGE_FILES`` hash-partitioned files and consumed with
    maxFilesPerTrigger=1, so the windowed aggregation state must merge
    across that many micro-batches whose event times interleave
    adversarially (hash order, not time order) — a single-batch drain
    would certify much less; the drain guard enforces the full count.
    Complete output mode retains all window state (no watermark eviction
    / late-row drop — the append-mode watermark semantics are pinned
    separately in the streaming pytest suite), so the final in-memory
    table is the full aggregate regardless of batch boundaries.

    Determinism/compat notes: the NTZ->LTZ event-time cast interprets
    the parquet wall clock in the SESSION timezone, so this query pins
    spark.sql.session.timeZone=UTC for its duration (and restores it) —
    otherwise a non-UTC driver shifts rows across the UTC-aligned 1-day
    windows while the DuckDB oracle keeps treating the naive ts as UTC
    (review r05c: reproduced as a 51-vs-48-row mismatch under
    TZ=Asia/Kolkata). Window starts surface as epoch seconds via a
    timestamp->long CAST — a rendered timestamp string would be
    engine-formatting-sensitive where an int64 is hash-stable."""
    import shutil
    import tempfile

    from json_skema_spark.streaming.validate_stream import violation_rate
    src = os.path.join(sf_dir, "events.parquet")
    # the streaming file source requires a DIRECTORY to list (a bare file
    # path is rejected: "Option 'basePath' must be a directory"), but the
    # driver's tables are single parquet files. Stage a hash-partitioned
    # copy in a PER-INVOCATION temp dir (a fixed /tmp path would collide
    # across users and race concurrent gate runs — review r05c); one file
    # per trigger forces a genuinely multi-batch drain. At the gate's
    # sf0.01 the write is milliseconds.
    stage = tempfile.mkdtemp(prefix="spark_graft_stream_src_")
    # the stateful aggregation runs spark.sql.shuffle.partitions tasks on
    # every micro-batch (the default 200 for 78 result rows); pin it to
    # the task slots for the query's duration, as the timezone is pinned
    pinned = {"spark.sql.session.timeZone": "UTC",
              "spark.sql.shuffle.partitions":
                  str(spark.sparkContext.defaultParallelism)}
    before = {k: spark.conf.get(k, None) for k in pinned}
    for k, v in pinned.items():
        spark.conf.set(k, v)
    name = "stream_parity_violation_windows"
    try:
        batch_df = spark.read.parquet(src)
        (batch_df.repartition(_STREAM_STAGE_FILES, F.col("event_id"))
         .write.mode("overwrite").parquet(stage))
        stream = (spark.readStream
                  .schema(batch_df.schema)
                  .option("maxFilesPerTrigger", "1")
                  .parquet(stage)
                  .withColumn("ts", F.col("ts").cast("timestamp")))
        rate = violation_rate(stream, STREAM_EVENTS_SCHEMA, "ts",
                              window="1 day", watermark="2 days")
        q = (rate.writeStream.format("memory").queryName(name)
             .outputMode("complete").trigger(availableNow=True).start())
        try:
            q.awaitTermination()
            n_batches = sum(
                1 for p in q.recentProgress if p["numInputRows"] > 0)
            # every staged file must land in its own batch (>=2 keeps the
            # guard meaningful even if the knob is collapsed)
            want = max(2, _STREAM_STAGE_FILES)
            if n_batches < want:
                raise RuntimeError(
                    f"stream parity drain ran {n_batches} micro-batch(es); "
                    f"the multi-batch claim requires >={want}")
        finally:
            q.stop()
        # materialize before the staging dir disappears: complete-mode
        # memory sink rows live on the driver, but collect()ing here keeps
        # the returned DataFrame independent of /tmp lifetime
        rows = spark.table(name).select(
            F.col("window_start").cast("long").alias("w_start"),
            "keyword", "n_violations").collect()
    finally:
        for k, v in before.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
        shutil.rmtree(stage, ignore_errors=True)
    return spark.createDataFrame(
        rows, "w_start bigint, keyword string, n_violations bigint")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "validate_orders_verdict": _q_orders_verdict,
        "validate_orders_violations": _q_orders_violations,
        "violation_digest_orders": _q_violation_digest,
        "validate_lineitem_verdict": _q_lineitem_verdict,
        "lineitem_violation_summary": _q_lineitem_violation_summary,
        "unique_duplicate_orderkeys": _q_duplicate_orderkeys,
        "referential_customers_without_orders": _q_customers_without_orders,
        "validate_orders_null_injected": _q_orders_null_injected,
        "referential_orphans_injected": _q_orphans_injected,
        "profile_lineitem": _q_profile_lineitem,
        "dedup_exact_documents": _q_exact_dup_documents,
        "text_token_stats": _q_token_stats_documents,
        "text_lang_id": _q_lang_id_documents,
        "text_quality": _q_quality_documents,
        "text_fingerprint": _q_fingerprint_documents,
        "similarity_topk_embeddings": _q_topk_embeddings,
        "dedup_minhash_pairs": _q_minhash_pairs_documents,
        "dedup_minhash_clusters": _q_minhash_clusters,
        "dedup_ngram_jaccard": _q_ngram_jaccard_pairs,
        "dedup_simhash_fingerprints": _q_simhash_documents,
        "window_canonical_order": _q_canonical_order_per_customer,
        "agg_pricing_summary": _q_pricing_summary,
        "validate_events_json_payload": _q_events_verdict,
        "similarity_ivf_topk": _q_ivf_topk_embeddings,
        "validate_events_open_json": _q_events_open_json,
        "validate_events_unevaluated": _q_events_unevaluated,
        "suggest_constraints_orders": _q_suggest_constraints,
        "drift_orders_profile": _q_drift_orders,
        "deprecated_usage_events": _q_deprecated_usage,
        "profile_merge_lineitem": _q_profile_merge,
        "dedup_exact_prefix3": _q_exact_dup_prefix,
        "text_clean_and_repetition": _q_text_clean,
        "validate_array_keywords": _q_array_keywords,
        "array_violation_summary": _q_array_violation_summary,
        "validate_combinators": _q_combinators,
        "validate_formats": _q_formats,
        "validate_object_shape": _q_object_shape,
        "dedup_embedding_pairs": _q_embedding_near_dup,
        "text_contamination": _q_contamination,
        "sample_stratified": _q_stratified_sample,
        "pack_chunk_assignments": _q_chunk_packing,
        "text_pii_scrub": _q_pii_scrub,
        "dedup_exact_hotkey": _q_exact_dup_hotkey,
        "unique_duplicate_orderkeys_skewed": _q_duplicate_orderkeys_skewed,
        "dedup_drop_kept_set": _q_drop_kept_set,
        "media_rgb_stats": _q_media_rgb_stats,
        "unique_duplicate_rows": _q_duplicate_rows,
        "unique_violations_rows": _q_uniqueness_violations,
        "referential_field_equality": _q_field_equality,
        "pack_greedy_ffd": _q_pack_greedy,
        "stream_violation_windows": _q_stream_violation_windows,
        "audio_snr_verdicts": _q_audio_snr_verdicts,
    }


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

_ORDERS_VIOLS_SQL = """
            SELECT CAST(o_orderkey AS VARCHAR) AS row_key, 'enum' AS keyword,
                   '#/properties/o_orderstatus/enum' AS keyword_location,
                   '#/o_orderstatus' AS instance_location,
                   '#/properties/o_orderstatus/enum' AS dynamic_path,
                   'the instance is not equal to any enum values' AS message
            FROM orders
            WHERE o_orderstatus IS NOT NULL AND o_orderstatus NOT IN ('O','F')
            UNION ALL
            SELECT CAST(o_orderkey AS VARCHAR), 'exclusiveMinimum',
                   '#/properties/o_totalprice/exclusiveMinimum', '#/o_totalprice',
                   '#/properties/o_totalprice/exclusiveMinimum',
                   CAST(o_totalprice AS VARCHAR) || ' is lower than or equal to minimum 0'
            FROM orders WHERE o_totalprice IS NOT NULL AND o_totalprice <= 0
            UNION ALL
            SELECT CAST(o_orderkey AS VARCHAR), 'maximum',
                   '#/properties/o_totalprice/maximum', '#/o_totalprice',
                   '#/properties/o_totalprice/maximum',
                   CAST(o_totalprice AS VARCHAR) || ' is greater than maximum 400000'
            FROM orders WHERE o_totalprice IS NOT NULL AND o_totalprice > 400000
            UNION ALL
            SELECT CAST(o_orderkey AS VARCHAR), 'pattern',
                   '#/properties/o_orderpriority/pattern', '#/o_orderpriority',
                   '#/properties/o_orderpriority/pattern',
                   'instance value did not match pattern ^[1-5]-'
            FROM orders
            WHERE o_orderpriority IS NOT NULL
              AND NOT regexp_matches(o_orderpriority, '^[1-5]-')
            UNION ALL
            SELECT CAST(o_orderkey AS VARCHAR), 'required', '#/required', '#',
                   '#/required',
                   'required properties are missing: ' || concat_ws(', ',
                       CASE WHEN o_orderkey IS NULL THEN 'o_orderkey' END,
                       CASE WHEN o_custkey IS NULL THEN 'o_custkey' END)
            FROM orders WHERE o_orderkey IS NULL OR o_custkey IS NULL
"""

_ORDERS_PASS = """
    (o_orderstatus IS NULL OR o_orderstatus IN ('O','F'))
    AND (o_totalprice IS NULL OR (o_totalprice > 0 AND o_totalprice <= 400000))
    AND (o_orderpriority IS NULL OR regexp_matches(o_orderpriority, '^[1-5]-'))
    AND o_orderkey IS NOT NULL AND o_custkey IS NOT NULL
"""

_LINEITEM_PASS = """
    (l_quantity IS NULL OR (l_quantity >= 1 AND l_quantity <= 45))
    AND (l_discount IS NULL OR l_discount <= 0.08)
    AND (l_returnflag IS NULL OR l_returnflag IN ('A','N','R'))
    AND (l_linestatus IS NULL OR l_linestatus = 'O')
    AND (l_linenumber IS NULL OR l_linenumber % 2 = 0)
    AND (l_extendedprice IS NULL OR l_extendedprice > 0)
    AND l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
"""

_LINEITEM_VIOLS = """
    SELECT 'minimum' AS keyword, '#/properties/l_quantity/minimum' AS keyword_location
    FROM lineitem WHERE l_quantity IS NOT NULL AND l_quantity < 1
    UNION ALL
    SELECT 'maximum', '#/properties/l_quantity/maximum'
    FROM lineitem WHERE l_quantity IS NOT NULL AND l_quantity > 45
    UNION ALL
    SELECT 'maximum', '#/properties/l_discount/maximum'
    FROM lineitem WHERE l_discount IS NOT NULL AND l_discount > 0.08
    UNION ALL
    SELECT 'enum', '#/properties/l_returnflag/enum'
    FROM lineitem WHERE l_returnflag IS NOT NULL AND l_returnflag NOT IN ('A','N','R')
    UNION ALL
    SELECT 'enum', '#/properties/l_linestatus/enum'
    FROM lineitem WHERE l_linestatus IS NOT NULL AND l_linestatus <> 'O'
    UNION ALL
    SELECT 'multipleOf', '#/properties/l_linenumber/multipleOf'
    FROM lineitem WHERE l_linenumber IS NOT NULL AND l_linenumber % 2 <> 0
    UNION ALL
    SELECT 'exclusiveMinimum', '#/properties/l_extendedprice/exclusiveMinimum'
    FROM lineitem WHERE l_extendedprice IS NOT NULL AND l_extendedprice <= 0
    UNION ALL
    SELECT 'required', '#/required'
    FROM lineitem WHERE l_orderkey IS NULL OR l_partkey IS NULL
"""

_TOKENS = ("list_filter(string_split_regex(lower(trim(text)), '\\s+'), "
           "x -> x <> '')")


def oracle_sql() -> dict[str, str]:
    return {
        "validate_orders_verdict": f"""
            SELECT o_orderkey, {_ORDERS_PASS} AS passed FROM orders
        """,
        "validate_orders_violations": _ORDERS_VIOLS_SQL,
        "violation_digest_orders": f"""
            WITH v AS ({_ORDERS_VIOLS_SQL})
            SELECT keyword, keyword_location,
                   count(*) AS n_violations,
                   coalesce(array_to_string(
                       (list(DISTINCT row_key ORDER BY row_key)
                        FILTER (WHERE row_key IS NOT NULL))[1:5],
                       ','), '') AS example_keys
                   -- coalesce: a group whose offending keys are ALL NULL
                   -- gives list(...) FILTER = NULL -> array_to_string NULL,
                   -- while the Spark side coalesces the same case to ''
                   -- (review r05c)
            FROM v GROUP BY keyword, keyword_location
        """,
        "validate_lineitem_verdict": f"""
            SELECT l_orderkey, l_linenumber, {_LINEITEM_PASS} AS passed FROM lineitem
        """,
        "lineitem_violation_summary": f"""
            SELECT keyword, keyword_location, count(*) AS n_violations
            FROM ({_LINEITEM_VIOLS}) GROUP BY keyword, keyword_location
        """,
        "unique_duplicate_orderkeys": """
            SELECT l_orderkey, count(*) AS n_rows FROM lineitem
            GROUP BY l_orderkey HAVING count(*) > 1
        """,
        "referential_customers_without_orders": """
            SELECT c_custkey FROM customer
            WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_custkey IS NOT NULL)
        """,
        "validate_orders_null_injected": """
            WITH inj AS (
                SELECT o_orderkey,
                       CASE WHEN o_orderkey % 97 = 0 THEN NULL
                            ELSE o_orderstatus END AS s,
                       CASE WHEN o_orderkey % 89 = 0 THEN NULL
                            ELSE o_totalprice END AS p,
                       CASE WHEN o_orderkey % 83 = 0 THEN NULL
                            ELSE o_custkey END AS ck
                FROM orders)
            SELECT o_orderkey,
                   s IS NOT NULL AND coalesce(s IN ('O','F','P'), false)
                   AND ck IS NOT NULL
                   AND (p IS NULL OR p >= 0)
                   AS passed
            FROM inj
        """,
        "referential_orphans_injected": """
            SELECT c_custkey FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_custkey = c.c_custkey
                                AND o.o_custkey % 7 <> 0)
        """,
        "profile_lineitem": """
            SELECT 'l_orderkey' AS column_name, count(*) AS n_rows,
                   avg(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS null_fraction,
                   CAST(min(l_orderkey) AS VARCHAR) AS min_value,
                   CAST(max(l_orderkey) AS VARCHAR) AS max_value,
                   count(DISTINCT l_orderkey) AS n_distinct
            FROM lineitem
            UNION ALL
            SELECT 'l_quantity', count(*),
                   avg(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END),
                   CAST(min(l_quantity) AS VARCHAR), CAST(max(l_quantity) AS VARCHAR),
                   count(DISTINCT l_quantity)
            FROM lineitem
            UNION ALL
            SELECT 'l_extendedprice', count(*),
                   avg(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END),
                   CAST(min(l_extendedprice) AS VARCHAR), CAST(max(l_extendedprice) AS VARCHAR),
                   count(DISTINCT l_extendedprice)
            FROM lineitem
            UNION ALL
            SELECT 'l_discount', count(*),
                   avg(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END),
                   CAST(min(l_discount) AS VARCHAR), CAST(max(l_discount) AS VARCHAR),
                   count(DISTINCT l_discount)
            FROM lineitem
        """,
        "dedup_exact_documents": """
            SELECT md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS digest,
                   count(*) AS n_docs,
                   array_to_string(list_sort(list(CAST(doc_id AS VARCHAR)))[1:100], ',') AS doc_ids
            FROM documents GROUP BY 1 HAVING count(*) > 1
        """,
        "dedup_exact_prefix3": """
            SELECT md5(lower(trim(regexp_replace(
                       array_to_string(string_split(text, ' ')[1:3], ' '),
                       '\\s+', ' ', 'g')))) AS digest,
                   count(*) AS n_docs,
                   array_to_string(list_sort(list(CAST(doc_id AS VARCHAR)))[1:100], ',') AS doc_ids
            FROM documents GROUP BY 1 HAVING count(*) > 1
        """,
        "text_token_stats": f"""
            SELECT doc_id, len({_TOKENS}) AS n_tokens,
                   length(text) AS n_chars_actual
            FROM documents
        """,
        "similarity_topk_embeddings": """
            SELECT vec_id,
                   round(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
                         [1.0] || [0.0 for _ in range(63)]), 6) AS score
            FROM embeddings
            ORDER BY list_cosine_similarity(CAST(embedding AS DOUBLE[]),
                     [1.0] || [0.0 for _ in range(63)]) DESC, vec_id
            LIMIT 10
        """,
        "text_clean_and_repetition": f"""
            SELECT doc_id,
                   length(trim(regexp_replace(
                       regexp_replace(
                           regexp_replace(text,
                               'https?://[^\\s]+|www\\.[^\\s]+', '', 'g'),
                           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}',
                           '', 'g'),
                       '\\s+', ' ', 'g'))) AS clean_len,
                   round(CASE WHEN len({_TOKENS}) > 0 THEN
                       CAST(len(list_distinct({_TOKENS})) AS DOUBLE)
                       / len({_TOKENS}) ELSE 0.0 END, 6) AS rep_ratio
            FROM documents
        """,
        "window_canonical_order": """
            SELECT o_custkey, o_orderkey FROM (
                SELECT o_custkey, o_orderkey,
                       -- NULLS FIRST: Spark's min(struct(...)) ranks NULL
                       -- dates first, DuckDB's default is NULLS LAST —
                       -- latent only while the fixture has no NULL dates
                       -- (review r05c)
                       row_number() OVER (PARTITION BY o_custkey
                                          ORDER BY o_orderdate NULLS FIRST,
                                                   o_orderkey NULLS FIRST) AS rn
                FROM orders) WHERE rn = 1
        """,
        "validate_events_json_payload": """
            SELECT event_id,
                   (event_type IS NULL OR event_type IN
                        ('click','view','signup','purchase','error'))
                   AND (value IS NULL OR (value > 0 AND value <= 450))
                   AND event_id IS NOT NULL AND ts IS NOT NULL
                   AND user_id IS NOT NULL AS passed,
                   CASE WHEN json_extract(props, '$.k') IS NULL THEN false
                        ELSE CAST(json_extract(props, '$.k') AS INT) >= 0
                             AND CAST(json_extract(props, '$.k') AS INT) <= 80
                   END AS props_passed
            FROM events
        """,
        "drift_orders_profile": """
            WITH base AS (
                SELECT 'o_orderkey' AS column_name,
                       avg(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS nf,
                       count(DISTINCT o_orderkey) AS ad FROM orders
                UNION ALL
                SELECT 'o_custkey', avg(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END),
                       count(DISTINCT o_custkey) FROM orders
                UNION ALL
                SELECT 'o_totalprice', avg(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END),
                       count(DISTINCT o_totalprice) FROM orders
            ),
            cur AS (
                SELECT 'o_orderkey' AS column_name,
                       avg(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS nf,
                       count(DISTINCT o_orderkey) AS ad
                FROM orders WHERE o_totalprice < 150000
                UNION ALL
                SELECT 'o_custkey', avg(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END),
                       count(DISTINCT o_custkey) FROM orders WHERE o_totalprice < 150000
                UNION ALL
                SELECT 'o_totalprice', avg(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END),
                       count(DISTINCT o_totalprice) FROM orders WHERE o_totalprice < 150000
            )
            SELECT cur.column_name,
                   round(abs(cur.nf - base.nf), 9) AS null_delta,
                   abs(cur.nf - base.nf) > 0.01 AS null_drift,
                   round(cur.ad / greatest(base.ad, 1), 9) AS distinct_ratio,
                   (cur.ad / greatest(base.ad, 1) < 0.5
                    OR cur.ad / greatest(base.ad, 1) > 2.0) AS distinct_drift
            FROM cur JOIN base USING (column_name)
        """,
        "dedup_minhash_clusters": """
            -- pair CTE identical to dedup_minhash_pairs (exact all-pairs
            -- jaccard == LSH output on this corpus, see that oracle), then
            -- connected components as a recursive min-reachable-id closure
            WITH RECURSIVE d AS (SELECT doc_id,
                list_distinct([array_to_string(toks[i:i+2], ' ')
                               for i in range(1, greatest(len(toks)-2, 1)+1)]) AS g
              FROM (SELECT doc_id,
                    string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))),
                                 ' ') AS toks
                    FROM documents)),
            p AS (
                SELECT a.doc_id AS a, b.doc_id AS b
                FROM d a JOIN d b ON a.doc_id < b.doc_id
                WHERE CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
                      / len(list_distinct(a.g || b.g)) >= 0.5
            ),
            e AS (SELECT a, b FROM p UNION SELECT b AS a, a AS b FROM p),
            reach(node, r) AS (
                SELECT a, a FROM e
                UNION
                SELECT e.a, t.r FROM e JOIN reach t ON t.node = e.b
            )
            SELECT node AS doc_id, min(r) AS cluster_id,
                   node = min(r) AS is_canonical
            FROM reach GROUP BY node
        """,
        "profile_merge_lineitem": """
            SELECT c AS column_name,
                   count(*) AS n_rows,
                   round(avg(CASE WHEN v IS NULL THEN 1.0 ELSE 0.0 END), 9)
                       AS null_fraction,
                   round(min(v), 6) AS min_value,
                   round(max(v), 6) AS max_value
            FROM (
                SELECT 'l_orderkey' AS c, CAST(l_orderkey AS DOUBLE) AS v
                FROM lineitem
                UNION ALL
                SELECT 'l_quantity', CAST(l_quantity AS DOUBLE) FROM lineitem
                UNION ALL
                SELECT 'l_extendedprice', CAST(l_extendedprice AS DOUBLE)
                FROM lineitem
            )
            GROUP BY c
        """,
        "deprecated_usage_events": """
            WITH base AS (
                SELECT event_type,
                       CASE WHEN event_id % 3 = 0 THEN value END AS legacy
                FROM events
            )
            SELECT '#/properties/event_type' AS schema_pointer,
                   'event_type' AS property_path,
                   count(event_type) AS n_present,
                   count(*) AS n_rows,
                   round(count(event_type) / CAST(count(*) AS DOUBLE), 9)
                       AS frac_present
            FROM base
            UNION ALL
            SELECT '#/properties/meta/properties/legacy_score',
                   'meta.legacy_score',
                   count(legacy), count(*),
                   round(count(legacy) / CAST(count(*) AS DOUBLE), 9)
            FROM base
        """,
        "suggest_constraints_orders": """
            WITH agg AS (
                SELECT count(*) AS n,
                       count(o_orderkey) AS nn_ok, min(o_orderkey) AS min_ok, max(o_orderkey) AS max_ok,
                       count(o_custkey) AS nn_ck, min(o_custkey) AS min_ck, max(o_custkey) AS max_ck,
                       count(o_orderstatus) AS nn_os,
                       count(o_totalprice) AS nn_tp, min(o_totalprice) AS min_tp, max(o_totalprice) AS max_tp,
                       count(o_orderpriority) AS nn_op
                FROM orders
            ),
            render AS (
                SELECT CASE WHEN v = floor(v) AND abs(v) < 9007199254740992
                            THEN CAST(CAST(v AS BIGINT) AS VARCHAR)
                            ELSE CAST(v AS VARCHAR) END AS s, k FROM (
                    SELECT min_tp AS v, 'min_tp' AS k FROM agg
                    UNION ALL SELECT max_tp, 'max_tp' FROM agg
                )
            )
            SELECT * FROM (
                SELECT 'o_orderkey' AS column_name, 'type' AS keyword, '"integer"' AS value
                UNION ALL SELECT 'o_orderkey', 'required', 'true' FROM agg WHERE nn_ok = n
                UNION ALL SELECT 'o_orderkey', 'minimum', CAST(min_ok AS VARCHAR) FROM agg
                UNION ALL SELECT 'o_orderkey', 'maximum', CAST(max_ok AS VARCHAR) FROM agg
                UNION ALL SELECT 'o_custkey', 'type', '"integer"'
                UNION ALL SELECT 'o_custkey', 'required', 'true' FROM agg WHERE nn_ck = n
                UNION ALL SELECT 'o_custkey', 'minimum', CAST(min_ck AS VARCHAR) FROM agg
                UNION ALL SELECT 'o_custkey', 'maximum', CAST(max_ck AS VARCHAR) FROM agg
                UNION ALL SELECT 'o_orderstatus', 'type', '"string"'
                UNION ALL SELECT 'o_orderstatus', 'required', 'true' FROM agg WHERE nn_os = n
                UNION ALL SELECT 'o_orderstatus', 'enum',
                    to_json(list_sort(list(DISTINCT o_orderstatus))) FROM orders
                    WHERE o_orderstatus IS NOT NULL
                UNION ALL SELECT 'o_totalprice', 'type', '"number"'
                UNION ALL SELECT 'o_totalprice', 'required', 'true' FROM agg WHERE nn_tp = n
                UNION ALL SELECT 'o_totalprice', 'minimum', s FROM render WHERE k = 'min_tp'
                UNION ALL SELECT 'o_totalprice', 'maximum', s FROM render WHERE k = 'max_tp'
                UNION ALL SELECT 'o_orderpriority', 'type', '"string"'
                UNION ALL SELECT 'o_orderpriority', 'required', 'true' FROM agg WHERE nn_op = n
                UNION ALL SELECT 'o_orderpriority', 'enum',
                    to_json(list_sort(list(DISTINCT o_orderpriority))) FROM orders
                    WHERE o_orderpriority IS NOT NULL
            )
        """,
        "validate_events_unevaluated": """
            SELECT event_id,
                   coalesce(user_id IS NOT NULL
                            AND event_type IN ('click', 'view')
                            AND NOT (event_id % 3 = 0 AND value IS NULL)
                            AND NOT (event_id % 5 = 0), false)
                   AS passed
            FROM events
        """,
        "validate_events_open_json": """
            SELECT event_id,
                   json_extract(props, '$.k') IS NOT NULL
                   AND json_type(props, '$.k') <> 'NULL'
                   AND json_type(props, '$.k') IN ('UBIGINT','BIGINT','INTEGER')
                   AND CAST(json_extract(props, '$.k') AS BIGINT) >= 10
                   AND CAST(json_extract(props, '$.k') AS BIGINT) <= 90
                   AS passed
            FROM events
        """,
        "agg_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 4) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   count(*) AS count_order
            FROM lineitem GROUP BY l_returnflag, l_linestatus
        """,
        "validate_array_keywords": """
            WITH t AS (SELECT doc_id, text,
                              string_split(text, ' ')[1:(3 + doc_id % 5)] AS toks
                       FROM documents)
            SELECT doc_id,
                   CASE WHEN text IS NULL THEN true ELSE
                     len(toks) >= 4 AND len(toks) <= 6
                     AND len(list_distinct(toks)) = len(toks)
                     AND len(list_filter(toks,
                         x -> length(x) >= 1 AND length(x) <= 6)) = len(toks)
                     AND len(list_filter(toks,
                         x -> regexp_matches(x, '^[aeiou]'))) = 1
                   END AS passed
            FROM t
        """,
        "array_violation_summary": """
            WITH t AS (SELECT string_split(text, ' ')[1:(3 + doc_id % 5)] AS toks
                       FROM documents WHERE text IS NOT NULL),
            u AS (
                SELECT 'minItems' AS keyword,
                       '#/properties/toks/minItems' AS keyword_location,
                       count(*) AS n_violations FROM t WHERE len(toks) < 4
                UNION ALL
                SELECT 'maxItems', '#/properties/toks/maxItems', count(*)
                FROM t WHERE len(toks) > 6
                UNION ALL
                SELECT 'uniqueItems', '#/properties/toks/uniqueItems', count(*)
                FROM t WHERE len(list_distinct(toks)) <> len(toks)
                UNION ALL
                SELECT 'minLength', '#/properties/toks/items/minLength',
                       CAST(sum(len(list_filter(toks, x -> length(x) < 1))) AS BIGINT)
                FROM t
                UNION ALL
                SELECT 'maxLength', '#/properties/toks/items/maxLength',
                       CAST(sum(len(list_filter(toks, x -> length(x) > 6))) AS BIGINT)
                FROM t
                UNION ALL
                SELECT 'contains', '#/properties/toks/contains', count(*)
                FROM t WHERE len(list_filter(toks,
                    x -> regexp_matches(x, '^[aeiou]'))) < 1
                UNION ALL
                SELECT 'maxContains', '#/properties/toks/contains', count(*)
                FROM t WHERE len(list_filter(toks,
                    x -> regexp_matches(x, '^[aeiou]'))) > 1
            )
            SELECT keyword, keyword_location, n_violations
            FROM u WHERE n_violations > 0
        """,
        "validate_combinators": """
            SELECT o_orderkey,
              ((o_totalprice IS NULL OR o_totalprice > 0)
               AND (o_orderpriority IS NULL
                    OR regexp_matches(o_orderpriority, '^[1-5]-'))) AS allof_ok,
              ((o_orderstatus IS NULL OR o_orderstatus = 'F')
               OR (o_totalprice IS NULL OR o_totalprice <= 200000)) AS anyof_ok,
              ((CASE WHEN o_totalprice IS NULL OR o_totalprice <= 100000
                     THEN 1 ELSE 0 END
                + CASE WHEN o_custkey IS NULL OR o_custkey % 2 = 0
                       THEN 1 ELSE 0 END) = 1) AS oneof_ok,
              (NOT (o_totalprice IS NULL OR o_totalprice > 500000)) AS not_ok,
              (CASE WHEN o_orderstatus IS NULL OR o_orderstatus = 'O'
                    THEN (o_totalprice IS NULL OR o_totalprice > 100)
                    ELSE (o_orderpriority IS NULL
                          OR length(o_orderpriority) >= 3) END) AS ite_ok,
              (((o_totalprice IS NULL OR o_totalprice > 0)
                AND (o_orderpriority IS NULL
                     OR regexp_matches(o_orderpriority, '^[1-5]-')))
               AND ((o_orderstatus IS NULL OR o_orderstatus = 'F')
                    OR (o_totalprice IS NULL OR o_totalprice <= 200000))
               AND ((CASE WHEN o_totalprice IS NULL OR o_totalprice <= 100000
                          THEN 1 ELSE 0 END
                     + CASE WHEN o_custkey IS NULL OR o_custkey % 2 = 0
                            THEN 1 ELSE 0 END) = 1)
               AND (NOT (o_totalprice IS NULL OR o_totalprice > 500000))
               AND (CASE WHEN o_orderstatus IS NULL OR o_orderstatus = 'O'
                         THEN (o_totalprice IS NULL OR o_totalprice > 100)
                         ELSE (o_orderpriority IS NULL
                               OR length(o_orderpriority) >= 3) END)) AS passed
            FROM orders
        """,
        "validate_formats": """
            -- expected-value oracle: every candidate string is constructed
            -- from o_orderkey with known per-branch validity (see
            -- _format_candidates); the oracle recomputes the expectation
            SELECT o_orderkey,
              (o_orderkey % 4 <> 0) AS date_ok,
              (o_orderkey % 5 NOT IN (1, 2)) AS time_ok,
              (o_orderkey % 4 <> 0 AND o_orderkey % 5 NOT IN (1, 2)) AS date_time_ok,
              (o_orderkey % 3 <> 1) AS duration_ok,
              (o_orderkey % 3 <> 1) AS uri_ok,
              (o_orderkey % 4 NOT IN (1, 2)) AS email_ok,
              (o_orderkey % 4 NOT IN (0, 2)) AS ipv4_ok,
              (o_orderkey % 4 <> 2) AS ipv6_ok,
              (o_orderkey % 3 <> 1) AS uuid_ok
            FROM orders WHERE o_orderkey IS NOT NULL
        """,
        "validate_object_shape": """
            WITH t AS (SELECT o_orderkey,
              CASE WHEN o_orderkey % 5 = 0 THEN NULL ELSE o_orderstatus END AS s,
              CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_totalprice END AS p,
              CASE WHEN o_orderkey % 3 = 0 THEN o_orderpriority ELSE NULL END AS nt
              FROM orders)
            SELECT o_orderkey,
              (p IS NOT NULL                                     -- required
               AND (s IS NULL OR (p IS NOT NULL AND nt IS NOT NULL)) -- dependentRequired
               AND ((CASE WHEN s IS NOT NULL THEN 1 ELSE 0 END
                     + CASE WHEN p IS NOT NULL THEN 1 ELSE 0 END
                     + CASE WHEN nt IS NOT NULL THEN 1 ELSE 0 END) = 2) -- min/maxProperties
               AND s IS NULL                                     -- propertyNames maxLength 5 ('status' has 6)
               AND (nt IS NULL OR length(nt) >= 6)               -- additionalProperties
              ) AS passed
            FROM t
        """,
        "text_lang_id": f"""
            WITH h AS (SELECT doc_id,
              len(list_filter({_TOKENS}, x -> x IN
                ('the','and','of','to','in','is','that','it','was','for'))) AS h_en,
              len(list_filter({_TOKENS}, x -> x IN
                ('der','die','das','und','ist','nicht','ein','mit','auf','zu'))) AS h_de,
              len(list_filter({_TOKENS}, x -> x IN
                ('le','la','les','et','est','pas','une','des','dans','que'))) AS h_fr,
              len(list_filter({_TOKENS}, x -> x IN
                ('el','la','los','y','es','no','una','por','con','para'))) AS h_es,
              len(list_filter({_TOKENS}, x -> x IN
                ('a','az','és','hogy','nem','egy','van','de','is','meg'))) AS h_hu
              FROM documents)
            SELECT doc_id, CASE
              WHEN coalesce(greatest(h_en,h_de,h_fr,h_es,h_hu), 0) = 0 THEN 'und'
              WHEN h_en = greatest(h_en,h_de,h_fr,h_es,h_hu) THEN 'en'
              WHEN h_de = greatest(h_en,h_de,h_fr,h_es,h_hu) THEN 'de'
              WHEN h_fr = greatest(h_en,h_de,h_fr,h_es,h_hu) THEN 'fr'
              WHEN h_es = greatest(h_en,h_de,h_fr,h_es,h_hu) THEN 'es'
              ELSE 'hu' END AS lang_guess
            FROM h
        """,
        "text_quality": f"""
            WITH q AS (SELECT doc_id, length(text) AS n_chars,
                len(regexp_extract_all(text, '\\p{{L}}')) AS n_alpha,
                len(regexp_extract_all(text, '[^\\p{{L}}\\p{{N}}_\\s]')) AS n_punct,
                length(regexp_replace(text, '\\s+', '', 'g')) AS n_wchars,
                len({_TOKENS}) AS n_tok FROM documents),
            b AS (SELECT doc_id,
                CASE WHEN n_chars >= 100 AND n_chars <= 20000 THEN 1.0
                     WHEN n_chars > 0 THEN 0.5 ELSE 0.0 END AS len_band,
                CASE WHEN n_chars > 0 THEN CAST(n_alpha AS DOUBLE) / n_chars
                     ELSE 0.0 END AS alpha_ratio,
                CASE WHEN (CASE WHEN n_tok > 0 THEN CAST(n_wchars AS DOUBLE) / n_tok
                           ELSE 0.0 END) BETWEEN 3.0 AND 12.0
                     THEN 1.0 ELSE 0.4 END AS wl_band,
                CASE WHEN (CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE) / n_chars
                           ELSE 0.0 END) <= 0.2
                     THEN 1.0 ELSE 0.3 END AS punct_band
              FROM q)
            SELECT doc_id,
                   round(0.3*len_band + 0.3*alpha_ratio + 0.2*wl_band
                         + 0.2*punct_band, 6) AS quality
            FROM b
        """,
        "text_fingerprint": f"""
            -- same rolling-hash recurrence as functions/text.py::fingerprint:
            -- per-token hash = top 60 bits of the lower md5 half, mod p
            WITH t AS (SELECT doc_id,
                CASE WHEN text IS NULL THEN NULL ELSE {_TOKENS} END AS toks
              FROM documents)
            SELECT doc_id,
              CASE WHEN toks IS NULL THEN NULL ELSE
                list_reduce(list_prepend(CAST(0 AS BIGINT),
                  [CAST(('0x' || substr(md5(x), 17, 15))::UBIGINT % 2147483647
                        AS BIGINT) for x in toks]),
                  (a, b) -> (a * 257 + b) % 2147483647)
              END AS fp
            FROM t
        """,
        "dedup_ngram_jaccard": """
            -- brute-force all-pairs bigram Jaccard at t=0.6: the Spark side's
            -- prefix-filtered inverted index is analytically lossless
            -- (SSJoin/PPJoin prefix lemma), so the two must agree exactly
            WITH d AS (SELECT doc_id,
                list_distinct([array_to_string(toks[i:i+1], ' ')
                               for i in range(1, greatest(len(toks)-1, 1)+1)]) AS g
              FROM (SELECT doc_id,
                    string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))),
                                 ' ') AS toks
                    FROM documents WHERE text IS NOT NULL))
            SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
                   round(CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
                         / len(list_distinct(a.g || b.g)), 6) AS jaccard
            FROM d a JOIN d b ON a.doc_id < b.doc_id
            WHERE CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
                  / len(list_distinct(a.g || b.g)) >= 0.6
        """,
        "dedup_minhash_pairs": """
            -- exact brute-force oracle: every injected near-dup pair in this
            -- corpus has 3-gram jaccard >= 0.9, where 16-band/4-row MinHash
            -- recall is 1 - (1-0.9^4)^16 ~ 1 - 4e-8, and the LSH pipeline's
            -- verify stage computes the same exact jaccard - so LSH output
            -- equals the exact all-pairs result
            WITH d AS (SELECT doc_id,
                list_distinct([array_to_string(toks[i:i+2], ' ')
                               for i in range(1, greatest(len(toks)-2, 1)+1)]) AS g
              FROM (SELECT doc_id,
                    string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))),
                                 ' ') AS toks
                    FROM documents))
            SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
                   round(CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
                         / len(list_distinct(a.g || b.g)), 6) AS jaccard
            FROM d a JOIN d b ON a.doc_id < b.doc_id
            WHERE CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
                  / len(list_distinct(a.g || b.g)) >= 0.5
        """,
        "dedup_embedding_pairs": """
            -- brute-force oracle; LSH recall ~1 at cosine ~0.99995 (16x4
            -- banding), so outputs coincide (see _q_embedding_near_dup)
            WITH b AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                       FROM embeddings),
            p AS (SELECT vec_id + 1000000 AS vec_id,
                         [CASE WHEN i = 1 THEN v[i] * 1.01 ELSE v[i] END
                          for i in range(1, len(v) + 1)] AS v
                  FROM b WHERE vec_id % 10 = 0),
            u AS (SELECT * FROM b UNION ALL SELECT * FROM p)
            SELECT a.vec_id AS id_a, bb.vec_id AS id_b,
                   round(list_cosine_similarity(a.v, bb.v), 6) AS cosine
            FROM u a JOIN u bb ON a.vec_id < bb.vec_id
            WHERE list_cosine_similarity(a.v, bb.v) >= 0.99
        """,
        "text_contamination": """
            WITH d AS (SELECT doc_id,
                list_distinct([array_to_string(toks[i:i+2], ' ')
                               for i in range(1, greatest(len(toks)-2, 1)+1)]) AS g
              FROM (SELECT doc_id,
                    string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))),
                                 ' ') AS toks
                    FROM documents)),
            h AS (SELECT doc_id,
                  list_sort(list_intersect(g,
                      ['stream table hash', 'row column sort',
                       'window fast query'])) AS hits
                  FROM d)
            SELECT doc_id, coalesce(len(hits) > 0, false) AS contaminated,
                   coalesce(array_to_string(hits, '|'), '') AS matched
            FROM h
        """,
        "sample_stratified": """
            SELECT doc_id, lang FROM documents
            WHERE coalesce(
                    ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '42'), 1, 8))::UBIGINT
                    / 4294967296.0,
                    1.0 - 1.0 / 4294967296.0)
                  < CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.25
                              WHEN 'fr' THEN 1.0 ELSE 0.1 END
        """,
        "pack_chunk_assignments": f"""
            WITH t AS (SELECT doc_id, lang, len({_TOKENS}) AS n_tokens
                       FROM documents),
            s AS (SELECT doc_id, lang, n_tokens,
                         CAST(sum(n_tokens) OVER (PARTITION BY lang
                                                  ORDER BY doc_id)
                              - n_tokens AS BIGINT) AS st
                  FROM t)
            SELECT doc_id, lang, n_tokens,
                   CAST(floor(st / 512) AS BIGINT) AS chunk_id,
                   st % 512 AS chunk_offset
            FROM s
        """,
        "similarity_ivf_topk": _ivf_oracle_sql(),
        "dedup_simhash_fingerprints": f"""
            -- same bit-vote recurrence as operators/dedup.simhash: 60-bit
            -- md5-lower token hashes (seed '42' appended), 48 voted bits
            WITH t AS (SELECT doc_id, list_distinct({_TOKENS}) AS toks
                       FROM documents),
            h AS (SELECT doc_id,
                  [CAST(('0x' || substr(md5(x || '42'), 17, 15))::UBIGINT
                        AS BIGINT) for x in toks] AS hs
                  FROM t)
            SELECT doc_id,
                   CAST(coalesce(list_sum(
                     [CASE WHEN coalesce(list_sum(
                        [CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END
                         for h in hs]), 0) > 0
                      THEN CAST(1 AS BIGINT) << b ELSE 0 END
                      for b in range(0, 48)]), 0) AS BIGINT) AS fp
            FROM h
        """,
        "text_pii_scrub": """
            WITH t AS (SELECT doc_id,
              CASE WHEN doc_id % 4 = 0 THEN text || ' contact me@example.org now'
                   WHEN doc_id % 4 = 1 THEN text || ' visit https://example.com/page then'
                   WHEN doc_id % 4 = 2 THEN text || ' call 555-123-4567 today'
                   ELSE text END AS x
              FROM documents)
            SELECT doc_id,
              len(regexp_extract_all(x, 'https?://[^\\s]+|www\\.[^\\s]+')) AS n_urls,
              len(regexp_extract_all(x,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS n_emails,
              len(regexp_extract_all(x,
                  '\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b')) AS n_phones,
              length(trim(regexp_replace(regexp_replace(regexp_replace(
                  regexp_replace(x, 'https?://[^\\s]+|www\\.[^\\s]+', '', 'g'),
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '', 'g'),
                  '\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b', '', 'g'),
                  '\\s+', ' ', 'g'))) AS scrubbed_len
            FROM t
        """,
        "dedup_exact_hotkey": """
            WITH injected AS (
                SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                       CASE WHEN doc_id % 10 = 0 THEN 'hot boilerplate text'
                            ELSE text END AS text
                FROM documents
            )
            SELECT md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS digest,
                   count(*) AS n_docs,
                   array_to_string(list_sort(list(doc_id))[1:20], ',') AS doc_ids
            FROM injected GROUP BY 1 HAVING count(*) > 1
        """,
        "unique_duplicate_orderkeys_skewed": """
            WITH all_keys AS (
                SELECT l_orderkey FROM lineitem
                UNION ALL
                SELECT CAST(1 AS BIGINT) AS l_orderkey FROM range(5000)
            )
            SELECT l_orderkey, count(*) AS n_rows FROM all_keys
            GROUP BY l_orderkey HAVING count(*) > 1
        """,
        "dedup_drop_kept_set": """
            -- same pair CTE as dedup_minhash_pairs/clusters (exact
            -- all-pairs jaccard == LSH output on this corpus), closure as
            -- in dedup_minhash_clusters; keep rule = each cluster's min id
            WITH RECURSIVE d AS (SELECT doc_id,
                list_distinct([array_to_string(toks[i:i+2], ' ')
                               for i in range(1, greatest(len(toks)-2, 1)+1)]) AS g
              FROM (SELECT doc_id,
                    string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))),
                                 ' ') AS toks
                    FROM documents)),
            p AS (
                SELECT a.doc_id AS a, b.doc_id AS b
                FROM d a JOIN d b ON a.doc_id < b.doc_id
                WHERE CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
                      / len(list_distinct(a.g || b.g)) >= 0.5
            ),
            e AS (SELECT a, b FROM p UNION SELECT b AS a, a AS b FROM p),
            reach(node, r) AS (
                SELECT a, a FROM e
                UNION
                SELECT e.a, t.r FROM e JOIN reach t ON t.node = e.b
            ),
            losers AS (
                SELECT node FROM reach GROUP BY node HAVING node <> min(r)
            )
            SELECT doc_id FROM documents
            WHERE doc_id NOT IN (SELECT node FROM losers)
        """,
        "media_rgb_stats": """
            -- analytic replica of the rgb8raw fixture: sample j of doc k
            -- carries (k*37 + j*11) % 256; channel = j % 3, pixel = j // 3
            WITH px AS (
                SELECT d.doc_id, t.j,
                       CAST((d.doc_id * 37 + t.j * 11) % 256 AS DOUBLE) AS v
                FROM documents d CROSS JOIN generate_series(0, 191) AS t(j)
                WHERE d.doc_id % 97 <> 0
            ),
            chan AS (SELECT doc_id, j % 3 AS c, j // 3 AS pix, v FROM px),
            gray AS (SELECT doc_id, pix, avg(v) AS g
                     FROM chan GROUP BY doc_id, pix),
            m AS (SELECT doc_id,
                         avg(CASE WHEN c = 0 THEN v END) AS mean_r,
                         avg(CASE WHEN c = 1 THEN v END) AS mean_g,
                         avg(CASE WHEN c = 2 THEN v END) AS mean_b
                  FROM chan GROUP BY doc_id),
            s AS (SELECT doc_id, stddev_pop(g) AS std_gray
                  FROM gray GROUP BY doc_id)
            SELECT CAST(m.doc_id AS VARCHAR) AS image_id,
                   TRUE AS decode_ok, '' AS error,
                   round(mean_r, 6) AS mean_r, round(mean_g, 6) AS mean_g,
                   round(mean_b, 6) AS mean_b,
                   round(s.std_gray, 6) AS std_gray
            FROM m JOIN s USING (doc_id)
            UNION ALL
            SELECT CAST(doc_id AS VARCHAR), FALSE, 'truncated_rgb8raw',
                   CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
                   CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
            FROM documents WHERE doc_id % 97 = 0
        """,
        "unique_duplicate_rows": """
            SELECT l_orderkey, l_linenumber, n_rows FROM (
                SELECT l_orderkey, l_linenumber,
                       count(*) OVER (PARTITION BY l_orderkey) AS n_rows
                FROM lineitem
            ) WHERE n_rows > 1
        """,
        "unique_violations_rows": """
            SELECT CAST(l_orderkey AS VARCHAR) AS row_key,
                   'uniqueItems' AS keyword,
                   '#/uniqueItems' AS keyword_location,
                   '#/l_orderkey' AS instance_location,
                   '#/uniqueItems' AS dynamic_path,
                   'key ' || CAST(l_orderkey AS VARCHAR) || ' occurs in '
                       || CAST(n AS VARCHAR) || ' rows, expected 1' AS message,
                   CAST(NULL AS INTEGER) AS partition_id
            FROM (SELECT l_orderkey, count(*) AS n FROM lineitem
                  WHERE l_orderkey IS NOT NULL
                  GROUP BY 1 HAVING count(*) > 1)
        """,
        "referential_field_equality": """
            -- the reference value for o_orderkey % 31 = 0 rows is the
            -- sentinel 'X-REF'; those rows (and only those) mismatch via
            -- the null-safe comparison
            SELECT CAST(o_orderkey AS VARCHAR) AS row_key,
                   'const' AS keyword,
                   '#/const' AS keyword_location,
                   '#/o_orderpriority' AS instance_location,
                   '#/const' AS dynamic_path,
                   'o_orderpriority does not equal the reference value'
                       AS message
            FROM orders
            WHERE o_orderkey % 31 = 0
              AND o_orderpriority IS DISTINCT FROM 'X-REF'
        """,
        "pack_greedy_ffd": f"""
            -- sequential first-fit-decreasing replay: a recursive CTE
            -- threads the open-bin capacity list through the
            -- (n_tokens desc, doc_id asc) order; fit.j = first bin with
            -- capacity >= n (1-based), else open a new bin
            WITH RECURSIVE toks AS (
                SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                       len({_TOKENS}) AS n_tokens
                FROM documents
            ),
            d AS (
                SELECT doc_id, n_tokens,
                       row_number() OVER (ORDER BY n_tokens DESC, doc_id)
                           AS i
                FROM toks
            ),
            ffd(i, doc_id, n_tokens, pack_id, caps) AS (
                SELECT 0, CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
                       CAST(NULL AS BIGINT), CAST([] AS BIGINT[])
                UNION ALL
                SELECT d.i, d.doc_id, d.n_tokens,
                       CASE WHEN fit.j IS NOT NULL THEN fit.j - 1
                            ELSE len(ffd.caps) END,
                       CASE WHEN fit.j IS NOT NULL
                            THEN ffd.caps[1:fit.j-1]
                                 || [ffd.caps[fit.j] - d.n_tokens]
                                 || ffd.caps[fit.j+1:]
                            ELSE list_append(ffd.caps,
                                             greatest(512 - d.n_tokens, 0))
                       END
                FROM ffd
                JOIN d ON d.i = ffd.i + 1
                LEFT JOIN LATERAL (
                    SELECT min(k) AS j FROM (
                        SELECT unnest(ffd.caps) AS c,
                               generate_subscripts(ffd.caps, 1) AS k) u
                    WHERE u.c >= d.n_tokens) fit ON true
            )
            SELECT CAST(0 AS INT) AS bucket, pack_id, doc_id,
                   CAST(n_tokens AS BIGINT) AS n_tokens
            FROM ffd WHERE i > 0
        """,
        # batch replica of the Structured Streaming violation-rate query:
        # per-row failures derived with the engine's null convention (a
        # NULL column is an absent property — no keyword fires), bucketed
        # into the same epoch-aligned 1-day tumbling windows. Rows with a
        # NULL event time are excluded on both sides (the watermark
        # operator drops them from the stream's windowed aggregation).
        "stream_violation_windows": """
            WITH f AS (
                SELECT ts, 'enum' AS keyword FROM events
                WHERE event_type IS NOT NULL
                  AND event_type NOT IN ('click','view','signup','purchase')
                UNION ALL
                SELECT ts, 'exclusiveMinimum' AS keyword FROM events
                WHERE value IS NOT NULL AND value <= 1
                UNION ALL
                SELECT ts, 'maximum' AS keyword FROM events
                WHERE value IS NOT NULL AND value > 300
            )
            SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS w_start,
                   keyword, count(*) AS n_violations
            FROM f WHERE ts IS NOT NULL
            GROUP BY 1, 2
        """,
        "audio_snr_verdicts": """
            -- analytic replay of the PCM16 encode/decode/SNR chain (never
            -- parses WAV bytes): ref = double sin pair rounded to REAL then
            -- upcast (numpy synthesizes sin in float64 and .astype(float32),
            -- so CAST AS REAL is bit-identical); dec = trunc-toward-zero
            -- int16 quantization of the float64 synth; measured |delta snr|
            -- vs functions/audio.snr_db_periodic ~1e-14 dB (round(3) grain
            -- is 5e-4). dur<=600ms so the reference is the one-period
            -- prefix: t = k/sr with k < sr, no phase reduction needed.
            WITH p AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 2 = 0 THEN 8000 ELSE 16000 END AS sr,
                     200 + (doc_id * 131) % 401 AS dur,
                     220.0 + (doc_id % 16) AS f2_ref,
                     CASE WHEN doc_id % 17 = 0 AND doc_id % 23 <> 0
                          THEN 220.0 + ((doc_id + 1) % 16)
                          ELSE 220.0 + (doc_id % 16) END AS f2_dec,
                     doc_id % 23 = 0 AS corrupt
              FROM documents
            ), snr AS (
              SELECT doc_id,
                     round(10.0 * log10(sum(ref * ref)
                                        / sum((ref - dec) * (ref - dec))),
                           3) AS snr_db
              FROM (
                SELECT p.doc_id,
                       CAST(CAST(0.5 * sin(2 * pi() * 220.0 * t)
                                 + 0.25 * sin(2 * pi() * f2_ref * t) AS REAL)
                            AS DOUBLE) AS ref,
                       trunc((0.5 * sin(2 * pi() * 220.0 * t)
                              + 0.25 * sin(2 * pi() * f2_dec * t))
                             * 32767.0) / 32767.0 AS dec
                FROM p,
                     LATERAL (SELECT unnest(range(0, CAST(round(sr * dur
                              / 1000.0) AS BIGINT))) AS k),
                     LATERAL (SELECT CAST(k AS DOUBLE) / sr AS t)
                WHERE NOT corrupt)
              GROUP BY doc_id
            )
            SELECT p.doc_id,
                   CASE WHEN corrupt THEN FALSE
                        ELSE s.snr_db >= 30.0 END AS invariant_ok,
                   CASE WHEN corrupt THEN 'truncated_data_chunk'
                        ELSE '' END AS error,
                   CASE WHEN corrupt THEN NULL ELSE s.snr_db END AS snr_db
            FROM p LEFT JOIN snr s USING (doc_id)
        """,
        # every queries() entry above has an oracle: md5-based hashes (not
        # xxhash64) and literal centroids (not in-query KMeans) were chosen
        # precisely so each pipeline is bit-reproducible in DuckDB
    }
