"""Benchmark harness (driver contract): runs the headline queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line.

Also runs the north-rule scaling probe: constraint-eval throughput over a
deterministically generated clips table (the BASELINE.json metric,
"validated clips/sec"). The probe is CPU-bound (regex + enum + range
predicates in whole-stage codegen) so it scales with cores; run this script
at SPARK_GRAFT_CPUS=8 and 32 (tools/scaling_bench.py automates it) for the
N-vs-4N evidence.
"""

from __future__ import annotations

import json
import os
import sys
import time

from pyspark.sql import SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
CLIPS_N = int(os.environ.get("SPARK_GRAFT_CLIPS_N", "20000000"))
AUDIO_N = int(os.environ.get("SPARK_GRAFT_AUDIO_N", "40000"))

# the headline suite — the single list of driver queries this harness times
BENCH_QUERIES = [
    "validate_orders_verdict",
    "validate_orders_violations",
    "validate_lineitem_verdict",
    "lineitem_violation_summary",
    "unique_duplicate_orderkeys",
    "referential_customers_without_orders",
    "profile_lineitem",
    "dedup_exact_documents",
    "dedup_minhash_pairs",
    "text_token_stats",
    "text_lang_id",
    "similarity_topk_embeddings",
    "window_canonical_order",
    "agg_pricing_summary",
]


def build_spark() -> SparkSession:
    return (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("json_skema_spark_bench")
        .config("spark.sql.shuffle.partitions", str(max(CPUS, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "33554432")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )


def timed(fn):
    # perf_counter: monotonic — an NTP step during a query would corrupt
    # the artifact's per-query seconds (review r05c)
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


def _timed_with_steal(fn, steal_threshold: float) -> tuple[float, bool]:
    # the /proc/stat parsing contract lives ONCE in the package
    # (json_skema_spark.timing, shared with both probe families); bench
    # keeps only its distinct floor rule — steal-gated VOTING — on top
    # (review r05c)
    from json_skema_spark.timing import timed_with_steal
    secs, steal_pct = timed_with_steal(fn)
    return secs, steal_pct <= steal_threshold


def timed_floor(fn, min_reps: int = 3, max_reps: int = 7,
                tol: float = 1.3, steal_threshold: float = 1.0) -> float:
    """Find the stable floor time: rerun until the two best CLEAN runs agree
    within ``tol``. Necessary because this VM's noisy-neighbor interference
    is largely INVISIBLE to /proc/stat steal (observed: 66s runs at 0.3%
    steal vs a 5s idle floor — BENCH/BASELINE.md round-2 addendum), so a
    fixed best-of-N can have every rep stomped; agreement between two
    independent runs is the signal that the floor was actually reached.
    Steal accounting is the weaker secondary signal: a run with visible
    steal above ``steal_threshold``% cannot vote for early termination
    (it may still be the returned min if nothing cleaner appears)."""
    times: list[float] = []
    clean_times: list[float] = []
    for i in range(max_reps):
        secs, clean = _timed_with_steal(fn, steal_threshold)
        times.append(secs)
        if clean:
            clean_times.append(secs)
        if i + 1 >= min_reps and len(clean_times) >= 2:
            ts = sorted(clean_times)
            if ts[1] <= ts[0] * tol:
                return ts[0]
    return min(times)


def timed_floor_with_reps(fn, **kw) -> tuple[float, list[float]]:
    """timed_floor + the raw rep times, so the recorded artifact carries
    its own interference evidence: a floor whose reps span 3s..11s was
    measured through noisy-neighbor stomps (this VM's interference is
    largely invisible to /proc/stat steal — see BENCH/BASELINE.md), while
    tightly-grouped reps certify the floor was genuinely reached."""
    reps: list[float] = []

    def wrapped():
        t0 = time.time()
        out = fn()
        reps.append(round(time.time() - t0, 3))
        return out

    floor = timed_floor(wrapped, **kw)
    return floor, reps


def main() -> None:
    import __spark_entry__ as entry
    from json_skema_spark import compile_schema
    from json_skema_spark.functions import audio
    from json_skema_spark.sources import clips as clips_src

    spark = build_spark()
    spark.sparkContext.setLogLevel("ERROR")

    # Warm-up: spin up every Python worker + JIT the codegen paths once.
    # Worker cold-start is serialized and costs ~2s/worker; production
    # amortizes it to zero, so steady-state timing excludes it.
    spark.range(0, CPUS * 8, 1, CPUS * 4).selectExpr("sum(id)").collect()
    clips_src.clips_df(spark, CPUS * 16, audio=True, inject=True,
                       partitions=CPUS * 4).count()

    queries = entry.queries()
    q_secs: dict[str, float] = {}
    for name in BENCH_QUERIES:
        secs = timed_floor(lambda: queries[name](spark, SF_DIR).count(),
                           min_reps=2, max_reps=5)
        q_secs[name] = round(secs, 3)

    # -- scaling probe: constraint-eval over a clips parquet table ----------
    # Production shape: parquet scan -> codegen'd predicates -> tiny agg.
    # The table is materialized once under /tmp and reused across runs and
    # parallelism levels (identical input at N and 4N cores). Timing is
    # best-of-3 after a warm-up pass: steady state, page cache + JIT warm.
    cpath = clips_src.ensure_clips_parquet(spark, CLIPS_N, audio=False)
    clips = spark.read.parquet(cpath)
    n = CLIPS_N
    plan = compile_schema(clips_src.CLIPS_CONSTRAINT_SCHEMA, clips.schema)

    def run_probe():
        return plan.apply(clips, mode="verdict").groupBy("passed").count().collect()

    timed(run_probe)  # warm-up pass (page cache + codegen JIT)
    probe_secs, probe_reps = timed_floor_with_reps(run_probe, max_reps=9)
    q_secs["clips_constraint_eval"] = round(probe_secs, 3)
    clips_per_sec = n / probe_secs

    # -- audio decode + SNR invariant probe (Arrow-batched pandas UDF) ------
    apath = clips_src.ensure_clips_parquet(spark, AUDIO_N, audio=True)
    aclips = spark.read.parquet(apath)
    an = AUDIO_N

    def run_audio():
        return audio.pcm_invariant_check(aclips).groupBy("invariant_ok").count().collect()

    timed(run_audio)  # warm-up pass (spins up every Python worker)
    audio_secs, audio_reps = timed_floor_with_reps(run_audio, max_reps=9)
    q_secs["clips_audio_snr"] = round(audio_secs, 3)
    audio_clips_per_sec = an / audio_secs

    # -- ANN quality: recall@10 vs exact cosine over the bench embeddings --
    # Regression tripwire (VERDICT r04 #7): a change in banding/probing
    # would pass the CORRECTNESS gate (the IVF driver query pins fixed
    # centroids) while silently losing recall — so the recall itself is
    # recorded per round. ann_topk probes 16 bands of 4 planes
    # (OR-construction; a single AND-of-12 table measured ~0.1 on this
    # corpus); IVF's number is its honest n_probe=4/16 point on gaussian
    # embeddings, where neighbor contrast is inherently low — see
    # BENCH/BASELINE.md round-5 addendum for the n_probe curve.
    import numpy as np

    from json_skema_spark.operators import similarity
    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet")).cache()
    emb.count()
    qvecs = np.random.default_rng(11).standard_normal((5, 64))
    cents = similarity.train_ivf_centroids(emb, "embedding")
    ann_hits = ivf_hits = 0
    for qv in qvecs:
        q = [float(x) for x in qv]
        exact = {r.vec_id for r in similarity.cosine_topk(
            emb, "embedding", "vec_id", q, k=10).collect()}
        ann = {r.vec_id for r in similarity.ann_topk(
            emb, "embedding", "vec_id", q, k=10).collect()}
        ivf = {r.vec_id for r in similarity.ivf_topk(
            emb, "embedding", "vec_id", q, k=10, centroids=cents,
            n_probe=4).collect()}
        ann_hits += len(exact & ann)
        ivf_hits += len(exact & ivf)
    emb.unpersist()
    ann_recall = {
        "ann_banded_16x4_recall_at_10": round(ann_hits / 50.0, 3),
        "ivf_nprobe4_recall_at_10": round(ivf_hits / 50.0, 3),
    }

    total = round(sum(q_secs.values()), 3)
    print(json.dumps({
        "metric": "headline suite wall time (validated clips/sec in throughput)",
        "value": total,
        "unit": "sec",
        "queries": q_secs,
        "sf": SF_DIR.rstrip("/").rsplit("sf", 1)[-1],
        "cpus": CPUS,
        "throughput": {
            "validated_clips_per_sec": round(clips_per_sec, 1),
            "clips_n": n,
            "audio_snr_clips_per_sec": round(audio_clips_per_sec, 1),
            "audio_n": an,
        },
        # raw rep times for the two clips probes: tightly-grouped reps
        # certify a genuine floor; a wide spread means the recorded number
        # was measured through this VM's (steal-invisible) noisy-neighbor
        # interference — read it against BENCH/BASELINE.md's clean floors
        "probe_reps": {"clips_constraint_eval": probe_reps,
                       "clips_audio_snr": audio_reps},
        "ann_recall": ann_recall,
    }))


if __name__ == "__main__":
    main()
