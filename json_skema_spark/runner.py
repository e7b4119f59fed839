"""Production entry point: the full north-rule validation job, shipped via
``spark-submit --py-files json_skema_spark.zip runner.py`` on a real cluster
(here runnable on local[N]).

Pipeline per the north rule (BASELINE.json):
  1. schema-validate every row (compiled Column predicates)     -> violations
  2. global clip_id uniqueness (one hash agg)                   -> violations
  3. transcript/clip referential integrity (broadcast/SMJ)      -> violations
  4. per-partition column stats + HLL + quantiles               -> profile
  5. drift vs a baseline profile (if provided)                  -> drift report
  6. decoded-PCM SNR>=30dB + transcript equality (Arrow UDF)    -> violations
  7. checkpointed per-bucket manifest with lineage + metrics    -> resume

Every stage writes parquet under ``--out``; a killed run re-invoked with the
same ``--out`` resumes at bucket granularity (operators/checkpoint.py).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from typing import Any

if __package__ in (None, ""):  # direct `python json_skema_spark/runner.py`
    # spark-submit --py-files puts the package zip on the path; a bare
    # local invocation gets the script's PARENT dir instead — bootstrap it
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from json_skema_spark import compile_schema
from json_skema_spark.functions import audio as audio_fn
from json_skema_spark.operators import checkpoint, referential, stats, uniqueness
from json_skema_spark.operators.drift import drift_report

CLIPS_SCHEMA_DOC = {
    "type": "object",
    "properties": {
        "clip_id": {"type": "string", "pattern": "^clip_[0-9a-f]{12}$"},
        "sr_hz": {"enum": [8000, 16000, 22050, 44100, 48000]},
        "dur_ms": {"type": "integer", "minimum": 1, "maximum": 600000},
        "codec": {"enum": ["pcm_s16le", "flac", "opus"]},
        "transcript": {"type": "string", "minLength": 1},
    },
    "required": ["clip_id", "bytes", "sr_hz", "dur_ms", "codec", "transcript"],
}


def _ref_fingerprint(df: DataFrame) -> str:
    """Cheap identity fingerprint for a reference table: schema + the
    sorted source-file list (empty for non-file sources). Enough to catch
    the failure modes that matter — a restage after the ref table was
    rewritten, or a ref read from a different path."""
    import hashlib
    files = sorted(df.inputFiles())
    basis = df.schema.simpleString() + "|" + "|".join(files)
    if not files:
        # non-file reference (createDataFrame, a view): the file list is
        # empty so schema alone would call ANY same-shaped reference
        # identical. Hash the CONTENT (order-insensitive sum of row
        # hashes): one scan of the reference — it is the small side by
        # design — and stable across sessions, unlike semanticHash, whose
        # un-normalized expression ids differ even for identical data
        # (a spurious mismatch would falsely refuse a legitimate resume).
        from pyspark.sql import functions as F
        h = df.select(
            F.sum(F.xxhash64(*[F.col(c) for c in df.columns])
                  .cast("decimal(38,0)")).alias("h"),  # no ANSI overflow
            F.count(F.lit(1)).alias("n")).first()
        basis += f"|content={h['h']}/{h['n']}"
    return hashlib.md5(basis.encode()).hexdigest()


def validate_table(spark: SparkSession, clips: DataFrame, out_dir: str, *,
                   schema_doc: Any = None,
                   transcripts_ref: DataFrame | None = None,
                   baseline_profile: DataFrame | None = None,
                   num_buckets: int = 16, check_audio: bool = True,
                   emit_clean: bool = False, emit_digest: bool = False,
                   file_lineage: bool = False) -> dict:
    """Run the full validation pipeline with checkpointed resume.

    ``emit_clean=True`` additionally materializes the quarantine split:
    rows passing the schema verdict AND carrying no audio violation land
    under ``clean/bucket=*`` — the table a training pipeline actually
    consumes. Cost: one extra bucket-local read of the staged files plus
    an anti-join against that bucket's violation keys (tiny unless the
    bucket is mostly violations); rides the same per-bucket transaction,
    so resume semantics are unchanged.

    ``emit_digest=True`` writes a per-bucket triage digest (exact keyword
    counts + bounded example keys) under ``digest/bucket=*`` — the
    artifact an operator reads FIRST after a bad deploy; computed from the
    just-written violations (violations-sized read, never a table rescan).

    ``file_lineage=True`` captures ``_metadata.file_path`` into the staged
    copy so violation rows cite the ORIGINAL input file (``source_file``
    column) even from a resumed run. Requires a file-based input scan.

    Returns the manifest metrics map (bucket -> metrics).
    """
    # `is None`, not falsy-or: `false` (reject-all) and `{}` (accept-all)
    # are LEGAL schemas that `or` silently replaced with the clips
    # default (review r05c)
    schema_doc = CLIPS_SCHEMA_DOC if schema_doc is None else schema_doc
    plan = compile_schema(schema_doc, clips.schema)
    manifest = checkpoint.PartitionManifest(
        os.path.join(out_dir, "_manifest"), spark)

    # a resume must run with the semantics of the run that committed
    # buckets: emit_clean/emit_digest newly ON would silently leave the
    # committed buckets without their clean//digest/ output while
    # reporting success (ADVICE r03)
    # check_audio / audio-ref presence shape the BUCKET outputs too: a
    # resume that flips them would commit the remaining buckets under
    # different semantics than the finished ones (review r04). A ref used
    # only by the global phase (check_audio=False) is NOT guarded here —
    # the global step is fingerprinted and recomputes safely.
    # the SCHEMA ITSELF is the primary semantic input: a resume with an
    # edited schema would validate the remaining buckets against B while
    # the committed ones keep A's verdicts, reported as ONE successful
    # run — and a fully-committed re-run with a new schema would skip all
    # work and print the OLD run's totals as success (review r05c)
    import hashlib as _hashlib
    import json as _json
    schema_fp = _hashlib.md5(_json.dumps(
        schema_doc, sort_keys=True, separators=(",", ":"),
        default=str).encode()).hexdigest()
    prior_fp = manifest.option("schema_fp")
    if prior_fp is not None and prior_fp != schema_fp and manifest.completed:
        raise ValueError(
            f"resume with a DIFFERENT schema document (fingerprint "
            f"{schema_fp} vs {prior_fp}) after {len(manifest.completed)} "
            "committed bucket(s) — their verdicts were produced by the "
            "original schema; finish with it, or use a fresh out_dir (or "
            "revalidate_table for schema evolution)")
    manifest.record_option("schema_fp", schema_fp)
    for opt, val in (("emit_clean", emit_clean), ("emit_digest", emit_digest),
                     ("check_audio", check_audio),
                     ("audio_has_ref",
                      check_audio and transcripts_ref is not None)):
        prior = manifest.option(opt)
        if prior is not None and prior != bool(val) and manifest.completed:
            raise ValueError(
                f"resume requested {opt}={bool(val)} but the run that "
                f"committed {len(manifest.completed)} bucket(s) into this "
                f"out_dir ran with {opt}={prior} — their output would be "
                "inconsistent; finish with the original setting or use a "
                "fresh out_dir")
        manifest.record_option(opt, bool(val))
    # co-bucket the transcript reference ONCE: joining the full ref table
    # inside every bucket job would rescan+shuffle it num_buckets times —
    # the same N-full-scans pathology the staging redesign eliminates for
    # the input. Reuse is guarded like the main staging (ADVICE r03): the
    # _SUCCESS probe alone cannot tell "staged 16 ways from today's ref"
    # from "staged 8 ways from last week's ref" — a silent mismatch
    # commits false missing_reference_transcript violations.
    ref_staging = None
    ref_schema = None
    if transcripts_ref is not None and check_audio:
        ref_staging = os.path.join(out_dir, "_staging_ref")
        ref_schema = transcripts_ref.schema
        ref_meta = {"num_buckets": num_buckets,
                    "fingerprint": _ref_fingerprint(transcripts_ref)}
        prior_ref = manifest.option("ref_staging")
        if prior_ref is not None and prior_ref != ref_meta \
                and manifest.completed:
            raise ValueError(
                f"resume with a DIFFERENT transcript reference or bucket "
                f"count ({ref_meta} vs staged {prior_ref}) after "
                f"{len(manifest.completed)} bucket(s) committed against "
                "the old reference — restaging now would mix verdicts "
                "from two references; rerun with the original ref/buckets "
                "or use a fresh out_dir")
        reusable = (
            checkpoint.fs_exists(spark, os.path.join(ref_staging, "_SUCCESS"))
            and prior_ref == ref_meta)
        if not reusable:
            checkpoint.stage_by_bucket(transcripts_ref, "clip_id",
                                       num_buckets, ref_staging)
            manifest.record_option("ref_staging", ref_meta)

    def _ref_bucket(bucket: int) -> DataFrame | None:
        if ref_staging is None:
            return None if transcripts_ref is None else transcripts_ref
        p = os.path.join(ref_staging, f"_bucket={bucket}")
        if checkpoint.fs_exists(spark, p):
            return spark.read.schema(ref_schema).parquet(p)
        return spark.createDataFrame([], ref_schema)

    def process(bucket_df: DataFrame, bucket: int) -> dict:
        # Metrics ride the writes as Observation nodes (CollectMetrics in
        # the plan): zero extra jobs. The round-2 version cached the whole
        # bucket, ran a count job, and re-read the written violations just
        # to count them — 3 extra passes per bucket (VERDICT r02 #1).
        obs_viol = Observation(f"viol_{bucket}")
        obs_rows = Observation(f"rows_{bucket}")
        # data_df: the original table shape — the staged lineage column
        # must not leak into the profile (it is not a data column) or the
        # clean split (consumers expect the input schema)
        data_df = (bucket_df.drop(checkpoint.SOURCE_FILE_COL) if file_lineage
                   else bucket_df)
        viols = plan.violations(bucket_df, "clip_id",
                                file_lineage=file_lineage)
        if check_audio:
            # audio violations carry no source_file column; with lineage
            # on, unionByName fills it NULL (key-attributed provenance
            # still reaches them via row_key -> staged _src_file)
            viols = viols.unionByName(
                audio_fn.audio_violations(data_df,
                                          ref_transcripts=_ref_bucket(bucket)),
                allowMissingColumns=file_lineage)
        viols = viols.observe(obs_viol, F.count(F.lit(1)).alias("n"))
        vpath = os.path.join(out_dir, "violations", f"bucket={bucket}")
        viols.write.mode("overwrite").parquet(vpath)
        if emit_digest:
            # triage artifact, computed from the violations JUST written
            # (violations-sized read-back, not a plan recompute); rides
            # the same per-bucket transaction as the violations
            from json_skema_spark.plans.verdict import violation_digest
            violation_digest(spark.read.parquet(vpath), per_keyword=10) \
                .write.mode("overwrite").parquet(
                    os.path.join(out_dir, "digest", f"bucket={bucket}"))
        # MERGEABLE per-bucket profile parts (counts + min/max + HLL
        # sketches): the post-loop drift step merges these instead of
        # re-scanning the table — the global profile costs buckets x
        # columns rows, not a second full pass
        prof = stats.mergeable_profile(
            data_df.observe(obs_rows, F.count(F.lit(1)).alias("n")))
        # bucket id rides the directory name (partition discovery on read)
        prof.write.mode("overwrite") \
            .parquet(os.path.join(out_dir, "profile", f"bucket={bucket}"))
        metrics = {"rows": obs_rows.get["n"], "violations": obs_viol.get["n"]}
        if emit_clean:
            # quarantine split: schema verdict filters in-scan; audio (and
            # any other key-attributed) violations anti-join by key from
            # the violations just written. Null-key rows cannot anti-join,
            # so they are excluded outright: under the default schema they
            # fail `required` anyway, and under a custom schema that does
            # not require clip_id a null-keyed row's violations cannot be
            # attributed back to it — "clean" must mean provably
            # violation-free (review r04).
            # Duplicate clip_ids hash to the SAME bucket (staging is
            # bucketed by key), so the uniqueness check folds in here as a
            # bucket-local exclusion — every copy of a duplicated key is
            # quarantined, consistent with violations_unique. Implemented
            # as the duplicate-key hash agg + anti-join, NOT a
            # Window.partitionBy(clip_id) count: the window shuffled the
            # bucket's FULL rows (audio payload included) on the key and
            # serialized a hyper-duplicated key onto one task; the agg
            # shuffles only (key, count) partials and the anti-join's dup
            # side is broadcast-sized (VERDICT r04 residual nit #2).
            # Referential orphans are NOT excluded (transcripts_ref is not
            # co-bucketed; see the post-loop violations_ref report).
            from json_skema_spark.operators.uniqueness import duplicate_keys
            obs_clean = Observation(f"clean_{bucket}")
            vkeys = (spark.read.parquet(vpath)
                     .select(F.col("row_key").alias("clip_id"))
                     .filter(F.col("clip_id").isNotNull()).distinct())
            dup_ids = duplicate_keys(data_df, "clip_id") \
                .select(F.col("key").alias("clip_id"))
            clean = (data_df.filter(plan.passed
                                    & F.col("clip_id").isNotNull())
                     .join(dup_ids, "clip_id", "left_anti")
                     .join(vkeys, "clip_id", "left_anti")
                     .observe(obs_clean, F.count(F.lit(1)).alias("n")))
            clean.write.mode("overwrite").parquet(
                os.path.join(out_dir, "clean", f"bucket={bucket}"))
            metrics["clean_rows"] = obs_clean.get["n"]
        return metrics

    staging_dir = os.path.join(out_dir, "_staging")
    metrics = checkpoint.run_resumable(
        clips, "clip_id", num_buckets, manifest, process,
        staging_dir=staging_dir, capture_source_file=file_lineage)

    # global (cross-bucket) checks, under the SAME manifest transaction
    # semantics as buckets (VERDICT r03 #2): the manifest entry is the
    # commit marker — a crash mid-global-phase restarts ONLY the missing
    # steps, and partially-written output is never mistaken for complete.
    # Keys come from the STAGED copy (parquet column pruning reads the
    # clip_id column only), so a resumed run never touches the source.
    def _staged_keys() -> DataFrame:
        s = manifest.staging_dir
        if not checkpoint.fs_exists(spark, s):
            # same refusal run_resumable makes for buckets: a live-source
            # fallback would silently compute the global checks from a
            # table that may have been appended to since staging —
            # diverging from the per-bucket outputs with no error
            raise FileNotFoundError(
                f"staging dir {s!r} vanished before the global phase — "
                "refusing to fall back to the live source (its content "
                "may have drifted from the staged snapshot the buckets "
                "validated); delete the manifest to restage")
        # explicit schema: a staging of an EMPTY input holds no data file,
        # and schema inference over it fails (UNABLE_TO_INFER_SCHEMA)
        return spark.read.schema(T.StructType([clips.schema["clip_id"]])) \
            .parquet(s).select("clip_id")

    # global steps skip on resume only when their INPUT is unchanged: the
    # uniqueness input (staged keys) is immutable, but the ref table /
    # baseline profile are caller-supplied — a re-run with an updated ref
    # must recompute, not silently return the old run's orphan report
    def _global_fresh(step: str, fingerprint: str | None) -> bool:
        if not manifest.is_global_done(step):
            return False
        rec = manifest.global_metrics(step) or {}
        return rec.get("fingerprint") == fingerprint

    if not manifest.is_global_done("unique"):
        dup = uniqueness.uniqueness_violations(_staged_keys(), "clip_id")
        dup.write.mode("overwrite").parquet(
            os.path.join(out_dir, "violations_unique"))
        manifest.mark_global_done("unique")
    if transcripts_ref is not None:
        # reuse the staging-guard fingerprint when it was computed: for a
        # non-file reference each computation is a full content-hash scan
        # (review r05c). ASSUMPTION (ADVICE r05): the reference table is
        # immutable for the duration of the run — if a live reference
        # changes between staging and this step, violations_ref reflects
        # the new content while the recorded guard fingerprint describes
        # the staged-time content; the mismatch self-heals on the next run
        # (the guard recomputes and sees fresh content). Callers with
        # mutable references should snapshot them before validate_table.
        fp = (ref_meta["fingerprint"]
              if check_audio and transcripts_ref is not None
              else _ref_fingerprint(transcripts_ref))
        if not _global_fresh("ref", fp):
            orph = referential.referential_violations(
                _staged_keys(), transcripts_ref, "clip_id")
            orph.write.mode("overwrite").parquet(
                os.path.join(out_dir, "violations_ref"))
            manifest.mark_global_done("ref", {"fingerprint": fp})
    if baseline_profile is not None:
        fp = _ref_fingerprint(baseline_profile)
        if not _global_fresh("drift", fp):
            # merge the per-bucket parts written above: zero additional
            # input scans (round-2 design re-profiled the whole table here)
            # mergeSchema: parts written by an older code version may lack
            # newer profile columns (min_int/max_int) — without this Spark
            # samples ONE file for the schema and may silently drop them
            # (ADVICE r04); merge_profiles nulls whatever is still missing
            # read ONLY the buckets THIS manifest committed: a restage
            # with fewer buckets leaves the old run's bucket=K dirs in
            # place, and a wholesale profile/* read would merge stale
            # parts into the drift input (n_rows inflated, wrong null
            # fractions) under a valid fingerprint (review r05c)
            part_paths = [
                os.path.join(out_dir, "profile", f"bucket={b}")
                for b in sorted(manifest.completed, key=int)
                if checkpoint.fs_exists(
                    spark, os.path.join(out_dir, "profile", f"bucket={b}"))]
            if not part_paths:
                raise ValueError(
                    "drift step found no committed profile parts under "
                    f"{out_dir}/profile — cannot compute drift")
            parts = (spark.read.option("mergeSchema", "true")
                     .parquet(*part_paths))
            cur = stats.merge_profiles(parts)
            drift_report(cur, baseline_profile).write.mode("overwrite") \
                .parquet(os.path.join(out_dir, "drift"))
            manifest.mark_global_done("drift", {"fingerprint": fp})
    return metrics


def revalidate_table(spark: SparkSession, clips: DataFrame, out_dir: str, *,
                     old_schema_doc: Any, new_schema_doc: Any,
                     **kwargs) -> dict:
    """Schema-evolution fast path: the table already passed
    ``old_schema_doc``; ``new_schema_doc`` is deploying.

    - Pure widening: NOTHING is re-validated — at 10^12 rows this turns a
      full pass into a driver-side document diff.
    - Otherwise: run the pipeline against ``delta_schema(old, new)`` — the
      minimal document equivalent to v2 on v1-valid rows (plans/compat.py),
      so the scan reads only the columns the narrowed keywords touch and
      evaluates a fraction of the predicates.

    ``kwargs`` pass through to ``validate_table`` (buckets, audio checks —
    note the audio invariant is schema-independent, so ``check_audio``
    defaults off here; re-enable it only if the invariant itself changed).
    """
    import hashlib

    from json_skema_spark.plans.compat import delta_schema
    delta = delta_schema(old_schema_doc, new_schema_doc)
    if delta is None:
        return {"revalidation": "skipped", "reason": "backward-compatible"}
    kwargs.setdefault("check_audio", False)
    # namespace the delta run by a fingerprint of the delta document: the
    # natural CLI flow reuses the v1 run's --out, whose manifest already
    # marks every bucket done — writing there would skip ALL delta work
    # and report success. Distinct deltas get distinct manifests; re-runs
    # of the SAME delta resume each other (that is the desired semantics).
    fp = hashlib.md5(json.dumps(delta, sort_keys=True).encode()).hexdigest()[:12]
    delta_out = os.path.join(out_dir, f"revalidate_{fp}")
    metrics = validate_table(spark, clips, delta_out, schema_doc=delta,
                             **kwargs)
    return {"revalidation": "delta", "delta_schema": delta,
            "out_dir": delta_out, "metrics": metrics}


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True, help="clips parquet/iceberg path")
    p.add_argument("--out", required=True)
    p.add_argument("--schema", help="path to a JSON schema document")
    p.add_argument("--previous-schema", help="schema the table already "
                   "passed: validate only the evolution delta (or skip "
                   "entirely when the change is backward-compatible)")
    p.add_argument("--transcripts-ref", help="reference transcripts parquet")
    p.add_argument("--baseline-profile", help="baseline profile parquet")
    p.add_argument("--buckets", type=int, default=64)
    audio_grp = p.add_mutually_exclusive_group()
    audio_grp.add_argument("--no-audio", action="store_true")
    audio_grp.add_argument("--audio", action="store_true",
                           help="force audio invariant checks ON for the "
                                "--previous-schema (revalidate) path, which "
                                "defaults them off (the audio invariant is "
                                "schema-independent)")
    p.add_argument("--emit-clean", action="store_true",
                   help="also materialize passing rows under clean/bucket=*")
    p.add_argument("--emit-digest", action="store_true",
                   help="also write a per-bucket violation triage digest")
    p.add_argument("--file-lineage", action="store_true",
                   help="violation rows cite the original input file "
                        "(source_file column), surviving staged resume")
    p.add_argument("--format", default="parquet",
                   help="input source format: parquet (default) or iceberg "
                        "(requires the Iceberg runtime jars + catalog conf "
                        "on the cluster; --input is then a table name)")
    args = p.parse_args()

    spark = SparkSession.builder.appName("json_skema_spark_validate").getOrCreate()
    from json_skema_spark.sources.tables import read_table
    clips = read_table(spark, args.input, format=args.format)
    schema_doc = None
    if args.schema:
        with open(args.schema) as f:
            schema_doc = json.load(f)
    tref = spark.read.parquet(args.transcripts_ref) if args.transcripts_ref else None
    base = spark.read.parquet(args.baseline_profile) if args.baseline_profile else None
    if args.previous_schema:
        with open(args.previous_schema) as f:
            old_doc = json.load(f)
        reval_audio = {}
        if args.audio:
            reval_audio["check_audio"] = True  # overrides the off-default
        result = revalidate_table(
            spark, clips, args.out, old_schema_doc=old_doc,
            new_schema_doc=(CLIPS_SCHEMA_DOC if schema_doc is None
                            else schema_doc),
            transcripts_ref=tref, baseline_profile=base,
            num_buckets=args.buckets, emit_clean=args.emit_clean,
            emit_digest=args.emit_digest, file_lineage=args.file_lineage,
            **reval_audio)
        print(json.dumps({k: v for k, v in result.items()
                          if k != "metrics"}))
        return
    metrics = validate_table(spark, clips, args.out, schema_doc=schema_doc,
                             transcripts_ref=tref, baseline_profile=base,
                             num_buckets=args.buckets,
                             check_audio=not args.no_audio,
                             emit_clean=args.emit_clean,
                             emit_digest=args.emit_digest,
                             file_lineage=args.file_lineage)
    total = {"rows": sum(m.get("rows", 0) for m in metrics.values()),
             "violations": sum(m.get("violations", 0) for m in metrics.values()),
             "buckets": len(metrics)}
    print(json.dumps(total))


if __name__ == "__main__":
    main()
