"""Round-4 production-path hardening: global phase under the manifest,
source-file lineage through staging, resume-option guards, per-bucket
digest, Iceberg format dispatch (VERDICT r03 #2-#4, #6, #8 + ADVICE r03)."""

import json
import os

import pytest
from pyspark.sql import functions as F

from json_skema_spark.operators import checkpoint
from json_skema_spark.runner import validate_table
from json_skema_spark.sources import clips as clips_src


def _mtime_tree(path):
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            out[p] = os.path.getmtime(p)
    return out


# ---------------------------------------------------------------- lineage

def test_violations_cite_original_files_not_staging(spark, tmp_path):
    """file_lineage=True: violation rows carry source_file pointing at the
    ORIGINAL input parquet even though bucket jobs read the staged copy
    (whose _metadata.file_path cites _staging)."""
    src = str(tmp_path / "orig_input")
    clips_src.clips_df(spark, 120, audio=False, inject=True) \
        .write.parquet(src)
    clips = spark.read.parquet(src)
    out = str(tmp_path / "out")
    validate_table(spark, clips, out, num_buckets=3, check_audio=False,
                   file_lineage=True)
    viols = spark.read.parquet(os.path.join(out, "violations", "bucket=*"))
    assert "source_file" in viols.columns
    srcs = [r.source_file for r in
            viols.select("source_file").distinct().collect()]
    assert srcs, "expected injected violations"
    assert all("orig_input" in s for s in srcs), srcs
    assert not any("_staging" in s for s in srcs), srcs


def test_lineage_column_stays_out_of_profile_and_clean(spark, tmp_path):
    src = str(tmp_path / "orig_input")
    clips_src.clips_df(spark, 60, audio=False, inject=True).write.parquet(src)
    clips = spark.read.parquet(src)
    out = str(tmp_path / "out")
    validate_table(spark, clips, out, num_buckets=2, check_audio=False,
                   file_lineage=True, emit_clean=True)
    prof = spark.read.parquet(os.path.join(out, "profile", "bucket=*"))
    cols_profiled = {r.column_name for r in
                     prof.select("column_name").distinct().collect()}
    assert "_src_file" not in cols_profiled
    clean = spark.read.parquet(os.path.join(out, "clean", "bucket=*"))
    assert "_src_file" not in clean.columns
    assert set(clean.columns) == set(clips.columns)


def test_with_source_file_rejects_non_file_source(spark):
    df = spark.createDataFrame([("a",)], "clip_id string")
    with pytest.raises(ValueError, match="file-based"):
        checkpoint.with_source_file(df)


def test_stage_by_bucket_rejects_existing_bucket_column(spark, tmp_path):
    df = spark.createDataFrame([("a", 1)], "clip_id string, _bucket int")
    with pytest.raises(ValueError, match="_bucket"):
        checkpoint.stage_by_bucket(df, "clip_id", 2, str(tmp_path / "s"))


# ----------------------------------------------------- global-phase manifest

def test_global_phase_resumes_without_redoing_buckets(spark, tmp_path,
                                                      monkeypatch):
    """Kill the run between the bucket loop and the global phase: restart
    must skip every committed bucket and complete ONLY the missing global
    steps; a partial global output is never treated as complete."""
    out = str(tmp_path / "out")
    clips = clips_src.clips_df(spark, 100, audio=False, inject=True).cache()

    from json_skema_spark.operators import uniqueness as uniq_mod

    real = uniq_mod.uniqueness_violations

    def boom(*a, **k):
        raise RuntimeError("injected crash before global phase")

    monkeypatch.setattr("json_skema_spark.runner.uniqueness.uniqueness_violations",
                        boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        validate_table(spark, clips, out, num_buckets=3, check_audio=False)

    m = json.loads(open(os.path.join(out, "_manifest", "manifest.json")).read())
    assert set(m["completed"]) == {"0", "1", "2"}  # buckets committed
    assert "unique" not in m.get("global", {})     # global NOT committed
    assert not os.path.exists(os.path.join(out, "violations_unique"))

    # restart: buckets untouched (no file rewritten), global completes
    before = _mtime_tree(os.path.join(out, "violations"))
    monkeypatch.setattr(
        "json_skema_spark.runner.uniqueness.uniqueness_violations", real)
    validate_table(spark, clips, out, num_buckets=3, check_audio=False)
    assert _mtime_tree(os.path.join(out, "violations")) == before
    m2 = json.loads(open(os.path.join(out, "_manifest", "manifest.json")).read())
    assert "unique" in m2["global"]
    assert os.path.exists(os.path.join(out, "violations_unique", "_SUCCESS"))

    # a third run redoes nothing at all (globals also committed)
    before_u = _mtime_tree(os.path.join(out, "violations_unique"))
    validate_table(spark, clips, out, num_buckets=3, check_audio=False)
    assert _mtime_tree(os.path.join(out, "violations_unique")) == before_u
    clips.unpersist()


def test_global_unique_reads_staged_copy_not_source(spark, tmp_path):
    """The uniqueness pass must work even when the original source is gone
    after staging — proof it reads the staged copy on resume."""
    src = str(tmp_path / "orig_input")
    dup = clips_src.clips_df(spark, 40, audio=False, inject=False)
    one = dup.limit(1)
    dup.unionByName(one).write.parquet(src)  # one duplicated clip_id
    clips = spark.read.parquet(src)
    out = str(tmp_path / "out")
    validate_table(spark, clips, out, num_buckets=2, check_audio=False)
    uv = spark.read.parquet(os.path.join(out, "violations_unique"))
    assert uv.count() == 1
    assert uv.first().keyword == "uniqueItems"


# -------------------------------------------------------- resume-option guards

def test_emit_clean_flip_on_resume_raises(spark, tmp_path):
    out = str(tmp_path / "out")
    clips = clips_src.clips_df(spark, 50, audio=False, inject=True).cache()
    validate_table(spark, clips, out, num_buckets=2, check_audio=False)
    with pytest.raises(ValueError, match="emit_clean"):
        validate_table(spark, clips, out, num_buckets=2, check_audio=False,
                       emit_clean=True)
    clips.unpersist()


def test_ref_staging_guard_restages_on_unrecorded_success(spark, tmp_path):
    """_SUCCESS alone no longer proves the ref staging is reusable: with no
    manifest record (crash before recording) the ref is restaged."""
    from json_skema_spark.sources.clips import transcripts_ref_df
    out = str(tmp_path / "out")
    clips = clips_src.clips_df(spark, 40, audio=True, inject=False).cache()
    ref = transcripts_ref_df(spark, 40)
    validate_table(spark, clips, out, num_buckets=2, check_audio=True,
                   transcripts_ref=ref)
    mpath = os.path.join(out, "_manifest", "manifest.json")
    m = json.loads(open(mpath).read())
    assert m["options"]["ref_staging"]["num_buckets"] == 2
    # simulate the ADVICE crash: _SUCCESS exists, manifest record missing
    # AND buckets not yet committed
    del m["options"]["ref_staging"]
    m["completed"] = {}
    open(mpath, "w").write(json.dumps(m))
    before = _mtime_tree(os.path.join(out, "_staging_ref"))
    validate_table(spark, clips, out, num_buckets=2, check_audio=True,
                   transcripts_ref=ref)
    assert _mtime_tree(os.path.join(out, "_staging_ref")) != before
    clips.unpersist()


def test_ref_change_after_committed_buckets_raises(spark, tmp_path):
    from json_skema_spark.sources.clips import transcripts_ref_df
    out = str(tmp_path / "out")
    clips = clips_src.clips_df(spark, 40, audio=True, inject=False).cache()
    ref_src = str(tmp_path / "refA")
    transcripts_ref_df(spark, 40).write.parquet(ref_src)
    validate_table(spark, clips, out, num_buckets=2, check_audio=True,
                   transcripts_ref=spark.read.parquet(ref_src))
    # a DIFFERENT ref source (different file fingerprint) on resume
    ref_src2 = str(tmp_path / "refB")
    transcripts_ref_df(spark, 40).write.parquet(ref_src2)
    with pytest.raises(ValueError, match="DIFFERENT transcript reference"):
        validate_table(spark, clips, out, num_buckets=2, check_audio=True,
                       transcripts_ref=spark.read.parquet(ref_src2))
    clips.unpersist()


# ------------------------------------------------------------------ digest

def test_emit_digest_rides_bucket_transaction(spark, tmp_path):
    out = str(tmp_path / "out")
    clips = clips_src.clips_df(spark, 120, audio=False, inject=True).cache()
    validate_table(spark, clips, out, num_buckets=3, check_audio=False,
                   emit_digest=True)
    dg = spark.read.parquet(os.path.join(out, "digest", "bucket=*"))
    viols = spark.read.parquet(os.path.join(out, "violations", "bucket=*"))
    # exact counts: digest n_violations per keyword_location sums (over
    # buckets) to the violations table's counts
    got = {r.keyword_location: r.total for r in
           dg.groupBy("keyword_location")
             .agg(F.sum("n_violations").alias("total")).collect()}
    want = {r.keyword_location: r.total for r in
            viols.groupBy("keyword_location")
                 .agg(F.count("*").alias("total")).collect()}
    assert got == want and got
    # example_keys bounded and present
    assert all(0 < len(r.example_keys) <= 10 for r in dg.collect())
    clips.unpersist()


# ---------------------------------------------------------- iceberg dispatch

def test_read_table_dispatch(spark, tmp_path):
    from json_skema_spark.sources.tables import read_table
    p = str(tmp_path / "t")
    spark.createDataFrame([(1,)], "a int").write.parquet(p)
    assert read_table(spark, p).count() == 1
    with pytest.raises(RuntimeError, match="[Ii]ceberg"):
        read_table(spark, "cat.db.t", format="iceberg")
    with pytest.raises(ValueError, match="unknown format"):
        read_table(spark, p, format="orc2")


# --------------------------------------------- review-pass regressions (r4)

def test_file_lineage_flip_on_resume_raises(spark, tmp_path):
    """Staged files either carry _src_file or not — a lineage flip on
    resume cannot be honored in either direction."""
    src = str(tmp_path / "orig_input")
    clips_src.clips_df(spark, 30, audio=False, inject=True).write.parquet(src)
    clips = spark.read.parquet(src)
    out = str(tmp_path / "out")
    validate_table(spark, clips, out, num_buckets=2, check_audio=False,
                   file_lineage=True)
    with pytest.raises(ValueError, match="file_lineage"):
        validate_table(spark, clips, out, num_buckets=2, check_audio=False,
                       file_lineage=False)
    out2 = str(tmp_path / "out2")
    validate_table(spark, clips, out2, num_buckets=2, check_audio=False)
    with pytest.raises(ValueError, match="file_lineage"):
        validate_table(spark, clips, out2, num_buckets=2, check_audio=False,
                       file_lineage=True)


def test_global_ref_recomputed_when_ref_changes(spark, tmp_path):
    """A finished run re-invoked with an UPDATED transcript reference must
    recompute violations_ref, not skip it as already-done (the global
    manifest entry is fingerprinted by its input)."""
    out = str(tmp_path / "out")
    clips = clips_src.clips_df(spark, 30, audio=False, inject=False).cache()
    ids = [r.clip_id for r in clips.select("clip_id").collect()]
    refA_src = str(tmp_path / "refA")
    refB_src = str(tmp_path / "refB")
    spark.createDataFrame([(i,) for i in ids], "clip_id string") \
        .write.parquet(refA_src)                       # complete: 0 orphans
    spark.createDataFrame([(i,) for i in ids[:-3]], "clip_id string") \
        .write.parquet(refB_src)                       # 3 clips orphaned
    validate_table(spark, clips, out, num_buckets=2, check_audio=False,
                   transcripts_ref=spark.read.parquet(refA_src))
    assert spark.read.parquet(
        os.path.join(out, "violations_ref")).count() == 0
    # same out_dir, updated ref: the ref step must re-run (check_audio off
    # -> no staged-ref guard involved, this is the global-phase path)
    validate_table(spark, clips, out, num_buckets=2, check_audio=False,
                   transcripts_ref=spark.read.parquet(refB_src))
    assert spark.read.parquet(
        os.path.join(out, "violations_ref")).count() == 3
    clips.unpersist()


def test_cli_forwards_digest_and_lineage_to_revalidate(spark, tmp_path,
                                                       monkeypatch):
    """--emit-digest/--file-lineage reach revalidate_table when
    --previous-schema is given (review regression: silently dropped)."""
    import json as _json
    import sys

    from json_skema_spark import runner as runner_mod
    src = str(tmp_path / "in")
    clips_src.clips_df(spark, 10, audio=False, inject=False) \
        .write.parquet(src)
    old_s = tmp_path / "old.json"
    new_s = tmp_path / "new.json"
    old_s.write_text(_json.dumps({"properties": {"dur_ms": {"minimum": 1}}}))
    new_s.write_text(_json.dumps({"properties": {"dur_ms": {"minimum": 5}}}))
    seen = {}

    def fake_reval(spark_, clips_, out_, **kw):
        seen.update(kw)
        return {"revalidation": "delta"}

    monkeypatch.setattr(runner_mod, "revalidate_table", fake_reval)
    monkeypatch.setattr(sys, "argv", [
        "runner.py", "--input", src, "--out", str(tmp_path / "o"),
        "--schema", str(new_s), "--previous-schema", str(old_s),
        "--emit-digest", "--file-lineage", "--no-audio"])
    runner_mod.main()
    assert seen["emit_digest"] is True and seen["file_lineage"] is True


# ------------------------------------------- second review-pass regressions

def test_check_audio_flip_on_resume_raises(spark, tmp_path):
    """Bucket outputs depend on check_audio: a resume flipping it would
    commit remaining buckets under different semantics."""
    out = str(tmp_path / "out")
    clips = clips_src.clips_df(spark, 30, audio=True, inject=False).cache()
    validate_table(spark, clips, out, num_buckets=2, check_audio=True)
    with pytest.raises(ValueError, match="check_audio"):
        validate_table(spark, clips, out, num_buckets=2, check_audio=False)
    clips.unpersist()


def test_audio_ref_presence_flip_on_resume_raises(spark, tmp_path):
    from json_skema_spark.sources.clips import transcripts_ref_df
    out = str(tmp_path / "out")
    clips = clips_src.clips_df(spark, 30, audio=True, inject=False).cache()
    ref = transcripts_ref_df(spark, 30)
    validate_table(spark, clips, out, num_buckets=2, check_audio=True,
                   transcripts_ref=ref)
    with pytest.raises(ValueError, match="audio_has_ref"):
        validate_table(spark, clips, out, num_buckets=2, check_audio=True)
    clips.unpersist()


def test_inmemory_ref_change_detected_by_fingerprint(spark, tmp_path):
    """createDataFrame refs have no inputFiles; the fingerprint must still
    distinguish two different in-memory references (semanticHash)."""
    from json_skema_spark.runner import _ref_fingerprint
    a = spark.createDataFrame([("x", "t1")], "clip_id string, transcript string")
    b = spark.createDataFrame([("x", "t2")], "clip_id string, transcript string")
    a2 = spark.createDataFrame([("x", "t1")], "clip_id string, transcript string")
    assert _ref_fingerprint(a) != _ref_fingerprint(b)
    assert _ref_fingerprint(a) == _ref_fingerprint(a2)  # stable for same data


def test_null_key_row_with_violation_never_lands_in_clean(spark, tmp_path):
    """Custom schema that does NOT require clip_id: a null-keyed row whose
    violations cannot be attributed back to it must not be certified
    clean."""
    out = str(tmp_path / "out")
    df = spark.createDataFrame(
        [("clip_aaaaaaaaaaaa", 5), (None, 5)],
        "clip_id string, dur_ms int")
    schema_doc = {"properties": {"dur_ms": {"minimum": 1}}}  # all rows pass
    validate_table(spark, df, out, num_buckets=1, check_audio=False,
                   schema_doc=schema_doc, emit_clean=True)
    clean = spark.read.parquet(os.path.join(out, "clean", "bucket=*"))
    assert clean.count() == 1
    assert clean.first().clip_id == "clip_aaaaaaaaaaaa"


def test_run_resumable_direct_lineage_mismatch_raises(spark, tmp_path):
    src = str(tmp_path / "src")
    clips_src.clips_df(spark, 20, audio=False, inject=False).write.parquet(src)
    df = spark.read.parquet(src)
    manifest = checkpoint.PartitionManifest(str(tmp_path / "m"))
    checkpoint.run_resumable(df, "clip_id", 2, manifest, lambda b, i: {},
                             staging_dir=str(tmp_path / "s"))
    # delete one completed bucket to force reprocessing on resume
    m = json.loads(open(manifest.path).read())
    del m["completed"]["0"]
    open(manifest.path, "w").write(json.dumps(m))
    m2 = checkpoint.PartitionManifest(str(tmp_path / "m"))
    with pytest.raises(ValueError, match="capture_source_file"):
        checkpoint.run_resumable(df, "clip_id", 2, m2, lambda b, i: {},
                                 staging_dir=str(tmp_path / "s"),
                                 capture_source_file=True)


def test_manifest_on_uri_scheme_filesystem(spark, tmp_path):
    """A scheme-qualified manifest dir routes through the Hadoop FS API
    (file:// here standing in for s3a/hdfs) — os.makedirs on a URI would
    silently create a bogus local relative dir and void every resume
    guard."""
    uri_dir = "file://" + str(tmp_path / "m")
    with pytest.raises(ValueError, match="SparkSession"):
        checkpoint.PartitionManifest(uri_dir)
    man = checkpoint.PartitionManifest(uri_dir, spark)
    man.mark_done(0, {"rows": 7})
    man.record_option("emit_clean", True)
    man.mark_global_done("unique", {"fingerprint": "abc"})
    # no bogus local dir was created
    assert not os.path.exists("file:")
    # a fresh instance (new driver) reads the committed state back
    man2 = checkpoint.PartitionManifest(uri_dir, spark)
    assert man2.is_done(0) and man2.completed["0"]["rows"] == 7
    assert man2.option("emit_clean") is True
    assert man2.global_metrics("unique") == {"fingerprint": "abc"}
    # the file physically exists at the local path the URI names
    assert os.path.exists(str(tmp_path / "m" / "manifest.json"))


def test_cli_audio_flag_reaches_revalidate(spark, tmp_path, monkeypatch):
    import json as _json
    import sys

    from json_skema_spark import runner as runner_mod
    src = str(tmp_path / "in")
    clips_src.clips_df(spark, 10, audio=False, inject=False) \
        .write.parquet(src)
    old_s = tmp_path / "old.json"
    new_s = tmp_path / "new.json"
    old_s.write_text(_json.dumps({"properties": {"dur_ms": {"minimum": 1}}}))
    new_s.write_text(_json.dumps({"properties": {"dur_ms": {"minimum": 5}}}))
    seen = {}

    def fake_reval(spark_, clips_, out_, **kw):
        seen.clear()
        seen.update(kw)
        return {"revalidation": "delta"}

    monkeypatch.setattr(runner_mod, "revalidate_table", fake_reval)
    base_argv = ["runner.py", "--input", src, "--out", str(tmp_path / "o"),
                 "--schema", str(new_s), "--previous-schema", str(old_s)]
    monkeypatch.setattr(sys, "argv", base_argv + ["--audio"])
    runner_mod.main()
    assert seen["check_audio"] is True
    monkeypatch.setattr(sys, "argv", base_argv)
    runner_mod.main()
    assert "check_audio" not in seen  # revalidate default (off) preserved


def test_empty_input_table_runs_and_reruns_clean(spark, tmp_path):
    """A 0-row input stages to a directory holding only _SUCCESS: the
    global phase must read the staged keys without schema inference, and
    a re-run must resume over that empty staging — with every emit flag,
    lineage, a transcript reference and a baseline profile on."""
    from json_skema_spark.operators.stats import profile
    from json_skema_spark.sources.clips import transcripts_ref_df
    src = str(tmp_path / "empty_input")
    clips_src.clips_df(spark, 0, audio=False, inject=False).write.parquet(src)
    clips = spark.read.parquet(src)
    base = profile(clips_src.clips_df(spark, 20, audio=False, inject=False)
                   .select("clip_id", "sr_hz", "dur_ms", "codec",
                           "transcript"))
    out = str(tmp_path / "out")
    kw = dict(num_buckets=4, check_audio=False, emit_clean=True,
              emit_digest=True, file_lineage=True,
              transcripts_ref=transcripts_ref_df(spark, 10, inject=False),
              baseline_profile=base)
    first = validate_table(spark, clips, out, **kw)
    assert set(first) == {"0", "1", "2", "3"}
    assert sum(m["rows"] for m in first.values()) == 0
    assert spark.read.parquet(
        os.path.join(out, "violations_unique")).count() == 0
    assert validate_table(spark, clips, out, **kw) == first
