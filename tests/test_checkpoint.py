"""Checkpointed resume (operators/checkpoint.py): what the manifest pins
about the staging and the bucket outputs, the refusals a resume gets from
those pins, and a resume after a crash at every manifest write."""

import itertools
import json
import os
import re

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from json_skema_spark.operators import checkpoint
from json_skema_spark.operators.stats import profile
from json_skema_spark.runner import validate_table
from json_skema_spark.sources import clips as clips_src


def _mtime_tree(path):
    return {os.path.join(root, f): os.path.getmtime(os.path.join(root, f))
            for root, _dirs, files in os.walk(path) for f in files}


def _crash(bucket_df, bucket_id):
    raise RuntimeError("simulated crash")


def _pre_pin_layout(manifest, completed, options=None):
    """The manifest as the code before ``PartitionManifest.pin`` wrote it:
    a ``staged`` flag and loose identity keys, with no ``pins``."""
    return {"completed": completed, "staged": True,
            "staging_dir": manifest.staging_dir, "num_buckets": 2,
            "key": "clip_id", "options": options or {"lineage": False}}


def _stage_then_crash(df, mdir):
    with pytest.raises(RuntimeError, match="simulated crash"):
        checkpoint.run_resumable(df, "clip_id", 2,
                                 checkpoint.PartitionManifest(mdir), _crash)


def test_resume_without_recorded_schema_refused(spark, tmp_path):
    """A manifest written before the staging was pinned (the earlier
    layout: ``staged``, ``num_buckets``, ``key``, ``options``, no schema)
    cannot be checked against this invocation's source: the resume
    refuses and points at the restage instead of reading the staging
    unchecked."""
    df = spark.createDataFrame([(f"c{i}", i) for i in range(10)],
                               "clip_id string, v int")
    mdir = str(tmp_path / "m")
    _stage_then_crash(df, mdir)
    m = checkpoint.PartitionManifest(mdir)
    open(m.path, "w").write(json.dumps(_pre_pin_layout(m, {})))
    with pytest.raises(ValueError, match="delete the manifest to restage"):
        checkpoint.run_resumable(df, "clip_id", 2,
                                 checkpoint.PartitionManifest(mdir),
                                 lambda b, i: {})


def test_schema_guard_holds_over_an_empty_staging(spark, tmp_path):
    """A 0-row input stages no data file at all; the resume still refuses
    a source that gained a column, and the same source resumes clean."""
    df = spark.createDataFrame([], "clip_id string, v int")
    mdir = str(tmp_path / "m")
    _stage_then_crash(df, mdir)
    with pytest.raises(ValueError, match="schema: requested "
                       "'struct<clip_id:string,v:int,lang:string>'"):
        checkpoint.run_resumable(df.withColumn("lang", F.lit("en")),
                                 "clip_id", 2,
                                 checkpoint.PartitionManifest(mdir),
                                 lambda b, i: {})
    metrics = checkpoint.run_resumable(df, "clip_id", 2,
                                       checkpoint.PartitionManifest(mdir),
                                       lambda b, i: {"rows": b.count()})
    assert {k: m["rows"] for k, m in metrics.items()} == {"0": 0, "1": 0}


def test_nullability_only_difference_resumes(spark, tmp_path):
    """Staged from an in-memory frame, resumed from its parquet copy: the
    two schemas differ only in nullability, which the explicit-schema
    bucket read tolerates — not a schema drift."""
    strict = T.StructType([T.StructField("clip_id", T.StringType(), False),
                           T.StructField("v", T.IntegerType(), False)])
    df = spark.createDataFrame([(f"c{i}", i) for i in range(10)], strict)
    mdir = str(tmp_path / "m")
    _stage_then_crash(df, mdir)
    src = str(tmp_path / "copy")
    df.write.parquet(src)
    copy = spark.read.parquet(src)
    assert copy.schema != df.schema
    metrics = checkpoint.run_resumable(copy, "clip_id", 2,
                                       checkpoint.PartitionManifest(mdir),
                                       lambda b, i: {"rows": b.count()})
    assert sum(m["rows"] for m in metrics.values()) == 10


# ------------------------------------------------------ resume identity

def _refusal(field, requested, recorded):
    return re.escape(f"{field}: requested {requested!r}, recorded "
                     f"{recorded!r}")


def _crash_at_commit(mp, n):
    """The n-th bucket commit of the runs that follow raises: its outputs
    are written, its manifest entry is not."""
    real = checkpoint.PartitionManifest.mark_done
    calls = itertools.count(1)

    def mark_done(self, bucket, metrics):
        if next(calls) == n:
            raise RuntimeError("simulated crash")
        real(self, bucket, metrics)

    mp.setattr(checkpoint.PartitionManifest, "mark_done", mark_done)


def _tiny_clips(spark):
    return spark.createDataFrame([(f"c{i}", float(i)) for i in range(20)],
                                 "clip_id string, price double")


_TINY = dict(num_buckets=2, check_audio=False,
             schema_doc={"properties": {"price": {"maximum": 5.0}}})

_PINNED = {
    "staging": {"key": "clip_id", "num_buckets": 2,
                "capture_source_file": False,
                "schema": "struct<clip_id:string,v:int>"},
    "outputs": {"schema_doc": "0" * 32, "emit_clean": False,
                "emit_digest": False, "check_audio": False,
                "transcripts_ref": None},
}
_CHANGED = {"key": "v", "num_buckets": 3, "capture_source_file": True,
            "schema": "struct<clip_id:string>", "schema_doc": "f" * 32,
            "emit_clean": True, "emit_digest": True, "check_audio": True,
            "transcripts_ref": "a" * 32}


def _via_pin(spark, tmp_path, monkeypatch, section, field):
    """Before the section's output exists a change is re-recorded; once
    it binds, the recorded value wins and the change is refused."""
    pinned = _PINNED[section]
    changed = {**pinned, field: _CHANGED[field]}
    mdir = str(tmp_path / "m")
    m = checkpoint.PartitionManifest(mdir)
    m.pin(section, pinned, binding=False)
    m.pin(section, changed, binding=False)
    fresh = checkpoint.PartitionManifest(mdir)
    fresh.pin(section, changed, binding=True)
    with pytest.raises(ValueError, match=_refusal(field, pinned[field],
                                                  _CHANGED[field])):
        fresh.pin(section, pinned, binding=True)


def _staging_via_run_resumable(spark, tmp_path, monkeypatch, section, field):
    """The staging binds as soon as it committed, with no bucket done. A
    source that dropped a column is refused too (a by-name check of the
    source's columns let it through)."""
    df = spark.createDataFrame([(f"c{i}", i) for i in range(10)],
                               "clip_id string, v int")
    mdir = str(tmp_path / "m")
    _stage_then_crash(df, mdir)
    assert checkpoint.PartitionManifest(mdir).completed == {}
    with pytest.raises(ValueError, match=_refusal(
            "schema", "struct<clip_id:string>",
            "struct<clip_id:string,v:int>")):
        checkpoint.run_resumable(df.drop("v"), "clip_id", 2,
                                 checkpoint.PartitionManifest(mdir),
                                 lambda b, i: {})


def _outputs_via_validate_table(spark, tmp_path, monkeypatch, section,
                                field):
    """emit_digest may change while no bucket has committed (the next run
    re-records it); after one committed bucket it is refused."""
    clips, out = _tiny_clips(spark), str(tmp_path / "out")
    with monkeypatch.context() as mp:
        _crash_at_commit(mp, 1)                  # no bucket committed
        with pytest.raises(RuntimeError, match="simulated crash"):
            validate_table(spark, clips, out, emit_digest=False, **_TINY)
    with monkeypatch.context() as mp:
        _crash_at_commit(mp, 2)                  # bucket 0 committed
        with pytest.raises(RuntimeError, match="simulated crash"):
            validate_table(spark, clips, out, emit_digest=True, **_TINY)
    with pytest.raises(ValueError, match=_refusal(field, False, True)):
        validate_table(spark, clips, out, emit_digest=False, **_TINY)
    assert set(validate_table(spark, clips, out, emit_digest=True,
                              **_TINY)) == {"0", "1"}
    for b in (0, 1):
        assert os.path.exists(os.path.join(out, "digest", f"bucket={b}",
                                           "_SUCCESS"))


def _pre_pin_layout_via_validate_table(spark, tmp_path, monkeypatch,
                                      section, field):
    """A manifest in the earlier layout with one committed bucket records
    no pins: the resume is refused with the restage hint, and neither the
    staging nor the manifest is written over."""
    clips, out = _tiny_clips(spark), str(tmp_path / "out")
    validate_table(spark, clips, out, **_TINY)
    m = checkpoint.PartitionManifest(os.path.join(out, "_manifest"))
    body = json.dumps(_pre_pin_layout(
        m, {"0": m.completed["0"]},
        {"schema_fp": "0" * 32, "emit_clean": False, "emit_digest": False,
         "check_audio": False, "audio_has_ref": False, "lineage": False}))
    open(m.path, "w").write(body)
    staging = _mtime_tree(m.staging_dir)
    with pytest.raises(ValueError, match="delete the manifest to restage"):
        validate_table(spark, clips, out, **_TINY)
    assert _mtime_tree(m.staging_dir) == staging
    assert open(m.path).read() == body


_DRIVEN = {("staging", "schema"): _staging_via_run_resumable,
           ("outputs", "emit_digest"): _outputs_via_validate_table,
           ("pre_pin_layout", None): _pre_pin_layout_via_validate_table}


@pytest.mark.parametrize(
    "section,field",
    [(s, f) for s in _PINNED for f in _PINNED[s]] + [("pre_pin_layout", None)],
    ids=lambda v: str(v))
def test_resume_identity_matrix(spark, tmp_path, monkeypatch, section,
                                field):
    """Every field of both pinned records refuses a resume that changes
    it, naming the field with its requested and recorded values. One
    field per section runs through the real caller, which sets when the
    record binds; the rest call ``pin`` directly."""
    _DRIVEN.get((section, field), _via_pin)(spark, tmp_path, monkeypatch,
                                             section, field)


# ------------------------------------------------ crash at every write

_SWEPT = ("violations", "profile", "violations_unique", "violations_ref",
          "drift", "clean", "digest")


def _digests(spark, out):
    """Row count and order-free xxhash64 sum of every output table."""
    got = {}
    for name in _SWEPT:
        df = spark.read.parquet(os.path.join(out, name))
        got[name] = tuple(df.select(
            F.count(F.lit(1)),
            F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)"))).first())
    return got


def test_crash_at_every_manifest_write_resumes_to_the_same_outputs(
        spark, tmp_path, monkeypatch):
    """Kill a 2-bucket run with every output on at each manifest write in
    turn, resume it, and compare every output table with an uninterrupted
    run."""
    def parquet(df, name):  # file sources fingerprint without a scan
        df.write.parquet(str(tmp_path / name))
        return spark.read.parquet(str(tmp_path / name))

    some = F.xxhash64("clip_id") % 5 == 0
    clips = clips_src.clips_df(spark, 40, audio=True, inject=True)
    clips = parquet(clips.unionByName(clips.filter(some)),  # duplicates
                    "clips")
    orphans = clips_src.transcripts_ref_df(spark, 40).filter(~some)
    kw = dict(num_buckets=2, check_audio=True, emit_clean=True,
              emit_digest=True, transcripts_ref=parquet(orphans, "ref"),
              baseline_profile=parquet(profile(
                  clips_src.clips_df(spark, 20, audio=False, inject=False)
                  .select("clip_id", "sr_hz", "dur_ms", "codec")), "base"))
    real = checkpoint.PartitionManifest._flush
    writes = itertools.count(1)

    def counting(self):
        next(writes)
        real(self)

    with monkeypatch.context() as mp:
        mp.setattr(checkpoint.PartitionManifest, "_flush", counting)
        validate_table(spark, clips, str(tmp_path / "whole"), **kw)
    n_writes = next(writes) - 1
    # two pins, the staging commit, two buckets, three global steps
    assert n_writes == 8
    want = _digests(spark, str(tmp_path / "whole"))
    assert all(n for n, _ in want.values()), want

    for k in range(1, n_writes + 1):
        out = str(tmp_path / f"crash_{k}")
        calls = itertools.count(1)

        def crash_at_k(self):
            if next(calls) == k:
                raise RuntimeError(f"simulated crash at manifest write {k}")
            real(self)

        with monkeypatch.context() as mp:
            mp.setattr(checkpoint.PartitionManifest, "_flush", crash_at_k)
            with pytest.raises(RuntimeError, match="simulated crash"):
                validate_table(spark, clips, out, **kw)
        validate_table(spark, clips, out, **kw)
        assert _digests(spark, out) == want, k
