"""End-to-end streaming runner (VERDICT r04 #6): start, feed micro-batches,
kill, resume from checkpoint, verdicts identical to batch on the same rows."""

import os

import pytest
from pyspark.sql import functions as F

from json_skema_spark import compile_schema
from json_skema_spark.stream_runner import (await_streaming, start_streaming)

DOC = {
    "type": "object",
    "properties": {
        "clip_id": {"type": "string", "pattern": "^clip_"},
        "sr_hz": {"enum": [8000, 16000]},
    },
    "required": ["clip_id"],
}

ROWS_SCHEMA = ("clip_id string, sr_hz int, ts timestamp")


def _batch(spark, rows):
    return spark.createDataFrame(
        [(cid, sr, f"2026-01-01 00:0{m}:00") for cid, sr, m in rows],
        "clip_id string, sr_hz int, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))


def test_stream_runner_resume_matches_batch(spark, tmp_path):
    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    batch1 = [("clip_a", 8000, 1), ("BAD", 99, 1), ("clip_a", 8000, 2)]
    batch2 = [("clip_b", 16000, 3), (None, 8000, 3)]
    _batch(spark, batch1).write.mode("append").parquet(src)

    # -- run 1: drain the first micro-batch, then "kill" (queries stop) ----
    running = start_streaming(
        spark, src, out, schema_doc=DOC, ts_col="ts",
        available_now=True, max_files_per_trigger=1,
        queries=("verdicts", "violations", "dedup"))
    assert set(running) == {"verdicts", "violations", "dedup"}
    await_streaming(running)

    v1 = spark.read.parquet(os.path.join(out, "verdicts"))
    assert v1.count() == 3

    # -- feed more data, run 2: RESUME from the same checkpoints -----------
    _batch(spark, batch2).write.mode("append").parquet(src)
    running = start_streaming(
        spark, src, out, schema_doc=DOC, ts_col="ts",
        available_now=True, max_files_per_trigger=1,
        queries=("verdicts", "violations", "dedup"))
    await_streaming(running)

    verdicts = spark.read.parquet(os.path.join(out, "verdicts"))
    # exactly-once across the kill/resume: 5 rows total, none re-emitted
    assert verdicts.count() == 5

    # -- verdict parity with the batch engine on the same rows -------------
    all_rows = _batch(spark, batch1 + batch2)
    plan = compile_schema(DOC, all_rows.schema)
    batch_verdicts = plan.apply(all_rows, mode="verdict") \
        .groupBy("clip_id", "passed").count()
    stream_verdicts = verdicts.groupBy("clip_id", "passed").count()
    key = lambda t: (t[0] is None, t)  # None clip_id sorts first
    assert sorted(map(tuple, batch_verdicts.collect()), key=key) == \
        sorted(map(tuple, stream_verdicts.collect()), key=key)

    # violations: the BAD row fails pattern, the null row fails required
    viols = spark.read.parquet(os.path.join(out, "violations"))
    keywords = {(r["row_key"], r["keyword"]) for r in viols.collect()}
    assert ("BAD", "pattern") in keywords
    assert any(k == "required" for _rk, k in keywords)

    # dedup: clip_a's second occurrence dropped; null key bypasses
    deduped = spark.read.parquet(os.path.join(out, "deduped"))
    ids = [r["clip_id"] for r in deduped.collect()]
    assert ids.count("clip_a") == 1
    assert ids.count(None) == 1
    assert ids.count("clip_b") == 1


def test_stream_runner_drift_requires_baseline(spark, tmp_path):
    src = str(tmp_path / "in2")
    _batch(spark, [("clip_a", 8000, 1)]).write.parquet(src)
    with pytest.raises(ValueError, match="baseline-profile"):
        start_streaming(spark, src, str(tmp_path / "o2"), schema_doc=DOC,
                        queries=("drift",))


def test_stream_runner_drift_query_emits(spark, tmp_path):
    from json_skema_spark.operators import stats
    src = str(tmp_path / "in3")
    out = str(tmp_path / "out3")
    # two windows of data so the watermark closes the first
    rows = [(f"clip_{i}", 8000, 1) for i in range(20)] + \
           [("clip_x", 8000, 9)]
    _batch(spark, rows).write.parquet(src)
    baseline = stats.profile(_batch(spark, rows), ["clip_id", "sr_hz"])

    running = start_streaming(
        spark, src, out, schema_doc=DOC, ts_col="ts",
        baseline_profile=baseline, available_now=True,
        drift_window="1 minute", drift_watermark="0 seconds",
        max_files_per_trigger=None, queries=("drift",))
    await_streaming(running)
    drift = spark.read.parquet(os.path.join(out, "drift"))
    got = {r["column_name"] for r in drift.collect()}
    assert got == {"clip_id", "sr_hz"}


def test_stream_runner_tally_state_survives_resume(spark, tmp_path):
    """The stateful per-key tally must CONTINUE its running totals across a
    kill/resume — the state store rides the checkpoint."""
    src = str(tmp_path / "tin")
    out = str(tmp_path / "tout")
    _batch(spark, [("clip_a", 8000, 1), ("BAD", 99, 1)]) \
        .write.mode("append").parquet(src)

    running = start_streaming(
        spark, src, out, schema_doc=DOC, ts_col="ts", tally_key="sr_hz",
        available_now=True, max_files_per_trigger=None, queries=("tally",))
    await_streaming(running)

    # second batch after the "kill": one more failing row under key 99
    _batch(spark, [("WORSE", 99, 2)]).write.mode("append").parquet(src)
    running = start_streaming(
        spark, src, out, schema_doc=DOC, ts_col="ts", tally_key="sr_hz",
        available_now=True, max_files_per_trigger=None, queries=("tally",))
    await_streaming(running)

    rows = spark.read.parquet(out + "/tally").collect()
    latest = {}
    for r in rows:  # last emission per key = current running totals
        if r["key"] not in latest or r["_batch_id"] > latest[r["key"]]["_batch_id"]:
            latest[r["key"]] = r
    assert latest["99"]["rows_seen"] == 2          # 1 before + 1 after resume
    assert latest["99"]["rows_failed"] == 2        # enum fails both
    assert latest["8000"]["rows_seen"] == 1
    assert latest["8000"]["rows_failed"] == 0


def test_stream_runner_tally_requires_key(spark, tmp_path):
    src = str(tmp_path / "tin2")
    _batch(spark, [("clip_a", 8000, 1)]).write.parquet(src)
    with pytest.raises(ValueError, match="tally-key"):
        start_streaming(spark, src, str(tmp_path / "o"), schema_doc=DOC,
                        queries=("tally",))


def test_stream_runner_refuses_query_missing_its_column(spark, tmp_path):
    """An explicit query whose key/watermark column the input lacks is
    refused before any query starts; the default set leaves it out."""
    src = str(tmp_path / "in")
    spark.createDataFrame([("clip_a", 8000)], "clip_id string, sr_hz int") \
        .write.parquet(src)
    before = len(spark.streams.active)
    with pytest.raises(ValueError,
                       match=r"'dedup' needs column\(s\) \['ts'\]"):
        start_streaming(spark, src, str(tmp_path / "o"), schema_doc=DOC,
                        queries=("verdicts", "dedup"), available_now=True)
    assert len(spark.streams.active) == before
    running = start_streaming(spark, src, str(tmp_path / "o2"),
                              schema_doc=DOC, available_now=True)
    await_streaming(running)
    assert set(running) == {"verdicts", "violations"}


def test_stream_runner_compiles_schema_once(spark, tmp_path, monkeypatch):
    """All five queries started together come from one compile_root."""
    from json_skema_spark.operators import stats
    from json_skema_spark.plans import compile as compile_mod
    calls = []
    orig = compile_mod.Compiler.compile_root

    def counting(self, st):
        calls.append(1)
        return orig(self, st)

    monkeypatch.setattr(compile_mod.Compiler, "compile_root", counting)
    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    rows = [("clip_a", 8000, 1), ("BAD", 99, 1)]
    _batch(spark, rows).write.parquet(src)
    baseline = stats.profile(_batch(spark, rows), ["sr_hz"])
    running = start_streaming(
        spark, src, out, schema_doc=DOC, ts_col="ts", tally_key="sr_hz",
        baseline_profile=baseline, available_now=True,
        max_files_per_trigger=None)
    await_streaming(running)
    assert set(running) == {"verdicts", "violations", "dedup", "drift",
                            "tally"}
    assert len(calls) == 1
    verdicts = spark.read.parquet(os.path.join(out, "verdicts"))
    assert sorted(verdicts.columns) == ["clip_id", "passed", "sr_hz", "ts"]
    assert sorted((r["clip_id"], r["passed"]) for r in verdicts.collect()) \
        == [("BAD", False), ("clip_a", True)]
