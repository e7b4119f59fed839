"""Tests of the benchmark itself, at tiny scale, in one Spark session.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import copy
import os
import shutil
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import prepare  # noqa: E402
import run  # noqa: E402
import sparkenv  # noqa: E402
import tracing  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

TINY = {"fast": 3000, "audio": 40}
TEST_DIR = os.path.join(sparkenv.WORK, "test")


@pytest.fixture(scope="module")
def spark():
    shutil.rmtree(TEST_DIR, ignore_errors=True)
    session = sparkenv.start_spark("perfbench-tests")
    yield session
    sparkenv.stop_spark(session)
    shutil.rmtree(TEST_DIR, ignore_errors=True)


def tiny_inputs(spark, kind: str, seed: int) -> prepare.Inputs:
    d = os.path.join(TEST_DIR, f"{kind}_s{seed}")
    if not prepare.is_ready(kind, d):
        shutil.rmtree(d, ignore_errors=True)
        prepare.write_tables(spark, kind, seed, d, TINY[kind])
        prepare.write_oracle(kind, seed, d)
    return prepare.Inputs(kind, seed, d, prepare.oracle.load(os.path.join(d, "oracle.json")))


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_workload_emits_every_end_to_end_metric(spark, name):
    cls = WORKLOADS[name]
    result = run.run_workload(cls(spark, tiny_inputs(spark, cls.kind, 1)), 0,
                              time.perf_counter())
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] >= run.MIN_OPS
    metrics = result["metrics"]
    assert {k: v["unit"] for k, v in metrics.items()} == {
        "rows_per_s": "rows/s", "setup_s": "s", "ok_frac": "frac"}
    assert metrics["ok_frac"]["value"] == 1.0
    assert metrics["rows_per_s"]["value"] > 0 and metrics["setup_s"]["value"] > 0


def test_tampered_oracle_drives_ok_frac_below_one(spark):
    inputs = tiny_inputs(spark, "fast", 1)
    bad = copy.deepcopy(inputs.oracle)
    bad["verdict"]["failed_rows"] += 1
    bad["dense"]["keywords"]["maxLength #/properties/transcript/maxLength"] += 1
    for name in ("verdict_scan", "violations_dense"):
        w = WORKLOADS[name](spark, prepare.Inputs("fast", 1, inputs.dir, bad))
        result = run.run_workload(w, 0, time.perf_counter())
        assert not result["correct"]
        assert result["metrics"]["ok_frac"]["value"] < 1


def test_check_fails_on_tampered_output(spark):
    inputs = tiny_inputs(spark, "fast", 1)
    verdict = WORKLOADS["verdict_scan"](spark, inputs)
    verdict.setup()
    rows = verdict.op()
    assert verdict.check(rows) == []
    assert verdict.check([{"passed": r["passed"], "count": r["count"] + 1} for r in rows])
    dense = WORKLOADS["violations_dense"](spark, inputs)
    dense.setup()
    dense.before_op()
    summary = dense.op()
    assert dense.check(summary) == []
    part = sorted(f for f in os.listdir(dense.out) if f.endswith(".parquet"))[0]
    os.remove(os.path.join(dense.out, part))          # drop written violations
    assert any(e.startswith("written violation") for e in dense.check(summary))
    dense.after_op()


def test_pipeline_check_catches_tampered_orphans(spark):
    inputs = tiny_inputs(spark, "audio", 1)
    bad = copy.deepcopy(inputs.oracle)
    bad["orphans"] += 1
    w = WORKLOADS["pipeline_audio"](spark, prepare.Inputs("audio", 1, inputs.dir, bad))
    w.setup()
    op_s, errs = run.run_op(w)
    assert op_s is not None
    assert any(e.startswith("orphan rows") for e in errs)


def test_same_seed_reproduces_the_oracle(spark):
    for kind in ("fast", "audio"):
        first = tiny_inputs(spark, kind, 7).oracle
        shutil.rmtree(os.path.join(TEST_DIR, f"{kind}_s7"))
        again = tiny_inputs(spark, kind, 7).oracle
        assert first == again
        other = tiny_inputs(spark, kind, 8).oracle
        assert other["seed"] == 8 and {**other, "seed": 7} != first


def test_ensure_generates_once_then_reuses(spark, monkeypatch):
    d = os.path.join(TEST_DIR, "ensure", "fast_s3")  # own dir: ensure() prunes siblings
    monkeypatch.setattr(prepare, "input_dir", lambda kind, seed: d)
    monkeypatch.setitem(prepare.ROWS, "fast", TINY["fast"])
    first, _ = prepare.ensure(spark, "fast", 3)
    assert not first.reused
    marker = os.path.join(d, "table", "_SUCCESS")
    stamp = os.path.getmtime(marker)
    again, _ = prepare.ensure(spark, "fast", 3)
    assert again.reused and again.oracle == first.oracle
    assert os.path.getmtime(marker) == stamp          # reused, not rewritten
    os.remove(os.path.join(d, "oracle.json"))         # incomplete set: regenerate
    regenerated, _ = prepare.ensure(spark, "fast", 3)
    assert not regenerated.reused and regenerated.oracle == first.oracle


def _wrapped_attrs(spark):
    """Snapshot of every attribute the tracer wraps."""
    tracer = tracing.Tracer()
    tracing.install(tracer, spark)
    targets = [(owner, attr) for owner, attr, _ in tracer._patches]
    tracer.restore()
    return {(owner, attr): vars(owner).get(attr) for owner, attr in targets}


def test_tracer_restores_every_wrapped_function(spark):
    before = _wrapped_attrs(spark)
    assert len(before) >= 15
    tracer = tracing.Tracer()
    tracing.install(tracer, spark)
    assert all(vars(o).get(a) is not f for (o, a), f in before.items())
    tracer.restore()
    assert {(o, a): vars(o).get(a) for o, a in before} == before


def test_traced_workloads_give_the_per_layer_split(spark):
    tracer = tracing.Tracer()
    listener = tracing.QueryListener(tracer)
    before = _wrapped_attrs(spark)
    from pyspark.java_gateway import ensure_callback_server_started

    ensure_callback_server_started(spark.sparkContext._gateway)
    manager = spark._jsparkSession.listenerManager()
    manager.register(listener)
    counters = tracing.SparkCounters(spark)
    try:
        for name, cls in WORKLOADS.items():
            w = cls(spark, tiny_inputs(spark, cls.kind, 1))
            metrics, errs, checked = tracing.trace_workload(
                w, tracer, listener, counters, spark)
            assert not errs and checked > 0
            assert set(tracing.layer_units(name)) <= set(metrics), name
    finally:
        manager.unregister(listener)
    assert {(o, a): vars(o).get(a) for o, a in before} == before
    # the pipeline op is its action spans plus driver self time
    op_id = "pipeline_audio:0"
    spans = [s for s in tracer.spans if s["op"] == op_id]
    op = next(s for s in spans if s["name"] == "op")
    m = tracing.op_metrics("pipeline_audio", spans, [], {})
    assert m["runner.action_s"] + m["runner.driver_self_s"] == pytest.approx(
        tracing.duration(op), abs=1e-6)
    assert m["checkpoint.manifest_writes"] > 0 and m["runner.bucket_s_max"] > 0


def test_write_spans_are_named_by_output_directory():
    tracer = tracing.Tracer()
    tracer.root = "/out/op_1"
    assert tracer.write_name("/out/op_1/violations/bucket=3") == "write:violations"
    assert tracer.write_name("/out/op_1/_staging") == "write:_staging"
    assert tracer.write_name("/out/op_1") == "write:op_1"
    assert tracer.write_name("/elsewhere/table") == "write:table"


def test_benchmark_json_matches_the_code():
    import json

    with open(os.path.join(sparkenv.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)
    assert [{"name": m["name"], "unit": m["unit"]} for m in spec["per_layer"]] \
        == tracing.per_layer_spec()


def test_span_arithmetic():
    assert tracing.union_s([(0, 2), (1, 3), (5, 6)]) == 4
    spans = [
        {"id": 0, "name": "op", "start": 0.0, "end": 10.0, "parent": None},
        {"id": 1, "name": "write:a", "start": 1.0, "end": 4.0, "parent": 0},
        {"id": 2, "name": "write:b", "start": 2.0, "end": 3.0, "parent": 1},
    ]
    assert [s["id"] for s in tracing.outermost(spans, tracing.is_write)] == [1]
    assert tracing.self_times(spans) == {"op": 7.0, "write:a": 2.0, "write:b": 1.0}

