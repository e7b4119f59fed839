"""Traced mode: the per-layer split, measured from outside the package.

The tracer wraps public functions of ``json_skema_spark`` (and PySpark's
``DataFrameWriter.parquet/save`` and ``DataFrame.collect``, the actions)
where their callers look them up, records one span per call (name, start,
end, parent, op id) and restores every wrapped attribute afterwards. A py4j
``QueryExecutionListener`` adds, per Spark SQL execution, the Catalyst phase
times and the SQL metrics of the executed physical plan. Spans stay in
memory and are written, with a per-layer table, when the run ends.

One traced run covers all three workloads in one JVM, so every per-layer
metric is present in every traced run; metric names are
``<workload>.<layer>.<metric>``. For each workload it runs the set-up
(traced), the warm-up ops, then ``TRACED_OPS`` traced ops, each after an
untraced one; alternating keeps the JIT's slow warm-up trend out of the
tracing overhead, which is the untraced median rows/s over the traced one,
minus 1. ``pipeline_audio`` runs no untraced ops (see ``_NOT_MEASURED``).
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import statistics
import sys
import threading
import time

import sparkenv

TRACE_DIR = os.path.join(sparkenv.WORK, "trace")
TRACED_OPS = {"verdict_scan": 4, "violations_dense": 2, "pipeline_audio": 1}


class Tracer:
    """In-memory spans plus the attribute patches that produce them.

    Wrappers record only while ``active``; otherwise they call straight
    through, so checks run between traced ops leave no spans."""

    def __init__(self):
        self.spans: list[dict] = []
        self.active = False
        self.op = None          # current op id, stamped on every span
        self.root = None        # output root that write spans are named under
        self._stack: list[int] = []
        self._patches: list[tuple] = []
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str):
        with self._lock:
            rec = {"id": len(self.spans), "name": name, "start": time.perf_counter(),
                   "end": None, "parent": self._stack[-1] if self._stack else None,
                   "op": self.op}
            self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def wrap(self, owner, attr: str, name, wrap_args=None) -> None:
        """Replace ``owner.attr`` with a spanning wrapper. ``name`` is a
        string or ``f(args, kwargs) -> str``; ``wrap_args`` may rewrite the
        call's arguments (to wrap a callback)."""
        raw = vars(owner).get(attr)
        original = getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            if not tracer.active:
                return original(*args, **kwargs)
            label = name(args, kwargs) if callable(name) else name
            if wrap_args is not None:
                args, kwargs = wrap_args(args, kwargs)
            with tracer.span(label):
                return original(*args, **kwargs)

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, raw))

    def restore(self) -> None:
        """Put back every wrapped attribute, in reverse order."""
        while self._patches:
            owner, attr, raw = self._patches.pop()
            if raw is None:
                delattr(owner, attr)
            else:
                setattr(owner, attr, raw)

    def write_name(self, path) -> str:
        """``write:<first directory under the op's output root>``, or the
        written directory's own name when it is the root or outside it."""
        path = str(path)
        rel = os.path.relpath(path, self.root) if self.root else path
        head = rel.split(os.sep)[0]
        return "write:" + (os.path.basename(path) if head in (".", "..") else head)


def install(tracer: Tracer, spark) -> None:
    """Wrap the package's public calls and the Spark actions they run."""
    import json_skema_spark as jss
    from json_skema_spark import runner
    from json_skema_spark.functions import audio
    from json_skema_spark.operators import (checkpoint, referential, stats,
                                            uniqueness)
    from json_skema_spark.plans import compile as plan_compile
    from json_skema_spark.plans import verdict
    from pyspark.sql.readwriter import DataFrameWriter

    tracer.wrap(plan_compile.Compiler, "compile_root", "plans.compile")
    # compile_schema is imported by name into the package root and runner
    for mod in (jss, plan_compile, runner):
        tracer.wrap(mod, "compile_schema", "plans.compile_schema")
    for method in ("apply", "violations", "summary"):
        tracer.wrap(verdict.ValidationPlan, method, "plans.build")

    def bucket_callback(args, kwargs):
        process = kwargs["process"] if "process" in kwargs else args[4]

        def traced_process(bucket_df, bucket):
            with tracer.span("runner.bucket"):
                return process(bucket_df, bucket)

        if "process" in kwargs:
            return args, {**kwargs, "process": traced_process}
        return (*args[:4], traced_process, *args[5:]), kwargs

    tracer.wrap(checkpoint, "stage_by_bucket", "checkpoint.stage")
    tracer.wrap(checkpoint, "run_resumable", "checkpoint.run_resumable",
                wrap_args=bucket_callback)
    tracer.wrap(checkpoint.PartitionManifest, "_flush", "checkpoint.manifest")
    tracer.wrap(uniqueness, "uniqueness_violations", "operators.unique")
    tracer.wrap(referential, "referential_violations", "operators.ref")
    tracer.wrap(stats, "mergeable_profile", "operators.profile")
    tracer.wrap(runner, "drift_report", "operators.drift")
    tracer.wrap(audio, "audio_violations", "functions.audio")

    def write_name(args, kwargs):
        return tracer.write_name(kwargs.get("path", args[1] if len(args) > 1 else ""))

    tracer.wrap(DataFrameWriter, "parquet", write_name)
    tracer.wrap(DataFrameWriter, "save", write_name)
    tracer.wrap(type(spark.range(1)), "collect", "action:collect")


# -- Spark-side counters --------------------------------------------------

def _scala_map(m) -> dict:
    out, it = {}, m.iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2()
    return out


def plan_metrics(plan) -> list[tuple[str, dict]]:
    """``(node name, {metric: raw value})`` for every node of an executed
    plan, descending into the final adaptive plan and its query stages."""
    out, todo = [], [plan]
    while todo:
        p = todo.pop()
        cls = p.getClass().getName()
        out.append((p.nodeName(), {k: v.value() for k, v in _scala_map(p.metrics()).items()}))
        if cls.endswith("AdaptiveSparkPlanExec"):
            todo.append(p.finalPhysicalPlan())
            continue
        if cls.endswith("QueryStageExec"):
            todo.append(p.plan())
            continue
        it = p.children().iterator()
        while it.hasNext():
            todo.append(it.next())
    return out


class QueryListener:
    """py4j implementation of ``QueryExecutionListener``: one record per
    successful SQL execution while the tracer is active."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.records: list[dict] = []

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 — JVM interface
        if not self.tracer.active:
            return
        phases = {k: v.durationMs() / 1e3
                  for k, v in _scala_map(qe.tracker().phases()).items()}
        self.records.append({"op": self.tracer.op, "func": func_name,
                             "duration_s": duration_ns / 1e9, "phases": phases,
                             "nodes": plan_metrics(qe.executedPlan())})

    def onFailure(self, func_name, qe, exception):  # noqa: N802
        if self.tracer.active:
            self.records.append({"op": self.tracer.op, "func": func_name,
                                 "failed": True, "phases": {}, "nodes": []})

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class SparkCounters:
    """Job, task, GC and memory counters of the driver JVM (local mode: the
    executors run in it too)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jvm = spark._jvm
        self.pid = self.jvm.java.lang.ProcessHandle.current().pid()

    def gc_s(self) -> float:
        beans = self.jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(beans.get(i).getCollectionTime() for i in range(beans.size())) / 1e3

    def peak_rss_mb(self) -> float:
        with open(f"/proc/{self.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
        return 0.0

    def set_group(self, group: str | None) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", group)

    def jobs_and_tasks(self, group: str) -> tuple[int, int]:
        """Jobs of the group and the tasks they ran. A job that reuses a
        finished shuffle (adaptive execution) lists that stage again, as a
        skipped stage: each stage id is counted once, by its completed
        tasks, so skipped stages add nothing."""
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stage_ids = set()
        for j in jobs:
            info = st.getJobInfo(j)
            stage_ids.update(info.stageIds if info else ())
        stages = (st.getStageInfo(s) for s in stage_ids)
        return len(jobs), sum(s.numCompletedTasks for s in stages if s)

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()


# -- span arithmetic ------------------------------------------------------

def duration(s: dict) -> float:
    return s["end"] - s["start"]


def union_s(intervals) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def outermost(spans: list[dict], pred) -> list[dict]:
    """Spans matching ``pred`` that have no matching ancestor."""
    by_id = {s["id"]: s for s in spans}
    out = []
    for s in spans:
        if not pred(s["name"]):
            continue
        p = s["parent"]
        while p is not None and p in by_id and not pred(by_id[p]["name"]):
            p = by_id[p]["parent"]
        if p is None or p not in by_id:
            out.append(s)
    return out


def total_s(spans, pred) -> float:
    return sum(duration(s) for s in outermost(spans, pred))


def self_times(spans: list[dict]) -> dict[str, float]:
    """Per span name: summed self time (duration minus children's union)."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        kids = [(c["start"], c["end"]) for c in children.get(s["id"], [])]
        out[s["name"]] = out.get(s["name"], 0.0) + duration(s) - union_s(kids)
    return out


def is_write(name: str) -> bool:
    return name.startswith("write:")


# -- per-op and per-workload metrics ---------------------------------------

def exec_metrics(records: list[dict]) -> dict:
    """Catalyst phases and executed-plan SQL metrics over an op's executions."""
    m = {"catalyst.analysis_s": 0.0, "catalyst.optimization_s": 0.0,
         "catalyst.planning_s": 0.0, "exec.scan_time_s": 0.0,
         "exec.codegen_duration_s": 0.0, "exec.files_read": 0, "exec.shuffle_bytes": 0}
    for r in records:
        for phase in ("analysis", "optimization", "planning"):
            m[f"catalyst.{phase}_s"] += r["phases"].get(phase, 0.0)
        for node, vals in r["nodes"]:
            m["exec.scan_time_s"] += vals.get("scanTime", 0) / 1e3
            # summed over codegen stages and tasks: stages pipelined in one
            # task overlap, so this can exceed the op's core-seconds
            m["exec.codegen_duration_s"] += vals.get("pipelineTime", 0) / 1e3
            m["exec.shuffle_bytes"] += vals.get("shuffleBytesWritten", 0)
            if node.startswith("Scan"):  # a write node's numFiles counts files written
                m["exec.files_read"] += vals.get("numFiles", 0)
    return m


def op_metrics(name: str, spans: list[dict], records: list[dict], extra: dict) -> dict:
    """The per-layer metrics of one traced op."""
    op = [s for s in spans if s["name"] == "op"][0]
    compiles = [s for s in spans if s["name"] == "plans.compile"]
    m = {"trace.op_s": duration(op),
         "plans.compile_calls": len(compiles),
         "plans.compile_op_s": sum(duration(s) for s in compiles),
         "plans.build_s": total_s(spans, lambda n: n == "plans.build"),
         **exec_metrics(records), **extra}
    if name == "violations_dense":
        m["violations.write_s"] = total_s(spans, is_write)
        m["summary.collect_s"] = total_s(spans, lambda n: n == "action:collect")
    if name == "pipeline_audio":
        actions = outermost(spans, is_write)
        buckets = [duration(s) for s in spans if s["name"] == "runner.bucket"]

        def writes(sub):
            return sum(duration(s) for s in actions if s["name"] == f"write:{sub}")

        def build(layer):
            return total_s(spans, lambda n: n == layer)

        m.update({
            "checkpoint.stage_s": build("checkpoint.stage"),
            "checkpoint.manifest_s": build("checkpoint.manifest"),
            "checkpoint.manifest_writes": sum(s["name"] == "checkpoint.manifest"
                                              for s in spans),
            "runner.bucket_s_p50": statistics.median(buckets),
            "runner.bucket_s_max": max(buckets),
            "runner.violations_write_s": writes("violations"),
            "runner.profile_write_s": writes("profile"),
            "runner.action_s": sum(duration(s) for s in actions),
            "runner.driver_self_s": duration(op) - union_s(
                (s["start"], s["end"]) for s in actions),
            "operators.unique_s": build("operators.unique") + writes("violations_unique"),
            "operators.ref_s": build("operators.ref") + writes("violations_ref"),
            "operators.drift_s": build("operators.drift") + writes("drift"),
        })
    return m


COMMON = {
    "sources.rows": "count", "sources.input_bytes": "bytes",
    "plans.compile_s": "s", "plans.compile_calls": "count",
    "plans.expr_nodes": "count", "plans.build_s": "s",
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "exec.scan_time_s": "s", "exec.codegen_duration_s": "s",
    "exec.files_read": "count", "exec.tasks": "count",
    "exec.shuffle_bytes": "bytes", "exec.jobs": "count",
    "jvm.gc_s": "s", "jvm.peak_rss_mb": "MB",
    "trace.op_s": "s", "trace.untraced_rows_per_s": "rows/s",
    "trace.overhead_frac": "frac",
}
DENSE = {"violations.rows": "count", "violations.write_s": "s",
         "violations.output_bytes": "bytes", "summary.collect_s": "s"}
PIPELINE = {
    "audio.op_s": "s", "audio.scan_time_s": "s",
    "audio.python_data_sent_bytes": "bytes", "audio.python_total_s": "s",
    "audio.python_boot_s": "s",
    "checkpoint.stage_s": "s", "checkpoint.staged_bytes": "bytes",
    "checkpoint.manifest_s": "s", "checkpoint.manifest_writes": "count",
    "runner.bucket_s_p50": "s", "runner.bucket_s_max": "s",
    "runner.violations_write_s": "s", "runner.profile_write_s": "s",
    "runner.action_s": "s", "runner.driver_self_s": "s",
    "runner.bytes_written": "bytes",
    "operators.unique_s": "s", "operators.ref_s": "s", "operators.drift_s": "s",
}
# The write commands that make up a pipeline op reach the listener with an
# analysis phase of 0: a command is analyzed inside the outer DataFrame's
# eager execution, so the metric would read 0 on every run. The pipeline has
# no tracing overhead: one op takes ~14 s, so a pair of ops would add a
# quarter to the traced run's time, and one pair cannot resolve an overhead
# of a few percent against the op-to-op noise of a job still warming up.
_NOT_MEASURED = {"pipeline_audio": {"catalyst.analysis_s", "trace.untraced_rows_per_s",
                                    "trace.overhead_frac"}}


def layer_units(workload: str) -> dict[str, str]:
    """Per-layer metric -> unit for one workload."""
    extra = {"violations_dense": DENSE, "pipeline_audio": PIPELINE}.get(workload, {})
    return {k: u for k, u in {**COMMON, **extra}.items()
            if k not in _NOT_MEASURED.get(workload, ())}


def per_layer_spec() -> list[dict]:
    """Every per-layer metric of a traced run, as listed in BENCHMARK.json."""
    return [{"name": f"{w}.{k}", "unit": u}
            for w in TRACED_OPS for k, u in layer_units(w).items()]


def summarize(ops: list[dict]) -> dict:
    """Mean over traced ops of each metric (exact counts repeat)."""
    return {k: statistics.fmean(o[k] for o in ops) for k in ops[0]}


def expr_nodes(plan, df) -> int:
    """Node count of the analyzed ``passed`` and ``failures`` expressions
    (one ``treeString`` line per node)."""
    exprs = (df.select(plan.passed.alias("passed"), plan.failures.alias("failures"))
             ._jdf.queryExecution().analyzed().expressions())
    return sum(len(str(exprs.apply(i).treeString()).splitlines())
               for i in range(exprs.size()))


# -- the traced run ---------------------------------------------------------

def _log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def traced_op(w, i: int, tracer, listener, counters) -> tuple[dict, list[str]]:
    """One traced op (the tracer installed): its per-layer metrics and
    mismatches."""
    op_id, group = f"{w.name}:{i}", f"perfbench-{w.name}-{i}"
    w.before_op()
    tracer.root = getattr(w, "out", None)
    counters.set_group(group)
    gc0 = counters.gc_s()
    tracer.op, tracer.active = op_id, True
    try:
        with tracer.span("op"):
            result = w.op()
        counters.drain()
    finally:
        tracer.active = False
        counters.set_group(None)
    extra = {"jvm.gc_s": counters.gc_s() - gc0}
    extra["exec.jobs"], extra["exec.tasks"] = counters.jobs_and_tasks(group)
    if w.name == "violations_dense":
        extra["violations.output_bytes"] = sparkenv.dir_bytes(w.out)
    if w.name == "pipeline_audio":
        extra["runner.bytes_written"] = sparkenv.dir_bytes(w.out)
        extra["checkpoint.staged_bytes"] = sum(
            sparkenv.dir_bytes(os.path.join(w.out, d)) for d in ("_staging", "_staging_ref"))
    try:
        errs = w.check(result)
    finally:
        w.after_op()
    return op_metrics(w.name, [s for s in tracer.spans if s["op"] == op_id],
                      [r for r in listener.records if r["op"] == op_id], extra), errs


def trace_workload(w, tracer, listener, counters, spark) -> tuple[dict, list[str], int]:
    """Set-up (traced), warm-up, then traced ops of one workload, each after
    an untraced one where the workload reports the tracing overhead.
    Returns (per-layer metrics, mismatches, ops checked)."""
    import prepare
    import run

    install(tracer, spark)
    try:
        tracer.op, tracer.active = f"{w.name}:setup", True
        with tracer.span("setup"):
            w.setup()
        tracer.active = False
    finally:
        tracer.restore()
    setup_spans = [s for s in tracer.spans if s["op"] == f"{w.name}:setup"]
    errs = run.warm_up(w)
    overhead = "trace.overhead_frac" in layer_units(w.name)
    untraced, ops = [], []
    for i in range(TRACED_OPS[w.name]):
        if overhead:
            op_s, e = run.run_op(w)
            errs += e
            if op_s is not None:
                untraced.append(op_s)
        install(tracer, spark)
        try:
            m, e = traced_op(w, i, tracer, listener, counters)
        finally:
            tracer.restore()
        ops.append(m)
        errs += e

    m = summarize(ops)
    if w.name == "pipeline_audio":
        install(tracer, spark)
        try:
            m.update(trace_audio(w, tracer, listener, counters))
        finally:
            tracer.restore()
    m["plans.compile_s"] = (sum(duration(s) for s in setup_spans if s["name"] == "plans.compile")
                            + m.pop("plans.compile_op_s"))
    m["sources.rows"] = w.rows
    m["sources.input_bytes"] = w.oracle["input_bytes"]
    m["jvm.peak_rss_mb"] = counters.peak_rss_mb()
    if w.name == "pipeline_audio":
        import json_skema_spark as jss
        m["plans.expr_nodes"] = expr_nodes(
            jss.compile_schema(prepare.pipeline_schema(), w.clips.schema), w.clips)
    else:
        m["plans.expr_nodes"] = expr_nodes(w.plan, w.df)
    if w.name == "violations_dense":
        m["violations.rows"] = sum(w.oracle["dense"]["keywords"].values())
    if overhead:
        untraced_rps = statistics.median(w.rows / t for t in untraced)
        traced_rps = statistics.median(w.rows / o["trace.op_s"] for o in ops)
        m["trace.untraced_rows_per_s"] = untraced_rps
        m["trace.overhead_frac"] = untraced_rps / traced_rps - 1
    return m, errs, w.warmup_ops + len(untraced) + len(ops)


def trace_audio(w, tracer, listener, counters) -> dict:
    """One traced ``pcm_invariant_check(...).groupBy().count().collect()``:
    Arrow transfer versus Python time of the audio invariant."""
    from json_skema_spark.functions import audio

    op_id = f"{w.name}:audio"
    tracer.op, tracer.active = op_id, True
    try:
        with tracer.span("op"):
            audio.pcm_invariant_check(w.clips, w.ref).groupBy().count().collect()
        counters.drain()
    finally:
        tracer.active = False
    op = [s for s in tracer.spans if s["op"] == op_id and s["name"] == "op"][0]
    m = {"audio.op_s": duration(op), "audio.scan_time_s": 0.0,
         "audio.python_data_sent_bytes": 0, "audio.python_total_s": 0.0,
         "audio.python_boot_s": 0.0}
    for r in listener.records:
        if r["op"] != op_id:
            continue
        for _, vals in r["nodes"]:
            m["audio.scan_time_s"] += vals.get("scanTime", 0) / 1e3
            m["audio.python_data_sent_bytes"] += vals.get("pythonDataSent", 0)
            m["audio.python_total_s"] += vals.get("pythonTotalTime", 0) / 1e3
            m["audio.python_boot_s"] += vals.get("pythonBootTime", 0) / 1e3
    return m


def layer_table(name: str, spans: list[dict], n_ops: int) -> list[str]:
    """Markdown rows: span name, calls/op, total s/op, self s/op."""
    calls: dict[str, int] = {}
    totals: dict[str, float] = {}
    for s in spans:
        calls[s["name"]] = calls.get(s["name"], 0) + 1
        totals[s["name"]] = totals.get(s["name"], 0.0) + duration(s)
    selfs = self_times(spans)
    rows = [f"| {name} | {k} | {calls[k] / n_ops:g} | {totals[k] / n_ops:.4f} | "
            f"{selfs[k] / n_ops:.4f} |"
            for k in sorted(totals, key=lambda k: -totals[k])]
    return rows


def write_report(metrics: dict, tracer: Tracer, listener: QueryListener) -> str:
    os.makedirs(TRACE_DIR, exist_ok=True)
    with open(os.path.join(TRACE_DIR, "spans.json"), "w") as f:
        json.dump({"spans": tracer.spans,
                   "executions": [{k: v for k, v in r.items() if k != "nodes"}
                                  for r in listener.records]}, f)
    lines = ["| workload | span | calls/op | total s/op | self s/op |",
             "|---|---|---|---|---|"]
    for name in TRACED_OPS:
        spans = [s for s in tracer.spans
                 if s["op"] and s["op"].startswith(name + ":") and s["op"][-1].isdigit()]
        lines += layer_table(name, spans, TRACED_OPS[name])
    lines += ["", "| metric | value | unit |", "|---|---|---|"]
    lines += [f"| {s['name']} | {metrics[s['name']]:.6g} | {s['unit']} |"
              for s in per_layer_spec()]
    path = os.path.join(TRACE_DIR, "layers.md")
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")
    return path


def run_traced(seed: int) -> dict:
    """All three workloads, traced; returns the result object."""
    import prepare
    from pyspark.java_gateway import ensure_callback_server_started
    from workloads import WORKLOADS

    spark = sparkenv.start_spark("perfbench-trace")
    tracer = Tracer()
    listener = QueryListener(tracer)
    metrics, errs, checked = {}, [], 0
    try:
        inputs = {kind: prepare.ensure(spark, kind, seed)[0] for kind in ("fast", "audio")}
        ensure_callback_server_started(spark.sparkContext._gateway)
        manager = spark._jsparkSession.listenerManager()
        manager.register(listener)
        counters = SparkCounters(spark)
        try:
            for name, cls in WORKLOADS.items():
                w = cls(spark, inputs[cls.kind])
                m, e, n = trace_workload(w, tracer, listener, counters, spark)
                metrics.update({f"{name}.{k}": v for k, v in sorted(m.items())})
                errs += e
                checked += n
                _log(f"traced {name}: {len(e)} mismatches")
        finally:
            manager.unregister(listener)
    finally:
        tracer.restore()
        sparkenv.stop_spark(spark)
    for e in errs:
        _log(f"MISMATCH {e}")
    _log(f"per-layer table: {write_report(metrics, tracer, listener)}")
    return {"correct": not errs, "attempted": checked, "failed": 0,
            "metrics": {s["name"]: {"value": metrics[s["name"]], "unit": s["unit"]}
                        for s in per_layer_spec()}}
