"""The three workloads: how each sets up, what one timed op is, and how the
op's output is checked against the oracle.

Every call into the package goes through a module attribute
(``jss.compile_schema``, ``runner.validate_table``) so that the traced mode
can wrap it.
"""

from __future__ import annotations

import os
import shutil

import prepare
import sparkenv
from oracle import diff, kw_key

OUT = os.path.join(sparkenv.WORK, "out")


class Workload:
    name = ""
    kind = ""         # input kind, see prepare.TABLES
    warmup_ops = 1    # untimed ops after set-up, each checked like a timed one

    def __init__(self, spark, inputs: prepare.Inputs):
        self.spark = spark
        self.inputs = inputs
        self.oracle = inputs.oracle
        self.rows = inputs.oracle["rows"]

    def setup(self) -> None:
        """Compile schemas and bind the input tables."""

    def before_op(self) -> None:
        """Untimed preparation of the next op."""

    def op(self):
        """The timed unit of work; returns what ``check`` inspects."""
        raise NotImplementedError

    def check(self, result) -> list[str]:
        """Untimed: mismatch descriptions, empty when the op was correct."""
        raise NotImplementedError

    def after_op(self) -> None:
        """Untimed clean-up after an op (also after a failed one)."""


class VerdictScan(Workload):
    """Boolean verdict over the clips table: parquet scan plus the
    whole-stage-codegen predicate chain, no failure structs, no writes."""

    name = "verdict_scan"
    kind = "fast"
    warmup_ops = 12

    def setup(self) -> None:
        import json_skema_spark as jss

        self.df = self.spark.read.parquet(self.inputs.path("table"))
        self.plan = jss.compile_schema(prepare.verdict_schema(), self.df.schema)

    def op(self):
        return (self.plan.apply(self.df, mode="verdict")
                .groupBy("passed").count().collect())

    def check(self, rows) -> list[str]:
        got = {bool(r["passed"]): r["count"] for r in rows}
        want = self.oracle["verdict"]
        return diff("verdict split", (got.get(True, 0), got.get(False, 0)),
                    (want["passed_rows"], want["failed_rows"]))


class ViolationsDense(Workload):
    """A "bad deploy" schema over the same table: about half the rows fail,
    so failure-struct and message construction, the explode and the parquet
    write dominate; then the per-keyword summary."""

    name = "violations_dense"
    kind = "fast"
    warmup_ops = 5

    def setup(self) -> None:
        import json_skema_spark as jss

        self.df = self.spark.read.parquet(self.inputs.path("table"))
        self.plan = jss.compile_schema(prepare.dense_schema(), self.df.schema)
        self.out = os.path.join(OUT, self.name)

    def before_op(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)

    def op(self):
        self.plan.violations(self.df, "clip_id").write.parquet(self.out)
        return self.plan.summary(self.df).collect()

    def check(self, summary) -> list[str]:
        want = self.oracle["dense"]["keywords"]
        got = {kw_key(r["keyword"], r["keyword_location"]): r["n_violations"]
               for r in summary}
        written = (self.spark.read.parquet(self.out)
                   .groupBy("keyword", "keyword_location").count().collect())
        got_written = {kw_key(r["keyword"], r["keyword_location"]): r["count"]
                       for r in written}
        return (diff("summary() keyword counts", got, want)
                + diff("written violation keyword counts", got_written, want))

    def after_op(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)


AUDIO_KEY = kw_key("format", "#/properties/bytes/format")


class PipelineAudio(Workload):
    """The production job, ``runner.validate_table``: staging, per-bucket
    schema + Arrow SNR violations and profiles, uniqueness, referential
    integrity and drift, with the checkpoint manifest."""

    name = "pipeline_audio"
    kind = "audio"
    warmup_ops = 1
    num_buckets = 4

    def setup(self) -> None:
        read = self.spark.read.parquet
        self.clips = read(self.inputs.path("clips"))
        self.ref = read(self.inputs.path("ref"))
        self.baseline = read(self.inputs.path("baseline"))
        self.n_ops = 0
        self.audio_sig = None   # audio verdicts of the first (warm-up) op
        self.drift_rows = None
        self.out = None

    def before_op(self) -> None:
        self.n_ops += 1
        self.out = os.path.join(OUT, f"{self.name}_{self.n_ops}")
        shutil.rmtree(self.out, ignore_errors=True)

    def op(self):
        from json_skema_spark import runner

        return runner.validate_table(
            self.spark, self.clips, self.out, transcripts_ref=self.ref,
            baseline_profile=self.baseline, num_buckets=self.num_buckets)

    def check(self, metrics) -> list[str]:
        from pyspark.sql import functions as F

        want = self.oracle
        read = self.spark.read.parquet
        errs = diff("committed buckets", len(metrics), self.num_buckets)
        errs += diff("bucket rows sum", sum(m["rows"] for m in metrics.values()),
                     want["rows"])
        viol = read(os.path.join(self.out, "violations"))
        counts = {kw_key(r["keyword"], r["keyword_location"]): r["count"]
                  for r in viol.groupBy("keyword", "keyword_location").count().collect()}
        audio_n = counts.pop(AUDIO_KEY, 0)
        errs += diff("schema violation keyword counts", counts, want["schema"]["keywords"])
        errs += diff("bucket violations sum",
                     sum(m["violations"] for m in metrics.values()),
                     sum(counts.values()) + audio_n)
        if audio_n < want["orphans"]:
            errs.append(f"audio violations {audio_n} < orphan clips {want['orphans']}")
        h = (viol.filter(F.col("keyword") == "format")
             .agg(F.sum(F.xxhash64("row_key", "message").cast("decimal(38,0)")))
             .first()[0])
        sig = (audio_n, str(h))
        if self.audio_sig is None:
            self.audio_sig = sig
        errs += diff("audio verdicts vs the warm-up op", sig, self.audio_sig)
        errs += diff("duplicate keys",
                     read(os.path.join(self.out, "violations_unique")).count(),
                     want["dup_keys"])
        errs += diff("orphan rows",
                     read(os.path.join(self.out, "violations_ref")).count(),
                     want["orphans"])
        drift_rows = read(os.path.join(self.out, "drift")).count()
        if self.drift_rows is None:
            self.drift_rows = drift_rows
        errs += diff("drift report rows", drift_rows, self.drift_rows)
        return errs

    def after_op(self) -> None:
        if self.out:
            shutil.rmtree(self.out, ignore_errors=True)


WORKLOADS = {w.name: w for w in (VerdictScan, ViolationsDense, PipelineAudio)}
