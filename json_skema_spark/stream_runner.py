"""Production entry point for the STREAMING pipeline — the `runner.py`
twin for unbounded input (VERDICT r04 #6: the streaming modules were
tested but unreachable from any entry point).

Mirrors the batch CLI's semantics over a rate-limited file source:

- **verdicts / violations**: the compiled constraint plan applied per
  micro-batch (stateless — identical Column expressions to batch, so a
  resumed stream and a batch run over the same rows emit identical
  verdicts; pinned by tests/test_stream_runner.py).
- **dedup**: first-wins key dedup with watermark-bounded state
  (`streaming/dedup_stream.unique_key_stream`).
- **drift**: per-window drift verdicts against a baseline profile folded
  into the plan as literals (`streaming/drift_stream.windowed_drift`).

Crash-safety is Structured Streaming's native checkpointing, one
checkpoint dir per query under ``out/_checkpoints/<name>`` — the file
source records processed files there, so a killed run resumes at
micro-batch granularity with no re-emission (the streaming analogue of the
batch manifest's bucket resume). ``max_files_per_trigger`` bounds each
micro-batch: at production scale the trigger cadence, not the backlog
size, sizes executor memory.

Reference anchor: the per-row verdict semantics are Validator.kt's — only
the execution substrate (micro-batch vs one document) differs.
"""

from __future__ import annotations

import argparse
import json
import os
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from json_skema_spark.plans.compile import compile_schema
from json_skema_spark.runner import CLIPS_SCHEMA_DOC
from json_skema_spark.streaming.dedup_stream import unique_key_stream
from json_skema_spark.streaming.drift_stream import baseline_map, windowed_drift
from json_skema_spark.streaming.stateful import tally_verdicts

STREAM_QUERIES = ("verdicts", "violations", "dedup", "drift", "tally")


def start_streaming(spark: SparkSession, input_dir: str, out_dir: str, *,
                    schema_doc: Any = None, input_schema=None,
                    row_key: str = "clip_id", ts_col: str = "ts",
                    dedup_watermark: str = "10 minutes",
                    drift_window: str = "1 minute",
                    drift_watermark: str = "2 minutes",
                    baseline_profile: DataFrame | None = None,
                    tally_key: str | None = None,
                    max_files_per_trigger: int | None = 8,
                    available_now: bool = False,
                    queries=None) -> dict:
    """Start the selected streaming queries; returns
    ``{name: StreamingQuery}``. Stop/kill at any point; calling again with
    the same ``out_dir`` resumes every query from its checkpoint.

    ``input_schema``: streaming file sources need an explicit schema; when
    omitted it is taken from a one-time batch read of ``input_dir``
    (driver-side metadata only — fine for parquet, where the footer carries
    it). ``available_now=True`` drains the current backlog then stops each
    query (the batch-parity mode the tests and backfills use); the default
    runs continuously."""
    schema_doc = schema_doc if schema_doc is not None else CLIPS_SCHEMA_DOC
    if input_schema is None:
        input_schema = spark.read.parquet(input_dir).schema
    cols = set(input_schema.fieldNames())
    needs = {"violations": [row_key], "dedup": [row_key, ts_col],
             "drift": [ts_col],
             "tally": [tally_key] if tally_key else []}

    def _unmet(q: str) -> str | None:
        """The prerequisite (an input or a column) query ``q`` lacks, as
        the refusal message; None when it can run."""
        if q == "drift" and baseline_profile is None:
            return ("the drift query needs --baseline-profile (a batch "
                    "operators/stats.profile output) — drop 'drift' from "
                    "queries to run without it")
        if q == "tally" and tally_key is None:
            return ("the tally query needs --tally-key (a BOUNDED-cardinality "
                    "column: source shard, tenant, codec — state is one "
                    "tuple per key) — drop 'tally' to run without it")
        missing = [c for c in needs.get(q, []) if c not in cols]
        if missing:
            return (f"streaming query {q!r} needs column(s) {missing} that "
                    f"the input lacks (have: {sorted(cols)}) — drop {q!r} "
                    "from --queries or fix --key/--ts/--tally-key")
        return None

    # default query set = every query with no unmet prerequisite; an
    # EXPLICIT query with one raises it instead, so a caller who asked for
    # drift/tally/dedup without its input gets a loud error while the
    # default never breaks existing callers (review r05)
    if queries is None:
        queries = tuple(q for q in STREAM_QUERIES if _unmet(q) is None)
    # validate EVERYTHING before the first .start(): raising after a query
    # is already running would leak an orphaned StreamingQuery the caller
    # can't stop (no handle), and a retry against the same checkpoint dir
    # then fails with "query with same id is already active" (review r05
    # twice: prerequisite inputs, then missing watermark/key COLUMNS —
    # the latter caught driving the CLI against a ts-less input)
    queries = tuple(q.strip() for q in queries)
    unknown = [q for q in queries if q not in STREAM_QUERIES]
    if unknown:
        raise ValueError(f"unknown streaming queries {unknown}; "
                         f"choose from {STREAM_QUERIES}")
    for q in queries:
        unmet = _unmet(q)
        if unmet is not None:
            raise ValueError(unmet)
    # one compile feeds the verdicts, violations and tally queries
    plan = compile_schema(schema_doc, input_schema)
    reader = spark.readStream.schema(input_schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(input_dir)

    def _writer(df: DataFrame, name: str):
        w = (df.writeStream.outputMode("append").format("parquet")
             .option("path", os.path.join(out_dir, name))
             .option("checkpointLocation",
                     os.path.join(out_dir, "_checkpoints", name))
             .queryName(f"json_skema_{name}"))
        if available_now:
            w = w.trigger(availableNow=True)
        return w

    running = {}
    try:
        if "verdicts" in queries:
            running["verdicts"] = _writer(
                plan.apply(stream, mode="verdict"), "verdicts").start()
        if "violations" in queries:
            running["violations"] = _writer(
                plan.violations(stream, row_key), "violations").start()
        if "dedup" in queries:
            running["dedup"] = _writer(
                unique_key_stream(stream, row_key, ts_col,
                                  watermark=dedup_watermark),
                "deduped").start()
        if "drift" in queries:
            running["drift"] = _writer(
                windowed_drift(stream, baseline_map(baseline_profile), ts_col,
                               window=drift_window, watermark=drift_watermark),
                "drift").start()
        if "tally" in queries:
            # update-mode output (running totals re-emit changed keys) can't
            # feed a parquet file sink directly; foreachBatch writes each
            # batch's updated snapshot rows into a _batch_id=<id> partition
            # dir with OVERWRITE — a crash between the parquet commit and the
            # streaming-checkpoint commit replays the batch into the same dir
            # idempotently (a blind append would double-write those rows —
            # review r05). The latest partition per key is the current tally;
            # the state store behind the checkpoint carries the running totals
            # across kill/resume.
            tally = tally_verdicts(stream, plan.passed, tally_key)
            tally_path = os.path.join(out_dir, "tally")

            def _write_tally(bdf: DataFrame, batch_id: int) -> None:
                bdf.write.mode("overwrite").parquet(
                    os.path.join(tally_path, f"_batch_id={batch_id}"))

            w = (tally.writeStream.outputMode("update")
                 .foreachBatch(_write_tally)
                 .option("checkpointLocation",
                         os.path.join(out_dir, "_checkpoints", "tally"))
                 .queryName("json_skema_tally"))
            if available_now:
                w = w.trigger(availableNow=True)
            running["tally"] = w.start()
        return running
    except BaseException:
        # failures Spark only raises at plan construction/.start()
        # (non-timestamp --ts column, malformed interval strings,
        # baseline_map's duplicate-column/empty-baseline errors) land
        # AFTER earlier queries started — without this net they leak
        # as orphaned active StreamingQueries and a retry against the
        # same session fails with 'query ... is already active'
        # (review r05c); the presence checks above catch only what a
        # column listing can see
        for q in running.values():
            try:
                q.stop()
            except Exception:
                pass
        raise


def await_streaming(running: dict) -> None:
    for q in running.values():
        q.awaitTermination()


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True,
                   help="parquet directory watched as a file stream")
    p.add_argument("--out", required=True)
    p.add_argument("--schema", help="path to a JSON schema document")
    p.add_argument("--baseline-profile",
                   help="baseline profile parquet (enables the drift query)")
    p.add_argument("--key", default="clip_id")
    p.add_argument("--ts", default="ts")
    p.add_argument("--tally-key",
                   help="bounded-cardinality column for the running "
                        "per-key violation tally (enables the tally query)")
    p.add_argument("--dedup-watermark", default="10 minutes")
    p.add_argument("--drift-window", default="1 minute")
    p.add_argument("--drift-watermark", default="2 minutes")
    p.add_argument("--max-files-per-trigger", type=int, default=8)
    p.add_argument("--available-now", action="store_true",
                   help="drain the backlog then exit (backfill mode)")
    p.add_argument("--queries", default=None,
                   help="comma list from: " + ",".join(STREAM_QUERIES))
    args = p.parse_args()

    spark = SparkSession.builder.appName("json_skema_spark_stream").getOrCreate()
    schema_doc = None
    if args.schema:
        with open(args.schema) as f:
            schema_doc = json.load(f)
    base = (spark.read.parquet(args.baseline_profile)
            if args.baseline_profile else None)
    # None -> the library default (every query whose prerequisites are met)
    names = tuple(args.queries.split(",")) if args.queries else None
    running = start_streaming(
        spark, args.input, args.out, schema_doc=schema_doc,
        row_key=args.key, ts_col=args.ts,
        dedup_watermark=args.dedup_watermark,
        drift_window=args.drift_window, drift_watermark=args.drift_watermark,
        baseline_profile=base, tally_key=args.tally_key,
        max_files_per_trigger=args.max_files_per_trigger,
        available_now=args.available_now, queries=names)
    print(json.dumps({"queries": sorted(running)}))
    await_streaming(running)


if __name__ == "__main__":
    main()
