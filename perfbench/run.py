"""json_skema_spark benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload verdict_scan --seed 1 --seconds 10 --trace 0

Starts a ``local[<cores>]`` session, prepares the seed's inputs (see
``prepare.py``), sets the workload up, runs its fixed warm-up ops, then runs
ops one at a time (closed loop) for ``--seconds`` of timed work, checking
every op against the DuckDB oracle outside the timed region.

``--trace 0`` prints the end-to-end metrics: ``rows_per_s`` (median over
the timed ops of input rows / op seconds), ``setup_s`` (process start to
the first timed op, minus input generation) and ``ok_frac`` (share of timed
ops whose output matched the oracle). ``--trace 1`` runs the traced mode
of ``tracing.py`` instead and prints the per-layer metrics.

The last line of stdout is the JSON result; progress goes to stderr.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

import sparkenv  # noqa: E402

WORKLOAD_NAMES = ("verdict_scan", "violations_dense", "pipeline_audio")
MIN_OPS = 3
MAX_CONSECUTIVE_FAILURES = 3


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def run_op(w) -> tuple[float | None, list[str]]:
    """One op: untimed preparation, the timed op, the untimed check and
    clean-up. Returns (op seconds or None if it raised, mismatches)."""
    w.before_op()
    try:
        t0 = time.perf_counter()
        result = w.op()
        op_s = time.perf_counter() - t0
        return op_s, w.check(result)
    except Exception:  # noqa: BLE001 — a failed op is counted, the run goes on
        traceback.print_exc(file=sys.stderr)
        return None, ["op raised"]
    finally:
        w.after_op()


def warm_up(w) -> list[str]:
    errs = []
    for i in range(w.warmup_ops):
        op_s, e = run_op(w)
        log(f"warm-up {i}: {op_s if op_s is None else round(op_s, 4)} s {e or 'ok'}")
        errs += e
    return errs


def timed_loop(w, seconds: float) -> dict:
    """Closed loop until ``seconds`` of timed op work (and ``MIN_OPS`` ops)."""
    op_times, ok, failed, streak = [], 0, 0, 0
    attempted = 0
    while sum(op_times) < seconds or attempted < MIN_OPS:
        attempted += 1
        op_s, errs = run_op(w)
        if op_s is None:
            failed += 1
            streak += 1
        else:
            streak = 0
            op_times.append(op_s)
            ok += not errs
        for e in errs:
            log(f"op {attempted}: MISMATCH {e}")
        if streak >= MAX_CONSECUTIVE_FAILURES:
            break
    return {"op_times": op_times, "ok": ok, "failed": failed, "attempted": attempted}


def run_workload(w, seconds: float, t_start: float, gen_s: float = 0.0) -> dict:
    """Set up, warm up and measure one workload; returns the result object.
    ``setup_s`` runs from ``t_start`` to the first timed op, minus
    ``gen_s`` of input generation."""
    w.setup()
    warm_errs = warm_up(w)
    setup_s = time.perf_counter() - t_start - gen_s
    loop = timed_loop(w, seconds)
    times = loop["op_times"]
    log(f"{len(times)} timed ops, op s: {' '.join(f'{t:.3f}' for t in times)}")
    rows_per_s = statistics.median(w.rows / t for t in times) if times else 0.0
    return {
        "correct": not warm_errs and loop["ok"] == loop["attempted"],
        "attempted": loop["attempted"],
        "failed": loop["failed"],
        "metrics": {
            "rows_per_s": {"value": rows_per_s, "unit": "rows/s"},
            "setup_s": {"value": setup_s, "unit": "s"},
            "ok_frac": {"value": loop["ok"] / loop["attempted"], "unit": "frac"},
        },
    }


def run_timed(workload: str, seed: int, seconds: float) -> dict:
    import prepare
    from workloads import WORKLOADS

    cls = WORKLOADS[workload]
    spark = sparkenv.start_spark(f"perfbench-{workload}")
    try:
        inputs, gen_s = prepare.ensure(spark, cls.kind, seed)
        log(f"inputs {inputs.dir} {'reused' if inputs.reused else 'generated'}, "
            f"{gen_s:.2f} s spent generating")
        return run_workload(cls(spark, inputs), seconds, T_START, gen_s)
    finally:
        sparkenv.stop_spark(spark)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description="json_skema_spark benchmark")
    p.add_argument("--workload", choices=WORKLOAD_NAMES, required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if args.trace:
        import tracing
        result = tracing.run_traced(args.seed)
    else:
        result = run_timed(args.workload, args.seed, args.seconds)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
