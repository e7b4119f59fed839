"""Streaming distribution-drift monitor: per-window profiles vs a baseline.

Batch drift (``operators/drift.py``) answers "has this snapshot drifted?";
pipelines also need the continuous form — per event-time window, does the
incoming stream's per-column distribution still match the baseline profile
the constraints were mined from? This is the canary that fires when an
upstream producer silently starts emitting nulls or a constant.

Scale design:
- ONE watermarked windowed aggregation; state is bounded by
  (windows in flight x 1 row) — per-column stats live in the same state
  row as columnar aggregates, not per-key state.
- the baseline profile is one row per column (``operators/stats.profile``
  output); it is collected driver-side and folded into the plan as
  LITERALS — no stream-static join, nothing to re-broadcast per batch.
- approx-distinct uses the same mergeable HLL++ sketch as batch profiling.

Output one row per (window, column): null fraction + delta + flag, and
approx-distinct ratio + flag — the streaming twin of ``drift_report``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from json_skema_spark.operators.drift import (DISTINCT_RATIO_THRESHOLD,
                                              NULL_DELTA_THRESHOLD)
from json_skema_spark.operators.util import quoted_col

DRIFT_COLUMNS = ("window_start", "window_end", "column_name",
                 "null_fraction", "null_delta", "null_drift",
                 "approx_distinct", "distinct_ratio", "distinct_drift")


def baseline_map(profile: DataFrame) -> dict[str, dict]:
    """Collect a batch profile (one row per column — tiny by construction)
    into the literal map ``windowed_drift`` folds into its plan.

    Refuses per-partition profile parts (duplicate ``column_name`` rows):
    silently keeping whichever row ``collect`` returned last would compare
    every window against ONE arbitrary partition's stats (review r05c) —
    merge parts first (``operators.stats.merge_profiles``)."""
    out: dict[str, dict] = {}
    for r in profile.collect():
        c = r["column_name"]
        if c in out:
            raise ValueError(
                f"duplicate column {c!r} in baseline profile — pass the "
                "MERGED one-row-per-column profile "
                "(operators.stats.merge_profiles), not per-partition parts")
        out[c] = {"null_fraction": r["null_fraction"],
                  "approx_distinct": r["approx_distinct"]}
    return out


def windowed_drift(stream_df: DataFrame, baseline: dict[str, dict],
                   ts_col: str, *, window: str = "1 minute",
                   watermark: str = "2 minutes") -> DataFrame:
    """Per-window per-column drift verdicts against ``baseline``
    (``baseline_map`` output, or any {col: {null_fraction, approx_distinct}}).

    The thresholds are ``operators.drift``'s, the ones ``drift_report``
    uses: ``null_drift`` when |null_fraction - baseline| exceeds
    ``NULL_DELTA_THRESHOLD``; ``distinct_drift`` when the SCALE-ANCHORED
    distinct ratio falls outside [t, 1/t], t = ``DISTINCT_RATIO_THRESHOLD``.
    A window holds far fewer rows than the baseline table, so a
    raw ``ad_window / ad_baseline`` would fire on every healthy window of a
    high-cardinality column (1e5-row window vs 1e7 baseline ids = 0.01);
    the anchor is ``min(baseline_distinct, window_non_null_rows)`` — the
    most distinct values this window COULD have shown (NON-NULL rows, not
    total rows: a healthy nullable id column shows one distinct value per
    non-null row, and anchoring on total rows would alarm it forever,
    review r05c): high-cardinality columns compare against the window's own
    non-null count, low-cardinality columns against the baseline's
    value-set size, and both regimes sit near 1.0 when healthy, near 0 when
    collapsed to a constant.

    Baseline columns MISSING from the stream emit a constant drifted row
    per window (the batch ``drift_report`` convention: a vanished column is
    the most extreme drift); columns newly ADDED to the stream are out of
    scope here — run the batch ``drift_report`` for schema-drift detection.
    Emits in append mode once the watermark closes a window.
    """
    if not baseline:
        raise ValueError(
            "empty baseline: nothing to monitor — pass a non-empty profile "
            "(a zero-column baseline_map usually means the profile "
            "DataFrame had no rows)")
    cols = [c for c in baseline if c in stream_df.columns]
    missing = [c for c in baseline if c not in stream_df.columns]
    # slot aliases are positional (_c0_nn, _c0_ad, ...) and the input refs
    # backtick-quoted: a profile-supported column name like "a.b" must
    # neither fail analysis nor silently read a nested field (review r05c)
    aggs = [F.count(F.lit(1)).alias("_rows")]
    for i, c in enumerate(cols):
        aggs.append(F.count(quoted_col(c)).alias(f"_c{i}_nn"))
        aggs.append(F.approx_count_distinct(quoted_col(c)).alias(f"_c{i}_ad"))
    win = (stream_df.withWatermark(ts_col, watermark)
           .groupBy(F.window(F.col(ts_col), window).alias("w"))
           .agg(*aggs))

    per_col = []
    for i, c in enumerate(cols):
        nn = F.col(f"_c{i}_nn")
        ad = F.col(f"_c{i}_ad")
        nf = (F.col("_rows") - nn) / F.greatest(F.col("_rows"), F.lit(1))
        nd = F.abs(nf - F.lit(float(baseline[c]["null_fraction"])))
        anchor = F.greatest(
            F.least(F.lit(float(baseline[c]["approx_distinct"])),
                    nn.cast("double")), F.lit(1.0))
        ratio = ad / anchor
        if float(baseline[c]["approx_distinct"]) == 0.0:
            # both-zero distinct counts (all-null column in baseline AND
            # window) are IDENTICAL distributions, not drift — same guard
            # as batch drift_report (review r04); without it every healthy
            # window of an all-null-baselined column alarms forever
            ratio = F.when(ad == 0, F.lit(1.0)).otherwise(ratio)
        per_col.append(F.struct(
            F.lit(c).alias("column_name"),
            nf.alias("null_fraction"),
            nd.alias("null_delta"),
            (nd > NULL_DELTA_THRESHOLD).alias("null_drift"),
            ad.alias("approx_distinct"),
            ratio.alias("distinct_ratio"),
            ((ratio < DISTINCT_RATIO_THRESHOLD)
             | (ratio > 1.0 / DISTINCT_RATIO_THRESHOLD))
            .alias("distinct_drift")))
    for c in missing:
        per_col.append(F.struct(
            F.lit(c).alias("column_name"),
            F.lit(None).cast("double").alias("null_fraction"),
            F.lit(None).cast("double").alias("null_delta"),
            F.lit(True).alias("null_drift"),
            F.lit(None).cast("long").alias("approx_distinct"),
            F.lit(None).cast("double").alias("distinct_ratio"),
            F.lit(True).alias("distinct_drift")))

    return (win.select(F.col("w.start").alias("window_start"),
                       F.col("w.end").alias("window_end"),
                       F.explode(F.array(*per_col)).alias("e"))
            .select("window_start", "window_end", "e.*"))
