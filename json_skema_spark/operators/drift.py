"""Distribution-drift scoring vs a baseline profile (north rule; no direct
reference analogue — SURVEY.md §2.f "approx distinct / quantiles / drift").

A *profile* is the output of ``operators.stats.profile`` (FIXTURES.md §3).
Drift compares a current profile against a baseline one and flags columns
whose null-fraction delta, distinct-count ratio, or quantile shift exceeds
thresholds. Profiles are tiny (one row per column), so the join is
negligible regardless of the underlying table size (full-outer — which
BroadcastHashJoin cannot execute, so a broadcast hint would be silently
ignored).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# The drift thresholds, shared with the streaming monitor
# (``streaming.drift_stream.windowed_drift``).
NULL_DELTA_THRESHOLD = 0.01
DISTINCT_RATIO_THRESHOLD = 0.5
QUANTILE_REL_THRESHOLD = 0.25


def drift_report(current: DataFrame, baseline: DataFrame) -> DataFrame:
    """Per-column drift flags.

    - ``null_drift``: |null_fraction - baseline| > ``NULL_DELTA_THRESHOLD``
    - ``distinct_drift``: approx_distinct ratio outside
      [``DISTINCT_RATIO_THRESHOLD``, 1/``DISTINCT_RATIO_THRESHOLD``]
    - ``quantile_drift``: max relative per-quantile shift >
      ``QUANTILE_REL_THRESHOLD`` (quantiles compared positionally; both
      sides computed with the same quantile vector)

    Refuses per-partition profile parts (a ``partition_id`` column):
    duplicate column_name rows would turn the full-outer join into a
    per-column cross product comparing arbitrary partition pairs — the
    same refusal as streaming ``baseline_map`` (review r05c); merge parts
    first (``stats.merge_profiles``).
    """
    for side, prof in (("current", current), ("baseline", baseline)):
        if "partition_id" in prof.columns:
            raise ValueError(
                f"{side} profile carries partition_id (per-partition "
                "parts): drift_report compares ONE row per column - merge "
                "the parts first (operators.stats.merge_profiles)")
    cur = current.select(
        "column_name",
        F.col("null_fraction").alias("nf_cur"),
        F.col("approx_distinct").alias("ad_cur"),
        F.col("quantiles").alias("q_cur"),
    )
    base = baseline.select(
        "column_name",
        F.col("null_fraction").alias("nf_base"),
        F.col("approx_distinct").alias("ad_base"),
        F.col("quantiles").alias("q_base"),
    )
    # FULL outer: a column added to or dropped from the profile is the most
    # extreme drift there is — an inner join would emit no row for it and a
    # monitor checking `drifted` would see all-clear. One-sided rows get
    # null metric deltas and drifted=True (via the coalesce below).
    j = cur.join(base, "column_name", "full_outer")
    rel_shift = F.zip_with(
        "q_cur", "q_base",
        lambda a, b: F.when(
            (a.isNull()) | (b.isNull()), F.lit(None).cast("double")
        ).otherwise(
            F.abs(a - b) / F.greatest(F.abs(b), F.lit(1e-12))
        ),
    )
    max_shift = F.array_max(F.filter(rel_shift, lambda x: x.isNotNull()))
    # both-zero distinct counts (an all-null column on both sides) are
    # IDENTICAL distributions, not drift — without the guard the ratio is
    # 0/1 = 0 < threshold and the monitor alarms permanently (review r04)
    ratio = F.when((F.col("ad_cur") == 0) & (F.col("ad_base") == 0),
                   F.lit(1.0)) \
        .otherwise(F.col("ad_cur") / F.greatest(F.col("ad_base"), F.lit(1)))
    return j.select(
        "column_name",
        (F.abs(F.col("nf_cur") - F.col("nf_base"))).alias("null_delta"),
        (F.abs(F.col("nf_cur") - F.col("nf_base")) > NULL_DELTA_THRESHOLD)
        .alias("null_drift"),
        ratio.alias("distinct_ratio"),
        ((ratio < DISTINCT_RATIO_THRESHOLD)
         | (ratio > 1.0 / DISTINCT_RATIO_THRESHOLD)).alias("distinct_drift"),
        F.coalesce(max_shift, F.lit(0.0)).alias("max_quantile_shift"),
        (F.coalesce(max_shift, F.lit(0.0)) > QUANTILE_REL_THRESHOLD)
        .alias("quantile_drift"),
    ).withColumn(
        "drifted",
        # one-sided (added/removed column) rows have null flags: drifted
        F.coalesce(
            F.col("null_drift") | F.col("distinct_drift")
            | F.col("quantile_drift"), F.lit(True)))
