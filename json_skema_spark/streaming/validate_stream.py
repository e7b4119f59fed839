"""Streaming validation: the compiled constraint plan applied to unbounded
input.

The reference is strictly batch/one-document (SURVEY.md §2.g: "Streaming:
out of scope" for the north rule, which wants batch + manifest resume), but
the engine's predicates are stateless per-row Column expressions, so a
compiled plan's ``apply`` and ``violations`` run on a ``readStream``
DataFrame unchanged. This module adds the one stream-only output: a
windowed violation-rate aggregation with watermarked late-data handling for
monitoring pipelines.

Scale notes: per-row verdicts add no state; the only stateful operator is
the windowed count, whose state is bounded by (window x keyword) cardinality.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from json_skema_spark.plans.compile import Compiler
from json_skema_spark.plans.verdict import ValidationPlan
from json_skema_spark.operators.util import quoted_col


def violation_rate(stream_df: DataFrame, schema_doc: Any, ts_col: str,
                   window: str = "1 minute", watermark: str = "2 minutes",
                   **compiler_kwargs) -> DataFrame:
    """Watermarked per-window violation counts by keyword — the streaming
    analogue of ``ValidationPlan.summary``.

    Counts from the same per-row ``counts`` as ``summary()`` (the compiled
    legs), added per keyword, so no failure array or message is built.
    Rows are filtered on the boolean verdict first, and only a row's
    non-zero keyword counts reach the windowed aggregation: its state and
    output rows are those of counting the exploded failures by keyword."""
    plan = ValidationPlan(Compiler(schema_doc, **compiler_kwargs),
                          stream_df.schema)
    by_keyword: dict[str, list[Column]] = {}
    for (k, _), c in plan.counts.items():
        by_keyword.setdefault(k, []).append(c)
    per_row = F.array(*[
        F.struct(F.lit(k).alias("keyword"),
                 sum(cs, start=F.lit(0)).alias("n"))
        for k, cs in by_keyword.items()]).cast(
            "array<struct<keyword:string,n:int>>")
    return (
        stream_df.withWatermark(ts_col, watermark)
        .filter(~plan.passed)
        # quoted_col: a dotted top-level ts column must resolve literally,
        # not as struct access (review r05c). The post-select reference
        # quotes again — the selected column KEEPS the dotted name.
        .select(quoted_col(ts_col), F.explode(per_row).alias("f"))
        .filter(F.col("f.n") > 0)
        .groupBy(F.window(quoted_col(ts_col), window).alias("w"),
                 F.col("f.keyword").alias("keyword"))
        .agg(F.sum("f.n").alias("n_violations"))
        .select(F.col("w.start").alias("window_start"),
                F.col("w.end").alias("window_end"), "keyword", "n_violations")
    )
