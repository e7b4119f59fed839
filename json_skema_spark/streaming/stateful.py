"""Custom stateful streaming operator via ``applyInPandasWithState``.

Tracks a per-key running violation tally across micro-batches — the
streaming analogue of the manifest metrics (rows seen, rows failed, first/
last seen batch) — demonstrating the engine's path for stateful semantics
that windowed aggregation can't express (running totals that never close).

State is one small tuple per key; at 10^12-row scale the key space (e.g.
source shard or tenant, not clip_id) bounds the state store.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from json_skema_spark.operators.util import quoted_col

OUTPUT_SCHEMA = ("key string, rows_seen long, rows_failed long, "
                 "fail_fraction double")
STATE_SCHEMA = "rows_seen long, rows_failed long"


def _tally(key: tuple, pdfs: Iterator[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
    seen, failed = state.get if state.exists else (0, 0)
    for pdf in pdfs:
        seen += len(pdf)
        failed += int((~pdf["passed"]).sum())
    state.update((seen, failed))
    yield pd.DataFrame({
        "key": [key[0]],
        "rows_seen": [seen],
        "rows_failed": [failed],
        "fail_fraction": [failed / seen if seen else 0.0],
    })


def tally_verdicts(stream_df: DataFrame, passed: Column,
                   key_col: str) -> DataFrame:
    """Per-key cumulative (rows_seen, rows_failed, fail_fraction) of an
    already compiled verdict, updated every micro-batch; emit in update
    mode."""
    # key cast to string: OUTPUT_SCHEMA declares `key string`, and a
    # non-string grouping column (int shard ids — the docstring's own
    # suggested key class) would fail the pandas->Arrow conversion on the
    # first micro-batch
    flagged = stream_df.withColumn("passed", passed) \
        .select(quoted_col(key_col).cast("string").alias("key"), "passed")
    return (
        flagged.groupBy("key")
        .applyInPandasWithState(
            _tally, OUTPUT_SCHEMA, STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout)
    )
