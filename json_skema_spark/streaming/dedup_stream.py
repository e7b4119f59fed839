"""Streaming deduplication: the uniqueness rule (operators/uniqueness.py)
re-expressed for unbounded input.

No reference analogue (json-sKema is batch/one-document); this is the
ingest shape: a firehose of rows where replays must be dropped online
without unbounded state.

Scale notes:
- ``dropDuplicatesWithinWatermark`` keys state on the key column only and
  EVICTS state older than the watermark horizon — the state store stays
  bounded by (arrival rate x watermark), where a plain ``dropDuplicates``
  would grow forever at 10^12-row scale.
- first-wins semantics within the horizon; duplicates arriving later than
  the watermark are a documented trade-off (catch them with the batch
  operator in a daily compaction pass).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def unique_key_stream(stream_df: DataFrame, key_col: str, ts_col: str, *,
                      watermark: str = "10 minutes") -> DataFrame:
    """Streaming analogue of the clip_id uniqueness rule: first row per key
    wins within the watermark horizon; replays/duplicate ids are dropped.
    Null-key rows bypass dedup (a null is not a key occurrence) — route
    them to the schema validator's `required` check instead."""
    wm = stream_df.withWatermark(ts_col, watermark)
    return (wm.filter(F.col(key_col).isNotNull())
            .dropDuplicatesWithinWatermark([key_col])
            .unionByName(wm.filter(F.col(key_col).isNull())))
