"""Streaming deduplication: the exact-dedup operator (operators/dedup.py)
re-expressed for unbounded input.

No reference analogue (json-sKema is batch/one-document); this is the
training-data-ingest shape: a firehose of documents where duplicates must be
dropped online without unbounded state.

Scale notes:
- ``dropDuplicatesWithinWatermark`` keys state on the 16-byte content digest
  only (never the text) and EVICTS state older than the watermark horizon —
  the state store stays bounded by (arrival rate x watermark), where a plain
  ``dropDuplicates`` would grow forever at 10^12-row scale.
- first-wins semantics within the horizon; duplicates arriving later than
  the watermark are a documented trade-off (catch them with the batch
  operator in a daily compaction pass).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from json_skema_spark.operators.dedup import content_digest


def exact_dedup_stream(stream_df: DataFrame, text_col: str, ts_col: str, *,
                       watermark: str = "10 minutes") -> DataFrame:
    """Drop content-duplicate rows from a stream, state bounded by
    ``watermark``. Output: the input rows, first occurrence per digest."""
    wm = stream_df.withWatermark(ts_col, watermark)
    # a user column literally named "_digest" (e.g. batch-dedup output
    # re-ingested) would be OVERWRITTEN by withColumn and then dropped from
    # only this branch, failing the unionByName — pick a collision-free
    # internal name instead (review r05c)
    digest_col = "_digest"
    while digest_col in stream_df.columns:
        digest_col += "_"
    # null text -> null digest, and dropDuplicatesWithinWatermark groups
    # null keys together: all-but-first null-text rows would be silently
    # DROPPED as "duplicates" of content that was never compared. Null-text
    # rows bypass dedup instead (they are not duplicates of anything).
    deduped = (wm.filter(F.col(text_col).isNotNull())
               .withColumn(digest_col, content_digest(F.col(text_col)))
               .dropDuplicatesWithinWatermark([digest_col])
               .drop(digest_col))
    return deduped.unionByName(wm.filter(F.col(text_col).isNull()))


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
