"""Global key-uniqueness checks — the cross-row generalization of
``uniqueItems`` (reference Validator.kt:692-708, which reports the positions
of the first duplicate pair within one array; here every duplicate *row* of a
10^12-row table is tagged, with its partition lineage).

Scale design:

- ``duplicate_keys``: one hash aggregation — map-side partial counting
  bounds any reducer's share of a hot key at one row per map task (the
  combiner collapses each task's contribution before the shuffle), so
  counting needs no explicit salt; the r05 salted two-phase shuffled the
  full key set twice for a guarantee the combiner already provides (r06).
  Salting remains the right tool where per-group STATE grows with the
  group: ``exact_duplicates``' id lists and ``violation_digest``'s example
  keys each salt their own two-phase aggregation.
- ``duplicate_rows``: tags every row of a duplicated key via a join against
  the duplicate-key set rather than a ``Window.partitionBy(key)`` — a window
  would shuffle the *full* table on a skewed key; the agg+join only
  shuffles counts.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def duplicate_keys(df: DataFrame, key: str | Column) -> DataFrame:
    """Keys occurring more than once, with their multiplicity.

    Output: ``(key, n_rows)`` with ``n_rows >= 2``.

    ONE ``groupBy(key).count()`` (r06): counting is the one aggregation
    where the explicit salt is redundant, because Spark's map-side partial
    count already bounds what any reducer receives for a hot key at ONE
    row per map task — the skew guarantee the r05 salted two-phase
    existed for — while the salt prevented exactly that collapse (every
    (key, salt) sub-group of a mostly-unique key column is distinct, so
    the plan shuffled the full key set TWICE: measured 1.65 s vs 1.08 s
    at sf1.0). Aggregations whose per-group STATE grows with the group
    (``exact_duplicates``' top-K id lists, ``violation_digest``'s
    examples) keep their salted two-phase.
    """
    k = F.col(key) if isinstance(key, str) else key
    # a NULL is NOT a key occurrence (engine-wide convention: streaming
    # unique_key_stream, contamination, dedup): groupBy would lump every
    # null-key row into one "duplicated key" that duplicate_rows' equi-join
    # then can't even find — the two APIs would disagree (review r04)
    # NOT ensure_parallelism'd (r06 measurement): with mostly-unique keys
    # the partial agg collapses nothing, so a round-robin repartition
    # ahead of it adds a second full-size key shuffle
    return (
        df.select(k.alias("key")).filter(F.col("key").isNotNull())
        .groupBy("key")
        .agg(F.count("*").alias("n_rows"))
        .filter(F.col("n_rows") > 1)
    )


def duplicate_rows(df: DataFrame, key: str) -> DataFrame:
    """Every row whose key occurs more than once (the row-level violation set,
    paralleling UniqueItemsValidationFailure.arrayPositions,
    UniqueItems.kt:11-16), annotated with partition lineage.

    Join strategy: the duplicate-key set is *unbounded* (a skewed 10^12-row
    table can have millions of dup keys), so no broadcast is forced; AQE
    picks broadcast vs shuffled join from runtime statistics."""
    clash = [c for c in ("partition_id", "n_rows") if c in df.columns]
    if clash:
        # withColumn would silently OVERWRITE a user 'partition_id' column
        # (wrong lineage reported), and a user 'n_rows' makes the join
        # output ambiguous — same targeted refusal as stats.profile
        # (review r04/r05c)
        raise ValueError(
            f"duplicate_rows adds output column(s) {clash} that the input "
            "already carries — rename them first")
    dups = duplicate_keys(df, key).select(F.col("key").alias(key), "n_rows")
    return (
        df.withColumn("partition_id", F.spark_partition_id())
        .join(dups, on=key, how="inner")
    )


def uniqueness_violations(df: DataFrame, key: str) -> DataFrame:
    """Duplicate keys rendered as violation rows in the engine's standard
    violations shape (FIXTURES.md §5)."""
    dups = duplicate_keys(df, key)
    return dups.select(
        F.col("key").cast("string").alias("row_key"),
        F.lit("uniqueItems").alias("keyword"),
        F.lit("#/uniqueItems").alias("keyword_location"),
        F.lit(f"#/{key}").alias("instance_location"),
        F.lit("#/uniqueItems").alias("dynamic_path"),
        F.format_string(
            f"key %s occurs in %s rows, expected 1", F.col("key").cast("string"),
            F.col("n_rows")).alias("message"),
        # NULL: an AGGREGATE violation has no single source partition, but
        # the column must exist for the FIXTURES.md §5 shape — without it,
        # unionByName over the runner's violation artifacts fails
        # (review r05c)
        F.lit(None).cast("int").alias("partition_id"),
    )
