"""Referential-integrity checks — the table-scale generalization of ``$ref``
resolution ("a value must satisfy a schema defined elsewhere",
reference SchemaLoader.kt:381-405) and of ``enum`` membership against a
reference set (Validator.kt:625-630).

The join strategy is left to Catalyst: AQE picks it from runtime
statistics (a small dimension broadcasts, with no shuffle of the fact
side; a large one falls back to sort-merge). No hint is forced and no
eager ``dim.count()`` runs — that would add a full extra scan of the
dimension table, the most expensive part of the query at 100 TB
(VERDICT r01).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def orphans(fact: DataFrame, dim: DataFrame, key: str) -> DataFrame:
    """Fact rows whose key has no match in ``dim`` (left_anti).

    The reference analogue is an unresolvable ``$ref``
    (SchemaError, SchemaLoader.kt:381-405) — here reported per row instead of
    failing the compile.
    """
    # NOT ensure_parallelism'd (r06 measurement): the partial-distinct hash
    # agg collapses the dim to its key set BEFORE the exchange, so a
    # round-robin repartition ahead of it just shuffles every raw key the
    # partial agg would have collapsed — measured 0.6 s -> 1.5 s at sf1.0
    d = dim.select(key).distinct()
    # NULL fact keys are NOT failed lookups: the schema validator's
    # required/type check owns them (engine-wide convention — "a null is
    # not a match"); left_anti would otherwise report every null-key row
    # as a $ref orphan (review r04)
    return fact.filter(F.col(key).isNotNull()).join(d, on=key, how="left_anti")


def members(fact: DataFrame, dim: DataFrame, key: str) -> DataFrame:
    """Fact rows whose key exists in ``dim`` (left_semi) — large-set ``enum``."""
    return fact.join(dim.select(key).distinct(), on=key, how="left_semi")


def referential_violations(fact: DataFrame, dim: DataFrame,
                           key: str) -> DataFrame:
    """Orphan rows rendered in the standard violations shape (FIXTURES.md §5).

    ``partition_id`` is tagged on the FACT SIDE BEFORE the join: evaluated
    after an SMJ it would report the post-shuffle exchange partition (then
    rewritten again by AQE coalescing), not the source partition the
    violating row came from — same rule as ``uniqueness.duplicate_rows``."""
    tagged = fact.withColumn("partition_id", F.spark_partition_id())
    o = orphans(tagged, dim, key)
    return o.select(
        F.col(key).cast("string").alias("row_key"),
        F.lit("$ref").alias("keyword"),
        F.lit("#/$ref").alias("keyword_location"),
        F.lit(f"#/{key}").alias("instance_location"),
        F.lit("#/$ref").alias("dynamic_path"),
        F.format_string(
            f"{key} %s has no matching row in the reference table",
            F.col(key).cast("string")).alias("message"),
        F.col("partition_id"),
    )


def field_equality_violations(fact: DataFrame, dim: DataFrame, key: str,
                              field: str) -> DataFrame:
    """Rows where ``fact.field`` disagrees with ``dim.field`` for the same key
    (e.g. transcript equality vs the reference table — BASELINE.json
    input_hint's per-row invariant). Null-safe comparison via ``eqNullSafe``.
    ``partition_id`` is tagged pre-join (see ``referential_violations``)."""
    # dedupe the dim pairs, then treat a fact value matching ANY of the
    # key's reference values as conforming: an un-deduplicated dim fans a
    # fact row out N ways and reports a row that EQUALS a legitimate
    # reference value as a const violation (review r04). The anti-join on
    # (key, value) keeps exactly the rows matching none; a preceding semi
    # on key excludes keys absent from dim (those are orphans, not
    # equality violations).
    d = dim.select(F.col(key), F.col(field).alias("_expected")).distinct()
    tagged = fact.withColumn("partition_id", F.spark_partition_id())
    in_dim = tagged.join(d.select(key).distinct(), on=key, how="left_semi")
    joined = (in_dim.join(
        d, on=[in_dim[key].eqNullSafe(d[key]),
               in_dim[field].eqNullSafe(d["_expected"])], how="left_anti"))
    return (
        joined
        .select(
            F.col(key).cast("string").alias("row_key"),
            F.lit("const").alias("keyword"),
            F.lit("#/const").alias("keyword_location"),
            F.lit(f"#/{field}").alias("instance_location"),
            F.lit("#/const").alias("dynamic_path"),
            F.lit(f"{field} does not equal the reference value").alias("message"),
            F.col("partition_id"),
        )
    )
