"""Column profiling: per-partition and global statistics.

Generalizes the reference's per-keyword null/type handling
(Validator.kt:463-490,632-641) into the north rule's per-partition column
stats: null fraction, min/max, approx-distinct (HyperLogLog++ via
``approx_count_distinct``; mergeable sketches via ``hll_sketch_agg``),
and quantiles (``percentile_approx``; exact ``percentile`` for small scales).

All aggregations are single-pass, map-side-combinable hash aggs; output
cardinality = n_partitions x n_columns (tiny), so the final shuffle is
negligible at any input scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from json_skema_spark.operators.util import quoted_col

QUANTILES = [0.01, 0.25, 0.5, 0.75, 0.99]
RSD = 0.02  # approx_count_distinct's maximum relative standard deviation

_NUMERIC = (T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.FloatType,
            T.DoubleType, T.DecimalType)


def _col_aggs(name: str, dtype: T.DataType,
              exact_distinct: bool) -> list[Column]:
    c = quoted_col(name)
    distinct = (F.count_distinct(c) if exact_distinct
                else F.approx_count_distinct(c, RSD))
    aggs = [
        F.count(F.lit(1)).alias("n_rows"),
        F.avg(c.isNull().cast("int")).alias("null_fraction"),
        F.min(c).cast("string").alias("min_value"),
        F.max(c).cast("string").alias("max_value"),
        distinct.alias("approx_distinct"),
    ]
    if isinstance(dtype, _NUMERIC):
        aggs.append(F.percentile_approx(c.cast("double"), QUANTILES, 10_000)
                    .alias("quantiles"))
    else:
        aggs.append(F.lit(None).cast("array<double>").alias("quantiles"))
    return aggs


_PROFILE_FIELDS = ("n_rows", "null_fraction", "min_value", "max_value",
                   "approx_distinct", "quantiles")


def profile(df: DataFrame, columns: list[str] | None = None, *,
            per_partition: bool = False, exact_distinct: bool = False) -> DataFrame:
    """One profile row per column (x partition when ``per_partition``).

    Output matches FIXTURES.md §3 ``baseline_profile``:
    ``(column_name, [partition_id], n_rows, null_fraction, min_value,
    max_value, approx_distinct, quantiles)``.

    Implementation: ONE aggregation pass computes every column's aggregates
    side by side (prefixed aliases), then the single result row unpivots to
    per-column rows via explode — one table scan total regardless of how
    many columns are profiled (a per-column union would re-scan the table
    per column: at 100 TB that's the difference between 1 pass and N).
    """
    columns = columns or [f.name for f in df.schema.fields
                          if not isinstance(f.dataType, (T.BinaryType, T.ArrayType,
                                                         T.MapType, T.StructType))]
    if per_partition and "partition_id" in df.columns:
        # withColumn would silently OVERWRITE the user's data column and
        # the profile row for it would report Spark's physical partition
        # ids (review r04)
        raise ValueError(
            "per_partition=True but the input already has a "
            "'partition_id' column — rename it, or profile it without "
            "per_partition")
    base = df.withColumn("partition_id", F.spark_partition_id()) \
        if per_partition else df
    g = base.groupBy("partition_id") if per_partition else base.groupBy()
    aggs = []
    for name in columns:
        dtype = df.schema[name].dataType
        cols = _col_aggs(name, dtype, exact_distinct)
        for fieldname, c in zip(_PROFILE_FIELDS, cols):
            aggs.append(c.alias(f"{name}__prof_{fieldname}"))
    wide = g.agg(*aggs)
    per_col_structs = F.array(*[
        F.struct(
            F.lit(name).alias("column_name"),
            # quoted_col, not manual backticks: a column name with an
            # embedded backtick makes f"`{name}__...`" a MALFORMED quoted
            # identifier (review r05c)
            *[quoted_col(f"{name}__prof_{fieldname}").alias(fieldname)
              for fieldname in _PROFILE_FIELDS],
        )
        for name in columns
    ])
    keys = (["partition_id"] if per_partition else [])
    return (wide.select(*keys, F.explode(per_col_structs).alias("p"))
            .select(*(["p.column_name"] + keys
                      + [f"p.{f}" for f in _PROFILE_FIELDS])))


_MERGE_FIELDS = ("n_rows", "n_nulls", "min_num", "max_num", "min_int",
                 "max_int", "min_str", "max_str", "distinct_sketch")
_INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)


def mergeable_profile(df: DataFrame, columns: list[str] | None = None, *,
                      lg_k: int = 12) -> DataFrame:
    """Per-column MERGEABLE partial profile — the incremental twin of
    ``profile``: parts computed over disjoint slices (hash buckets, resumed
    runs, daily increments) combine EXACTLY via ``merge_profiles``, so a
    global profile never costs a second full scan of a table whose slices
    were already profiled (the runner's drift step uses this: per-bucket
    parts ride the bucket jobs, the merge touches rows = buckets x columns).

    Output: ``(column_name, n_rows, n_nulls, min_num, max_num, min_str,
    max_str, distinct_sketch)`` — counts sum, min/max fold (numerics kept
    as doubles: lexicographic string folding would order "9" > "10"),
    distinct as a mergeable HLL sketch (``hll_union_agg``), one scan total.
    Quantiles are absent: no mergeable quantile sketch rides these parts
    yet, so ``drift_report`` scores no quantile drift on a merged profile
    (``profile`` computes quantiles with ``percentile_approx`` in one scan).
    """
    columns = columns or [f.name for f in df.schema.fields
                          if not isinstance(f.dataType, (T.BinaryType, T.ArrayType,
                                                         T.MapType, T.StructType))]
    aggs = []
    for name in columns:
        c = quoted_col(name)
        dtype = df.schema[name].dataType
        numeric = isinstance(dtype, _NUMERIC)
        integral = isinstance(dtype, _INTEGRAL) or (
            isinstance(dtype, T.DecimalType) and dtype.scale == 0)
        # integral columns — including scale-0 decimals, whose values past
        # 2^53 have the same rounding exposure (review r05) — fold in
        # DECIMAL, not double: a min/max past 2^53 would round through a
        # double and the merged profile would contradict profile()'s exact
        # value — breaking the docstring's exactness claim (review r04).
        # Floats and scale>0 decimals keep the double path (a double is
        # exact as itself; fractional decimals outside double precision
        # fold approximately — documented); strings fold as strings
        # (never numerics: lexicographic "9" > "10").
        num = (c.cast("double") if numeric and not integral
               else F.lit(None).cast("double"))
        iint = (c.cast("decimal(38,0)") if integral
                else F.lit(None).cast("decimal(38,0)"))
        s = F.lit(None).cast("string") if numeric else c.cast("string")
        aggs += [
            F.count(F.lit(1)).alias(f"{name}__m_n_rows"),
            F.sum(c.isNull().cast("long")).alias(f"{name}__m_n_nulls"),
            F.min(num).alias(f"{name}__m_min_num"),
            F.max(num).alias(f"{name}__m_max_num"),
            F.min(iint).alias(f"{name}__m_min_int"),
            F.max(iint).alias(f"{name}__m_max_int"),
            F.min(s).alias(f"{name}__m_min_str"),
            F.max(s).alias(f"{name}__m_max_str"),
            F.hll_sketch_agg(c.cast("string"), F.lit(lg_k))
            .alias(f"{name}__m_distinct_sketch"),
        ]
    wide = df.groupBy().agg(*aggs)
    structs = F.array(*[
        F.struct(F.lit(name).alias("column_name"),
                 *[quoted_col(f"{name}__m_{f}").alias(f)
                   for f in _MERGE_FIELDS])
        for name in columns])
    return (wide.select(F.explode(structs).alias("p"))
            .select("p.column_name", *[f"p.{f}" for f in _MERGE_FIELDS]))


def merge_profiles(parts: DataFrame) -> DataFrame:
    """Combine ``mergeable_profile`` parts into a global profile with the
    same shape ``drift_report`` consumes (``quantiles`` is null — see
    ``mergeable_profile``; a merged profile reports no quantile drift).

    Exactness: n_rows/null_fraction/min/max are exact regardless of how the
    input was sliced; approx_distinct is a single sketch UNION — equivalent
    to sketching the whole table in one pass, never a sum of per-part
    estimates. Note the estimator is DataSketches HLL (``hll_sketch_agg``),
    not ``approx_count_distinct``'s HyperLogLog++: comparing a merged
    profile against a ``profile()`` baseline can differ by a few percent of
    the distinct count — far inside ``drift_report``'s default ratio
    thresholds (0.5 / 2.0), but don't set thresholds near 1.0 across the
    two estimators.
    """
    # schema-version tolerance (ADVICE r04): min_int/max_int were added in
    # a later code version — profile parts written by the earlier version
    # lack them, and a resume spanning the upgrade would otherwise fail (or
    # silently drop columns depending on which file Spark samples for the
    # schema; the runner reads parts with mergeSchema=true for the same
    # reason). Missing columns fold as NULL — the string min/max from the
    # old parts still carries those columns' values.
    for missing in ("min_int", "max_int"):
        if missing not in parts.columns:
            parts = parts.withColumn(missing,
                                     F.lit(None).cast("decimal(38,0)"))
    g = parts.groupBy("column_name").agg(
        F.sum("n_rows").alias("n_rows"),
        F.sum("n_nulls").alias("n_nulls"),
        F.min("min_num").alias("min_num"),
        F.max("max_num").alias("max_num"),
        F.min("min_int").alias("min_int"),
        F.max("max_int").alias("max_int"),
        F.min("min_str").alias("min_str"),
        F.max("max_str").alias("max_str"),
        F.hll_sketch_estimate(
            F.hll_union_agg("distinct_sketch", F.lit(True)))
        .alias("approx_distinct"),
    )
    # integral min/max: COMBINE the decimal (new-version parts) and double
    # (pre-min_int parts folded integrals in min_num) representations, not
    # coalesce-prefer — a resume across the code upgrade has BOTH kinds of
    # part for the same column, and preferring min_int would report the
    # new parts' min even when an old part saw a smaller value (review
    # r05). Rendering comes from whichever representation wins, keeping
    # decimal exactness whenever the decimal side is the extremum.
    def _fold(int_c, num_c, cmp):
        d = F.col(int_c).cast("double")
        return (F.when(F.col(int_c).isNull(), F.col(num_c).cast("string"))
                .when(F.col(num_c).isNull() | cmp(d, F.col(num_c)),
                      F.col(int_c).cast("string"))
                .otherwise(F.col(num_c).cast("string")))

    min_both = _fold("min_int", "min_num", lambda a, b: a <= b)
    max_both = _fold("max_int", "max_num", lambda a, b: a >= b)
    return g.select(
        "column_name", "n_rows",
        (F.col("n_nulls") / F.greatest(F.col("n_rows"), F.lit(1)))
        .alias("null_fraction"),
        F.coalesce(min_both, F.col("min_str")).alias("min_value"),
        F.coalesce(max_both, F.col("max_str")).alias("max_value"),
        "approx_distinct",
        F.lit(None).cast("array<double>").alias("quantiles"))
