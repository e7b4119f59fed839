"""Constraint suggestion: mine a draft 2020-12 schema FROM the data.

The reverse of the engine's main direction (schema -> predicates): profile
a table once and propose per-column keywords — the public "constraint
suggestion" pattern (cf. Deequ's suggestion runner) re-expressed as the
reference's keyword vocabulary, so the suggested document compiles straight
back through ``compile_schema`` and (by construction) validates the data it
was mined from with zero violations — the round-trip contract
``tests/test_infer.py`` pins.

Scale design:
- pass 1: ONE hash aggregation over all profiled columns (count, nulls,
  min/max, length bounds, approx-distinct) — map-side combinable, output
  is a single row regardless of input size.
- pass 2: exact value sets ONLY for columns whose approx-distinct is under
  the enum threshold — reads just those columns, aggregates
  ``collect_set`` whose size is bounded by the threshold (plus HLL error
  margin), so no unbounded buffers; skipped entirely when no column
  qualifies.

Output is relational — one ``(column_name, keyword, value)`` row per
suggested keyword, with ``value`` rendered as a JSON scalar/array string so
the table is engine-agnostic (DuckDB-oracle-able). The document is the
rows assembled: each keyword under ``properties.<column_name>``, each
``required`` row naming a member of ``required``.
"""

from __future__ import annotations

import json
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from json_skema_spark.operators.util import quoted_col

_INT_TYPES = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
_FLOAT_TYPES = (T.FloatType, T.DoubleType, T.DecimalType)


def _json_type_of(dtype: T.DataType) -> str | None:
    if isinstance(dtype, _INT_TYPES):
        return "integer"
    if isinstance(dtype, _FLOAT_TYPES):
        return "number"
    if isinstance(dtype, T.StringType):
        return "string"
    if isinstance(dtype, T.BooleanType):
        return "boolean"
    if isinstance(dtype, T.ArrayType):
        return "array"
    if isinstance(dtype, (T.StructType, T.MapType)):
        return "object"
    return None


def _finite(v: Any) -> bool:
    """NaN/inf cannot appear in a JSON schema document (and Spark's max()
    treats NaN as the LARGEST double, so dirty float columns surface them
    here) — non-finite aggregates skip their keyword instead of crashing."""
    import math
    return not (isinstance(v, float) and not math.isfinite(v))


def _render(v: Any) -> str:
    """Deterministic JSON rendering for the value column (floats kept
    compact so DuckDB's json rendering matches). Decimal values (DecimalType
    columns reach here via collect_set/min/max) are not JSON-serializable
    and must be normalized — integral ones exactly as unbounded ints (a
    float round-trip could mine a bound past the true data bound), the
    rest as floats (review r04)."""
    import datetime
    from decimal import Decimal

    def norm(x):
        if isinstance(x, Decimal):
            return int(x) if x == x.to_integral_value() else float(x)
        if isinstance(x, float) and x == int(x) and abs(x) < 2**53:
            return int(x)
        if isinstance(x, (datetime.date, datetime.datetime)):
            # temporal columns ARE json strings in the data model
            # (_json_type_of); str() matches Spark's canonical cast-to-
            # string text, so the mined enum validates the same column it
            # was mined from. json.dumps would otherwise raise TypeError
            # and abort the whole suggestion run (review r05c)
            return str(x)
        return x

    if isinstance(v, (list, tuple)):
        v = [norm(x) for x in v]
    else:
        v = norm(v)
    return json.dumps(v, separators=(",", ":"), ensure_ascii=False)


def suggest_constraints(df: DataFrame, columns: list[str] | None = None, *,
                        enum_max_distinct: int = 8) -> DataFrame:
    """Mine per-column keyword suggestions.

    Emitted keywords per column (when they hold on the data):
    ``type`` (from the Spark dtype), ``required`` (zero nulls),
    ``minimum``/``maximum`` (numeric), ``minLength``/``maxLength``
    (string), ``enum`` (exact distinct value set when its size is <=
    ``enum_max_distinct``; sorted, rendered as a JSON array).

    Returns ``(column_name, keyword, value)`` with ``value`` as JSON text.
    """
    spark = df.sparkSession
    fields = {f.name: f.dataType for f in df.schema.fields}
    columns = columns or [n for n, t in fields.items()
                          if _json_type_of(t) in
                          ("integer", "number", "string", "boolean")]

    aggs: list = [F.count(F.lit(1)).alias("_rows")]
    for c in columns:
        dt = fields[c]
        col = quoted_col(c)
        aggs.append(F.count(col).alias(f"{c}__nonnull"))
        aggs.append(F.approx_count_distinct(col).alias(f"{c}__adist"))
        if isinstance(dt, (*_INT_TYPES, *_FLOAT_TYPES)):
            aggs.append(F.min(col).alias(f"{c}__min"))
            aggs.append(F.max(col).alias(f"{c}__max"))
        elif isinstance(dt, T.StringType):
            aggs.append(F.min(F.length(col)).alias(f"{c}__minlen"))
            aggs.append(F.max(F.length(col)).alias(f"{c}__maxlen"))
    row = df.agg(*aggs).collect()[0]

    # pass 2: exact enums only where the sketch says the set is small
    # (1.5x headroom over the HLL estimate to avoid false negatives)
    enum_candidates = [c for c in columns
                       if row[f"{c}__adist"] <= 1.5 * enum_max_distinct]
    enums: dict[str, list] = {}
    if enum_candidates:
        erow = df.agg(*[
            F.sort_array(F.collect_set(quoted_col(c))).alias(c)
            for c in enum_candidates]).collect()[0]
        for c in enum_candidates:
            vals = list(erow[c])
            if 0 < len(vals) <= enum_max_distinct:
                enums[c] = vals

    out: list[tuple[str, str, str]] = []
    for c in columns:
        dt = fields[c]
        jt = _json_type_of(dt)
        if jt:
            out.append((c, "type", _render(jt)))
        if row["_rows"] > 0 and row[f"{c}__nonnull"] == row["_rows"]:
            out.append((c, "required", _render(True)))
        if c in enums and all(_finite(v) for v in enums[c]) \
                and not any(isinstance(v, (bytes, bytearray))
                            for v in enums[c]):
            # bytes have no JSON representation — skip the enum rather
            # than crash _render for an explicitly-passed binary column
            # (review r05c)
            out.append((c, "enum", _render(enums[c])))
        elif isinstance(dt, (*_INT_TYPES, *_FLOAT_TYPES)):
            lo, hi = row[f"{c}__min"], row[f"{c}__max"]
            if lo is not None and _finite(lo) and _finite(hi):
                if isinstance(dt, _INT_TYPES):
                    # int64 routed through float would round past 2^53 and
                    # could mine a maximum BELOW the actual data max,
                    # breaking the zero-violation round-trip contract
                    out.append((c, "minimum", _render(int(lo))))
                    out.append((c, "maximum", _render(int(hi))))
                else:
                    # DecimalType bounds go to _render un-floated: an
                    # integral Decimal past 2^53 float-rounds below the
                    # true max, mining a bound the data itself violates
                    out.append((c, "minimum", _render(
                        lo if isinstance(dt, T.DecimalType) else float(lo))))
                    out.append((c, "maximum", _render(
                        hi if isinstance(dt, T.DecimalType) else float(hi))))
        elif isinstance(dt, T.StringType):
            if row[f"{c}__minlen"] is not None:
                out.append((c, "minLength", _render(int(row[f"{c}__minlen"]))))
                out.append((c, "maxLength", _render(int(row[f"{c}__maxlen"]))))
    return spark.createDataFrame(
        out, "column_name string, keyword string, value string")

