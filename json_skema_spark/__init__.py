"""json_skema_spark — a PySpark-native schema + constraint validation engine.

A from-scratch re-expression of erosb/json-sKema's JSON Schema draft 2020-12
semantics (reference: /root/reference, Kotlin) for columnar, distributed
validation: instead of an interpreted per-document tree walk
(reference Validator.kt:245-935), a schema document is compiled driver-side
into a DAG of Catalyst ``Column`` predicates evaluated over typed Spark
DataFrames, with violation rows carrying the reference's
keywordLocation / instanceLocation / dynamicPath lineage
(reference ValidationFailure.kt:35-50).

Public API::

    from json_skema_spark import compile_schema, validate

    plan = compile_schema(schema_doc, df.schema)
    verdicts = plan.apply(df)            # adds `passed`, `failures`
    viols = plan.violations(df, row_key="clip_id")
"""

from json_skema_spark.plans.compat import (compat_report, delta_schema,
                                            is_backward_compatible)
from json_skema_spark.plans.compile import (AggregateCompileError, CompileError,
                                             Compiler, compile_schema)
from json_skema_spark.plans.model import Resolver, SchemaError
from json_skema_spark.plans.verdict import (ValidationPlan, validate,
                                             validate_json_column,
                                             validate_open_json,
                                             validate_yaml_column,
                                             violation_digest)

__all__ = [
    "AggregateCompileError",
    "CompileError",
    "Compiler",
    "Resolver",
    "SchemaError",
    "ValidationPlan",
    "compat_report",
    "compile_schema",
    "delta_schema",
    "is_backward_compatible",
    "validate",
    "validate_json_column",
    "validate_open_json",
    "validate_yaml_column",
    "violation_digest",
]
