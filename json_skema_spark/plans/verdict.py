"""Verdict assembly: compiled plan -> (passed, failures) columns -> violations.

Mirrors the reference's output contract: ``Validator.validate`` returns null
on pass or a ``ValidationFailure`` tree (Validator.kt:163-182); failures
carry keyword / schemaRef / instanceRef / dynamicPath / message
(``ValidationFailure.toJSON()``, ValidationFailure.kt:35-50) and ``flatten()``
yields leaf failures (ValidationFailure.kt:56-59). Our exploded violations
table is the distributed equivalent, plus north-rule lineage:
``partition_id`` (per-partition provenance) and the row key.

Scale notes:
- ``apply(..., mode="verdict")`` only builds the boolean column; Catalyst
  prunes every failure-struct expression, so the verdict path is pure
  whole-stage-codegen boolean algebra. ``minLength``/``maxLength`` decide
  on the O(1) byte length and count characters only inside the byte band
  where that cannot decide; ``pattern`` is one ``rlike``.
- ``violations`` filters to failing rows *before* exploding, so shuffle-free
  and proportional to the violation count, not the table size. The failure
  structs and messages use no higher-order function, so their Project
  stays in whole-stage codegen as well.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from json_skema_spark.plans.compile import Compiled, Compiler


class ValidationPlan:
    """A schema compiled against a fixed table StructType."""

    def __init__(self, compiler: Compiler, struct_type: T.StructType):
        self.compiler = compiler
        self.struct_type = struct_type
        self._full_compiled: Compiled | None = None
        self._light_compiled: Compiled | None = None

    @property
    def _compiled(self) -> Compiled:
        """Full-message compile, LAZY: light-only consumers
        (``violation_rate`` reads only ``_light().passed/failures``) no
        longer pay a second full-message compile_root they never use
        (review r05c). Batch entry points that want schema mistakes to
        raise at construction — before manifests/output dirs exist —
        force it via ``compile.compile_schema``."""
        if self._full_compiled is None:
            self._full_compiled = self.compiler.compile_root(
                self.struct_type)
        return self._full_compiled

    @property
    def passed(self) -> Column:
        return self._compiled.passed

    @property
    def failures(self) -> Column:
        return self._compiled.failures

    def apply(self, df: DataFrame, mode: str = "full") -> DataFrame:
        """Add ``passed`` (and in full mode ``failures``) columns."""
        if mode == "verdict":
            return df.withColumn("passed", self._compiled.passed)
        return df.withColumn("passed", self._compiled.passed) \
                 .withColumn("failures", self._compiled.failures)

    def violations(self, df: DataFrame, row_key: str | Column, *,
                   file_lineage: bool = False) -> DataFrame:
        """Explode per-row failures to one violation per row, with lineage.

        Output schema matches FIXTURES.md §5 (reference
        ValidationFailure.toJSON() fields + row key + partition id).
        ``file_lineage=True`` additionally records the source file path via
        the ``_metadata`` column (file-based sources incl. parquet/Iceberg —
        the engine's replacement for the reference's line/character
        SourceLocation, JsonValue.kt:63-123).
        """
        key = F.col(row_key) if isinstance(row_key, str) else row_key
        # The boolean verdict filter runs FIRST, fused into the scan, so
        # passing rows never build any failure struct; the message/explode
        # work applies to failing rows only. NOT repartitioned (r06
        # measurement): an exchange of the failing rows cost more than the
        # 7-task->32-task message-construction win it bought at sf1.0
        # (count 0.95 s -> 1.37 s with the repartition), and at scale the
        # scan yields ample splits anyway.
        failing = df.filter(~self._compiled.passed)
        cols = [
            key.cast("string").alias("row_key"),
            self._compiled.failures.alias("failures"),
            F.spark_partition_id().alias("partition_id"),
        ]
        out_extra = []
        if file_lineage:
            # prefer a pre-captured _src_file (checkpoint.with_source_file):
            # after staged resume, _metadata.file_path cites the STAGING
            # directory; _src_file carries provenance to the original input
            # file — the reference's SourceLocation contract is provenance
            # to the source (JsonValue.kt:63-123)
            src = (F.col("_src_file") if "_src_file" in df.columns
                   else F.col("_metadata.file_path"))
            cols.append(src.alias("source_file"))
            out_extra = ["source_file"]
        base = failing.select(*cols)
        return (
            base.select("row_key", F.explode("failures").alias("f"),
                        "partition_id", *out_extra)
            .select(
                "row_key",
                F.col("f.keyword").alias("keyword"),
                F.col("f.keyword_location").alias("keyword_location"),
                F.col("f.instance_location").alias("instance_location"),
                F.col("f.dynamic_path").alias("dynamic_path"),
                F.col("f.message").alias("message"),
                "partition_id",
                *out_extra,
            )
        )

    def summary(self, df: DataFrame) -> DataFrame:
        """Per-keyword-location violation counts + overall pass rate input.

        Map-side partial aggregation applies (hash agg); output cardinality is
        bounded by the number of schema keywords, so the final shuffle is tiny
        regardless of input scale.

        Uses a LIGHT-MESSAGE recompile of the same schema: counting never
        reads ``message``, but the full plan still evaluated each violating
        row's format_string/cast chain before the explode — at sf10 that made
        the summary 36x slower than the verdict scan over identical rows
        (round-5 measurement: 38.6 s -> see BENCH/BASELINE.md). Keyword /
        location / count outputs are identical by construction (only the
        message literal differs).

        When every failure leaf is a one-struct-per-row leg with a
        compile-time (keyword, keyword_location) — ``Compiled.legs`` — the
        counts lower to one map-side-combinable SUM per leg: no failure
        array is built, nothing is exploded, and the only shuffle is the
        single partial-aggregate row per task (guide §2.3 "aggregate
        before you shuffle"; r06 measurement: 2.08 s -> ~0.5 s at sf1.0).
        Identical output by construction: a simple leaf contributes
        exactly one failure element iff its cond holds, so
        count(explode(failures)) grouped by (keyword, location) equals the
        per-leg conditional sums re-grouped the same way. Schemas with
        combinator/per-element failure legs (legs=None) keep the explode
        path.
        """
        light = self._light()
        legs = light.legs
        if legs:
            # legs sharing a (keyword, keyword_location) are merged at BUILD
            # time (their per-row contributions add), so no post-explode
            # groupBy/Exchange is needed — one fewer AQE stage on the driver
            grouped: dict[tuple[str, str], list[Column]] = {}
            for c, k, kl in legs:
                grouped.setdefault((k, kl), []).append(c)
            keys = list(grouped)
            sums = df.agg(*[
                F.sum(sum((F.when(c, F.lit(1)).otherwise(F.lit(0))
                           for c in grouped[key]), start=F.lit(0)))
                .alias(f"_l{i}")
                for i, key in enumerate(keys)])
            rows = sums.select(F.explode(F.array(*[
                F.struct(F.lit(k).alias("keyword"),
                         F.lit(kl).alias("keyword_location"),
                         F.col(f"_l{i}").alias("n_violations"))
                for i, (k, kl) in enumerate(keys)])).alias("s"))
            return (rows.select("s.keyword", "s.keyword_location",
                                "s.n_violations")
                    .filter(F.col("n_violations") > 0))
        return (
            # filter on the BOOLEAN verdict before building any failure
            # array (same shape as violations()): passing rows never pay
            # for array construction, and the boolean filter stays inside
            # whole-stage codegen at the scan
            df.filter(~light.passed)
            .select(light.failures.alias("failures"))
            .select(F.explode("failures").alias("f"))
            .groupBy(
                F.col("f.keyword").alias("keyword"),
                F.col("f.keyword_location").alias("keyword_location"),
            )
            .agg(F.count("*").alias("n_violations"))
        )

    def _light(self) -> Compiled:
        """The same compiled plan with empty failure messages (lazy)."""
        if self._light_compiled is None:
            from json_skema_spark.plans.compile import light_messages
            with light_messages():
                self._light_compiled = self.compiler.compile_root(
                    self.struct_type)
        return self._light_compiled

    def verdict_counts(self, df: DataFrame) -> DataFrame:
        # light compile: only the boolean verdict is read — forcing the
        # full-message tree here defeated the lazy-_compiled design for
        # verdict-only consumers (review r05c)
        return (
            df.select(self._light().passed.alias("passed"))
            .groupBy("passed").agg(F.count("*").alias("n_rows"))
        )


def violation_digest(violations: DataFrame, *, per_keyword: int = 20,
                     salt_buckets: int = 64) -> DataFrame:
    """Triage view of a violations table: EXACT per-keyword-location counts
    plus a bounded, deterministic sample of offending row keys.

    At 10^12 rows a bad deploy can emit billions of violation rows; the
    digest answers "what broke, how much, show me a few" without shipping
    them all: ``(keyword, keyword_location, n_violations, example_keys)``
    where ``example_keys`` is the ``per_keyword`` smallest DISTINCT row
    keys (deterministic — no first()/limit() nondeterminism across
    retries; distinct because a hot key repeated across violations would
    otherwise fill every example slot with copies of itself, review r05c).

    Scale design: keys are ranked inside (keyword_location, salt) window
    partitions — a sort-based, spillable operator with ``salt_buckets``-way
    parallelism per keyword, never an in-memory collect of a hot keyword's
    keys — then only the <= salt_buckets x per_keyword survivors merge.
    The merged slice is the global K-smallest (each global winner is a
    winner of its own salt bucket). Counts come from a separate map-side-
    combinable hash agg; both inputs shuffle (keyword, key) pairs only.
    """
    from pyspark.sql import Window
    key = F.col("row_key").cast("string")
    salted = violations.select(
        "keyword", "keyword_location", key.alias("k"),
        F.pmod(F.xxhash64(key), F.lit(salt_buckets)).alias("_salt"))
    counts = (salted.groupBy("keyword", "keyword_location")
              .agg(F.count("*").alias("n_violations")))
    w = Window.partitionBy("keyword", "keyword_location", "_salt") \
        .orderBy("k")
    # NULL keys are excluded from the EXAMPLES (counts keep them): Spark
    # sorts NULLS FIRST so they would occupy the top-K slots and then be
    # silently dropped by downstream serialization, while engines with
    # NULLS LAST (DuckDB) would report the smallest non-null keys —
    # divergent digests for the same violations (review r04)
    winners = (salted.filter(F.col("k").isNotNull())
               .dropDuplicates(["keyword", "keyword_location", "k"])
               .withColumn("_rn", F.row_number().over(w))
               .filter(F.col("_rn") <= per_keyword)
               .groupBy("keyword", "keyword_location")
               .agg(F.slice(F.sort_array(F.collect_list("k")),
                            1, per_keyword).alias("example_keys")))
    # left join: a keyword whose violations are ALL null-keyed still gets
    # its count row, with an empty example list
    return (counts.join(winners, ["keyword", "keyword_location"], "left")
            .withColumn("example_keys",
                        F.coalesce(F.col("example_keys"),
                                   F.array().cast("array<string>"))))


def validate_json_column(df: DataFrame, json_col: str, payload_type: T.DataType | str,
                         schema_doc: Any, *, out_col: str = "json_passed",
                         **compiler_kwargs) -> DataFrame:
    """Validate a JSON *string* column against a schema: ``from_json`` with a
    caller-supplied Spark type, then the same compiled predicates over the
    parsed struct — the open-document path (reference JsonParser.kt:194-285;
    here Spark's native JSON parser does the scan and the compiler works on
    the resulting StructType). Malformed JSON parses to NULL = absent,
    which passes value keywords; pair with ``required``/``type`` on the
    payload itself to reject unparseable rows.
    """
    if isinstance(payload_type, str):
        payload_type = T._parse_datatype_string(payload_type)
    parsed = F.from_json(F.col(json_col), payload_type)
    comp = Compiler(schema_doc, **compiler_kwargs)
    compiled = comp.compile_value(parsed, payload_type,
                                  loc=F.lit("#/" + json_col))
    return df.withColumn(out_col, compiled.passed)


def validate_open_json(df: DataFrame, json_col: str, schema_doc: Any, *,
                       out_col: str = "json_passed",
                       **compiler_kwargs) -> DataFrame:
    """Validate a JSON string column with NO predeclared Spark type:
    ``parse_json`` -> VariantType -> runtime type dispatch (plans/variant.py).
    This is the engine's closest equivalent of the reference's fully dynamic
    per-document walk (heterogeneous shapes per row), still evaluated as
    Column expressions."""
    parsed = F.parse_json(F.col(json_col))
    comp = Compiler(schema_doc, **compiler_kwargs)
    vtype = T.VariantType()
    compiled = comp.compile_value(parsed, vtype, loc=F.lit("#/" + json_col))
    return df.withColumn(out_col, compiled.passed)


def yaml_to_json(df: DataFrame, yaml_col: str, *,
                 out_col: str = "_yaml_as_json") -> DataFrame:
    """Convert a YAML *instance* column to canonical JSON strings via an
    Arrow-batched pandas UDF (only the YAML column crosses the Python
    boundary — the rest of the row stays JVM-side).

    Reference parity (YamlSupport.kt:12-54 parses YAML instances, not just
    schema documents): YAML 1.1 scalars map the same way — ``yes/on/true``
    -> true, ``no/off/false`` -> false, int/float tags -> numbers. Known
    divergence: single-letter ``y``/``n`` are booleans to SnakeYAML but
    plain strings to PyYAML. Unparseable YAML -> NULL (same contract as
    ``from_json`` on malformed JSON: pair with ``type``/``required`` to
    reject such rows).
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _to_json(s: "pd.Series") -> "pd.Series":
        import json as _json

        import yaml as _yaml

        import base64 as _b64
        import datetime as _dt

        def _scalar(o):
            # PyYAML resolves unquoted dates/timestamps/binary scalars to
            # Python objects json.dumps can't serialize; without this a
            # PARSEABLE document silently became NULL (= absent), so its
            # schema violations passed undetected (review r05c) — render
            # them as their canonical text instead
            if isinstance(o, (_dt.date, _dt.datetime)):
                return o.isoformat()
            if isinstance(o, (bytes, bytearray)):
                return _b64.b64encode(bytes(o)).decode("ascii")
            raise TypeError(f"unrepresentable YAML scalar: {type(o).__name__}")

        def conv(v):
            if v is None:
                return None
            try:
                return _json.dumps(_yaml.safe_load(v), ensure_ascii=False,
                                   separators=(",", ":"), default=_scalar)
            except Exception:
                return None  # malformed YAML = absent payload (verdict, not crash)

        return s.map(conv)

    # annotations passed explicitly: deferred-annotation mode would leave
    # the local ``pd`` unresolvable for pandas_udf's signature inference
    _to_json.__annotations__ = {"s": pd.Series, "return": pd.Series}
    udf = pandas_udf(_to_json, "string")
    return df.withColumn(out_col, udf(F.col(yaml_col)))


def validate_yaml_column(df: DataFrame, yaml_col: str, schema_doc: Any, *,
                         out_col: str = "yaml_passed",
                         **compiler_kwargs) -> DataFrame:
    """Validate a YAML string column with no predeclared Spark type: the
    YAML payload is converted to JSON (``yaml_to_json``), parsed to
    VariantType, and evaluated through the same compiled Column predicates
    as ``validate_open_json`` — the reference's YAML-instance entry point
    (YamlSupport.kt:12-54 feeding the same Validator) re-expressed over a
    column."""
    tmp = "_yaml_as_json"
    # never clobber a caller's column — NOR out_col itself: tmp == out_col
    # would overwrite the temp with the verdict and then drop(tmp) deletes
    # the just-written verdict, returning no output column (review r05c)
    while tmp in df.columns or tmp == out_col:
        tmp = "_" + tmp
    converted = yaml_to_json(df, yaml_col, out_col=tmp)
    parsed = F.parse_json(F.col(tmp))
    comp = Compiler(schema_doc, **compiler_kwargs)
    vtype = T.VariantType()
    compiled = comp.compile_value(parsed, vtype, loc=F.lit("#/" + yaml_col))
    return converted.withColumn(out_col, compiled.passed).drop(tmp)


def duplicate_key_violations(df: DataFrame, json_col: str,
                             row_key: str) -> DataFrame:
    """Opt-in duplicate-object-key check for JSON payload columns.

    Divergence note: the reference treats a duplicate key as a PARSE error
    (DuplicateObjectPropertyException, JsonParser.kt:250-256,
    JsonValue.kt:12-15) while Spark's ``from_json``/``parse_json`` silently
    keep the LAST occurrence. This check restores the reference's signal as
    violation rows: ``json_object_keys`` preserves duplicates, so a repeated
    top-level key is ``size(keys) != size(array_distinct(keys))`` — pure
    Column expressions, no reparse. Nested objects are not walked (Spark has
    no per-level key listing without a full Variant explode); for payloads
    where nested duplicate keys matter, validate the affected subtree as its
    own JSON column."""
    keys = F.json_object_keys(F.col(json_col))
    dup_names = F.array_distinct(F.filter(
        keys, lambda k: F.size(F.filter(keys, lambda x: x == k)) > 1))
    has_dup = keys.isNotNull() & (F.size(keys) != F.size(F.array_distinct(keys)))
    return df.filter(has_dup).select(
        F.col(row_key).cast("string").alias("row_key"),
        F.lit("duplicateKey").alias("keyword"),
        F.lit("#").alias("keyword_location"),
        F.lit("#/" + json_col).alias("instance_location"),
        F.lit("#").alias("dynamic_path"),
        F.concat(F.lit('property "'), F.array_join(dup_names, '", "'),
                 F.lit('" found at multiple locations in the same object'))
        .alias("message"),
        F.spark_partition_id().alias("partition_id"),
    )


def validate(df: DataFrame, schema_doc: Any, *, row_key: str | None = None,
             mode: str = "full", **compiler_kwargs) -> DataFrame:
    """One-shot convenience: compile + apply.

    ``validate(df, schema)`` -> df + passed/failures columns;
    ``validate(df, schema, row_key='clip_id', mode='violations')`` ->
    exploded violations table.
    """
    plan = ValidationPlan(Compiler(schema_doc, **compiler_kwargs), df.schema)
    if mode == "violations":
        if row_key is None:
            raise ValueError("row_key required for violations mode")
        return plan.violations(df, row_key)
    return plan.apply(df, mode=mode)
