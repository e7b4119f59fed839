"""Schema -> Catalyst-predicate compiler.

The reference (erosb/json-sKema) validates one JSON document at a time with an
interpreted visitor walk (/root/reference/src/main/kotlin/com/github/erosb/
jsonsKema/Validator.kt:245-935). This module re-expresses every draft 2020-12
keyword it implements as a *compile-time* lowering onto Spark ``Column``
expressions over a typed DataFrame: one row = one instance, one column = one
top-level property (SURVEY.md §2.b-2.e is the keyword-by-keyword map).

Design:

- ``Inst`` describes the instance value being constrained: a Column
  expression + its static Spark ``DataType`` + a (possibly dynamic) JSON
  Pointer column for lineage. The table root uses direct ``F.col`` references
  so Catalyst column pruning still reaches the parquet scan.
- Each keyword builder returns a ``Compiled``: a null-safe boolean ``passed``
  Column plus a builder for the ``array<failure_struct>`` failures Column
  carrying the reference's lineage fields (keyword / keywordLocation /
  instanceLocation / dynamicPath / message — ValidationFailure.toJSON(),
  ValidationFailure.kt:35-50). Failure wordings mirror the reference's
  literal message templates (cited per keyword below).
- Combinators are boolean algebra over child ``passed`` columns; failure
  aggregation matches ``ValidationFailure.flatten()`` (leaf failures,
  ValidationFailure.kt:56-59).
- Everything stays JVM-side (whole-stage codegen); no Python UDFs anywhere in
  this module. Null semantics: a SQL NULL value is an *absent* property
  (JSON has no way to store "present but undefined" in a typed column), so
  every value keyword passes on NULL and ``required`` fails on NULL —
  mirroring "absent property passes" (Validator.kt:468-470).

Scale notes (100 TB target):

- verdict-only consumers select just ``passed``; Catalyst prunes the unused
  failure-struct expressions, so the hot path is pure codegen'd boolean
  algebra over the scanned columns.
- predicates on a subset of columns never touch the others (column pruning:
  a plan that doesn't reference ``bytes`` won't read audio bytes at all).
"""

from __future__ import annotations

import math as _math
import re as _re
from contextlib import contextmanager
from dataclasses import dataclass, field, replace
from functools import cached_property
from typing import Any, Callable

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from json_skema_spark.plans import variant as vt
from json_skema_spark.plans.model import (Resolver, SchemaError,
                                           pointer_escape)

try:
    _VARIANT_TYPES: tuple = (T.VariantType,)
except AttributeError:  # pyspark < 4.0
    _VARIANT_TYPES = ()


def _contains_map_type(dtype: T.DataType) -> bool:
    if isinstance(dtype, T.MapType):
        return True
    if isinstance(dtype, T.StructType):
        return any(_contains_map_type(f.dataType) for f in dtype.fields)
    if isinstance(dtype, T.ArrayType):
        return _contains_map_type(dtype.elementType)
    return False


def _is_variant(dtype: T.DataType) -> bool:
    return bool(_VARIANT_TYPES) and isinstance(dtype, _VARIANT_TYPES)


class CompileError(Exception):
    """Raised when a schema cannot be lowered to Column predicates.

    ``location`` is the schema-pointer of the failing keyword/subschema
    (filled in by the collector when the raise site didn't set it)."""

    def __init__(self, message: str, location: str | None = None):
        super().__init__(message)
        self.location = location


def _name_pattern(pat: str, ploc: str) -> "_re.Pattern":
    """Compile a patternProperties regex for COMPILE-TIME struct-name
    matching. Runtime matching (map keys) uses ``rlike`` — the same Java
    engine as the reference — but fixed struct names must be matched
    driver-side; a Java-only construct (``\\p{Alpha}`` etc.) is reported
    as a pointered CompileError instead of an uncaught ``re.error``.

    ``re.ASCII``: Java's ``\\d``/``\\w``/``\\s`` are ASCII classes while
    Python's default is Unicode-aware — without the flag a struct field
    named with a non-ASCII digit matched ``^\\d+$`` where the map path
    (and the reference) do not, silently diverging the two physical
    layouts AND leaking wrong coverage into the unevaluatedProperties
    algebra (review r05c)."""
    try:
        return _re.compile(pat, _re.ASCII)
    except _re.error as exc:
        raise CompileError(
            f"pattern {pat!r} is not a valid Python regex — compile-time "
            "struct property-name matching cannot evaluate Java-only "
            f"constructs ({exc}); use a map column for dynamic keys",
            location=ploc)


def _any_missing(inst: Inst, names: list) -> Column:
    """True iff some of ``names`` is not present on ``inst`` (never NULL)."""
    cond = F.lit(False)
    for n in names:
        cond = cond | inst.missing(n)
    return cond


def _missing_names(inst: Inst, names: list) -> Column:
    """The names not present on ``inst``, comma-joined in schema order."""
    return F.concat_ws(", ", *[F.when(inst.missing(n), F.lit(n))
                               for n in names])


def _check_java_pattern(pat: str, ploc: str) -> None:
    """Validate a RUNTIME-matched regex against the engine that will run
    it (java.util.regex, via the active session's gateway): a bad pattern
    otherwise crashes executors mid-job with PatternSyntaxException —
    after cluster time is spent, bypassing the collect-then-throw
    AggregateCompileError contract (review r05c). Python re cannot stand
    in: it accepts Java-invalid constructs ((?P<n>...)) and rejects
    Java-valid ones (\\p{Alpha}). Soft-skipped when no session is active
    (pure plan construction) — a plan BUILT before any SparkSession exists
    therefore bypasses this gate and a Java-invalid runtime pattern
    surfaces as an executor PatternSyntaxException at first action instead
    of a pointered CompileError (ADVICE r05, documented contract: compile
    under an active session to get collect-then-throw diagnostics)."""
    try:
        from pyspark.sql import SparkSession
        sess = SparkSession.getActiveSession()
    except Exception:
        return
    if sess is None:
        return
    try:
        sess._jvm.java.util.regex.Pattern.compile(pat)
    except Exception as exc:
        first = str(exc).splitlines()[0] if str(exc) else repr(exc)
        raise CompileError(
            f"pattern {pat!r} is not a valid Java regex (the engine that "
            f"evaluates it at runtime): {first[:200]}", location=ploc)


class AggregateCompileError(CompileError):
    """Every compile diagnostic from one schema load, raised together.

    Mirrors the reference loader's collect-then-throw-one contract
    (SchemaLoader.kt:336-341 aggregate throw; collection at :494,551-553):
    a user with five independent schema mistakes sees all five pointers in
    one failure instead of fixing them one recompile at a time.
    """

    def __init__(self, errors: list[CompileError]):
        self.errors = list(errors)
        lines = "; ".join(
            f"[{e.location or '#'}] {e.args[0]}" for e in self.errors)
        super().__init__(
            f"{len(self.errors)} schema compile error(s): {lines}")


FAILURE_TYPE = T.StructType(
    [
        T.StructField("keyword", T.StringType()),
        T.StructField("keyword_location", T.StringType()),
        T.StructField("instance_location", T.StringType()),
        T.StructField("dynamic_path", T.StringType()),
        T.StructField("message", T.StringType()),
    ]
)
FAILURE_DDL = "struct<keyword:string,keyword_location:string,instance_location:string,dynamic_path:string,message:string>"


def empty_failures() -> Column:
    return F.array().cast(f"array<{FAILURE_DDL}>")


def _text(*parts: str | Column) -> Column:
    """Message text: literal parts and integer columns, concatenated. An
    integer prints as ``format_string``'s ``%s`` prints it, and NULL as
    ``null``, with no format string parsed per row."""
    return F.concat(*[F.lit(p) if isinstance(p, str)
                      else F.coalesce(p.cast("string"), F.lit("null"))
                      for p in parts])


def _fail_struct(keyword: str, kw_loc: str, inst_loc: Column, dyn_path: str,
                 message: Column) -> Column:
    return F.struct(
        F.lit(keyword).alias("keyword"),
        F.lit(kw_loc).alias("keyword_location"),
        inst_loc.alias("instance_location"),
        F.lit(dyn_path).alias("dynamic_path"),
        message.alias("message"),
    )


@dataclass
class Compiled:
    """Result of lowering one schema node for one instance expression.

    ``failures`` and ``legs`` are built only when read, so one compile
    feeds verdict, violations and summary. A builder runs after the
    compile returns, so a name it reads must not be rebound later in the
    enclosing function.

    ``failures`` is the ``array<failure_struct>`` column: never NULL, empty
    iff ``passed``. ``legs`` holds one ``(count, keyword,
    keyword_location)`` per failure leaf, ``count`` being a never-NULL int
    column: the number of failure structs the leaf adds to the row. So per
    row ``sum(count) == size(failures)``, and counting reads legs, never
    the failure array. Nodes combine their children's legs as they combine
    failures: ``conj`` concatenates, ``gated`` zeroes them outside the
    gate, ``items`` sums each element leg over the elements.
    """

    passed: Column   # boolean, never NULL
    build_failures: Callable[[], Column]
    build_legs: Callable[[], tuple]

    @property
    def failures(self) -> Column:
        return self.build_failures()

    @property
    def legs(self) -> tuple:
        return self.build_legs()

    def gated(self, gate: Column) -> "Compiled":
        """This result where ``gate`` holds, a pass everywhere else."""
        return Compiled(
            passed=F.when(gate, self.passed).otherwise(F.lit(True)),
            build_failures=lambda: F.when(gate, self.failures)
            .otherwise(empty_failures()),
            build_legs=lambda: tuple(
                (F.when(gate, c).otherwise(F.lit(0)), k, kl)
                for c, k, kl in self.legs))

    @staticmethod
    def ok() -> "Compiled":
        return Compiled(F.lit(True), empty_failures, tuple)

    @staticmethod
    def simple(cond_fail: Column, keyword: str, kw_loc: str, inst_loc: Column,
               dyn_path: str, message: Column) -> "Compiled":
        cond_fail = F.coalesce(cond_fail, F.lit(False))
        return Compiled(
            passed=~cond_fail,
            build_failures=lambda: F.when(
                cond_fail,
                F.array(_fail_struct(keyword, kw_loc, inst_loc, dyn_path,
                                     message)),
            ).otherwise(empty_failures()),
            build_legs=lambda: (
                (F.when(cond_fail, F.lit(1)).otherwise(F.lit(0)), keyword,
                 kw_loc),),
        )


def conj(parts: list[Compiled]) -> Compiled:
    """AND of subresults; failures accumulate (reference ``accumulate``,
    Validator.kt:926-934 / AggregatingValidationFailure)."""
    parts = [p for p in parts if p is not None]
    if not parts:
        return Compiled.ok()
    if len(parts) == 1:
        return parts[0]
    passed = parts[0].passed
    for p in parts[1:]:
        passed = passed & p.passed
    return Compiled(
        passed,
        lambda: F.concat(*[p.failures for p in parts]),
        lambda: tuple(leg for p in parts for leg in p.legs))


# --------------------------------------------------------------------------
# instance abstraction
# --------------------------------------------------------------------------

def _json_type_of(dtype: T.DataType) -> str:
    """Spark DataType -> JSON type name (reference Type.kt / Validator.kt:286-375)."""
    if isinstance(dtype, (T.StringType, T.BinaryType, T.DateType,
                          T.TimestampType, T.TimestampNTZType, T.VarcharType, T.CharType)):
        return "string"
    if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "integer"
    if isinstance(dtype, T.DecimalType):
        return "integer" if dtype.scale == 0 else "number"
    if isinstance(dtype, (T.FloatType, T.DoubleType)):
        return "number"
    if isinstance(dtype, T.BooleanType):
        return "boolean"
    if isinstance(dtype, T.ArrayType):
        return "array"
    if isinstance(dtype, (T.StructType, T.MapType)):
        return "object"
    if isinstance(dtype, T.NullType):
        return "null"
    raise CompileError(f"unsupported Spark type for validation: {dtype}")


@dataclass
class Inst:
    """The instance value a schema node constrains.

    ``col is None`` only at the table root, where properties bind to real
    DataFrame columns (keeps parquet column pruning intact — a predicate on
    ``sr_hz`` must not force a read of ``bytes``).

    One member rule serves every object keyword, whatever holds the object
    (struct field, map entry or variant member): a member is present iff
    its value is not absent by ``is_absent`` — not SQL NULL and, unless
    ``strict``, not a JSON null. ``missing`` applies it to one named
    member, ``members`` to every entry of a map.
    """

    col: Column | None
    dtype: T.DataType
    loc: Column                 # instance JSON Pointer (string column)
    root: bool = False
    # strict JSON-null semantics (official draft 2020-12 / reference parity):
    # an explicit JSON null is a PRESENT value of type "null" — it fails
    # type:"string", satisfies required, counts toward min/maxProperties and
    # equals const:null. Default (False) keeps the engine's SQL convention
    # where NULL/JSON-null both mean "absent". Only observable on variant /
    # map<_,variant> instances — typed columns can't encode the difference.
    strict: bool = False

    def is_absent(self) -> Column:
        """Whether this value counts as absent (never NULL)."""
        if self.root:
            return F.lit(False)
        if _is_variant(self.dtype) and not self.strict:
            return vt.is_absent(self.col)
        return self.col.isNull()

    # -- object access -----------------------------------------------------
    def field_names(self) -> list[str]:
        if isinstance(self.dtype, T.StructType):
            return self.dtype.fieldNames()
        raise CompileError("field_names on non-struct")

    def child(self, name: str) -> "Inst":
        loc = F.concat(self.loc, F.lit("/" + pointer_escape(name)))
        if _is_variant(self.dtype):
            return Inst(vt.get_field(self.col, name), _VARIANT_TYPES[0](), loc,
                        strict=self.strict)
        if isinstance(self.dtype, T.StructType):
            if self.root:
                col = F.col("`" + name.replace("`", "``") + "`")
            else:
                col = self.col.getField(name)
            return Inst(col, self.dtype[name].dataType, loc, strict=self.strict)
        if isinstance(self.dtype, T.MapType):
            return Inst(F.element_at(self.col, F.lit(name)), self.dtype.valueType,
                        loc, strict=self.strict)
        raise CompileError(f"cannot access property {name!r} on {self.dtype}")

    def missing(self, name: str) -> Column:
        """Whether member ``name`` is not present (never NULL)."""
        if isinstance(self.dtype, T.StructType) \
                and name not in self.dtype.fieldNames():
            return F.lit(True)
        return self.child(name).is_absent()

    def members(self, where: Callable[[Column], Column] | None = None
                ) -> Column:
        """A map instance's present members, as a map; with ``where``,
        only those whose key satisfies it."""
        val_t = self.dtype.valueType

        def keep(k: Column, v: Column) -> Column:
            cond = ~Inst(v, val_t, self.loc, strict=self.strict).is_absent()
            return cond if where is None else cond & where(k)
        return F.map_filter(self.col, keep)

    # -- views of a variant value -------------------------------------------
    # Object and array keywords apply to a variant through a typed view,
    # gated on the value being of that kind; each is built once per Inst.
    @cached_property
    def object_view(self) -> tuple["Inst", Column]:
        view = Inst(F.try_variant_get(self.col, "$", "map<string,variant>"),
                    T.MapType(T.StringType(), _VARIANT_TYPES[0]()), self.loc,
                    strict=self.strict)
        return view, F.coalesce(vt.is_object(self.col), F.lit(False))

    @cached_property
    def array_view(self) -> tuple["Inst", Column]:
        view = Inst(vt.as_array(self.col), T.ArrayType(_VARIANT_TYPES[0]()),
                    self.loc, strict=self.strict)
        return view, F.coalesce(vt.is_array(self.col), F.lit(False))


def _present_const_members(obj: Inst, const: dict) -> int:
    """The number of present members a map instance must have to equal
    object ``const``. By the member rule a null const member equals an
    ABSENT member, unless ``strict`` and the map's values can hold a JSON
    null (variant): then it equals a present JSON null."""
    json_null = obj.strict and _is_variant(obj.dtype.valueType)
    return sum(1 for v in const.values() if v is not None or json_null)


# --------------------------------------------------------------------------
# per-object coverage info for unevaluatedProperties / unevaluatedItems
# (the reference's mutable mark tracking, Validator.kt:184-243, collapsed to
#  compile-time set algebra per SURVEY.md §7)
# --------------------------------------------------------------------------

@dataclass
class NodeResult:
    compiled: Compiled
    # property name -> condition under which that property counts as evaluated
    prop_cov: dict[str, list[Column]] = field(default_factory=dict)
    all_props_cov: list[Column] = field(default_factory=list)
    # array index coverage: indices < prefix_cov are evaluated (static, from
    # THIS node's own prefixItems); prefix_cov_gated carries (count, gate)
    # pairs from nested applicators — their annotation only flows when the
    # branch succeeded (2020-12 §7.7.1; ADVICE r01);
    # rest_cov conditions under which *all* indices are evaluated ("items");
    # elem_cov: per-element predicates (from "contains") with their gate cond
    prefix_cov: int = 0
    prefix_cov_gated: list[tuple[int, Column]] = field(default_factory=list)
    rest_cov: list[Column] = field(default_factory=list)
    elem_cov: list[tuple[Callable[[Column], Column], Column]] = field(default_factory=list)
    # dynamic-key coverage for map/variant objects: (regex, gate) pairs from
    # patternProperties whose key match can only be decided at runtime
    key_pattern_cov: list[tuple[str, Column]] = field(default_factory=list)

    def merge_child(self, child: "NodeResult", gate: Column) -> None:
        """Fold a nested applicator's coverage, gated on its success
        (annotations only flow from succeeding subschemas — 2020-12 §7.7.1;
        reference marks on success, Validator.kt:486-488,499-502)."""
        for name, conds in child.prop_cov.items():
            self.prop_cov.setdefault(name, []).extend(c & gate for c in conds)
        self.all_props_cov.extend(c & gate for c in child.all_props_cov)
        if child.prefix_cov:
            self.prefix_cov_gated.append((child.prefix_cov, gate))
        self.prefix_cov_gated.extend((n, c & gate) for n, c in child.prefix_cov_gated)
        self.rest_cov.extend(c & gate for c in child.rest_cov)
        self.elem_cov.extend((fn, c & gate) for fn, c in child.elem_cov)
        self.key_pattern_cov.extend((p, c & gate) for p, c in child.key_pattern_cov)


# --------------------------------------------------------------------------
# format validators — pure Column expressions (reference Format.kt:23-160)
# --------------------------------------------------------------------------

_IPV6_RE = (
    r"^(([0-9A-Fa-f]{1,4}:){7}[0-9A-Fa-f]{1,4}"
    r"|([0-9A-Fa-f]{1,4}:){1,7}:"
    r"|([0-9A-Fa-f]{1,4}:){1,6}:[0-9A-Fa-f]{1,4}"
    r"|([0-9A-Fa-f]{1,4}:){1,5}(:[0-9A-Fa-f]{1,4}){1,2}"
    r"|([0-9A-Fa-f]{1,4}:){1,4}(:[0-9A-Fa-f]{1,4}){1,3}"
    r"|([0-9A-Fa-f]{1,4}:){1,3}(:[0-9A-Fa-f]{1,4}){1,4}"
    r"|([0-9A-Fa-f]{1,4}:){1,2}(:[0-9A-Fa-f]{1,4}){1,5}"
    r"|[0-9A-Fa-f]{1,4}:((:[0-9A-Fa-f]{1,4}){1,6})"
    r"|:((:[0-9A-Fa-f]{1,4}){1,7}|:)"
    r"|([0-9A-Fa-f]{1,4}:){1,4}:((25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)\.){3}"
    r"(25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)"
    r"|::([Ff]{4}(:0{1,4})?:)?((25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)\.){3}"
    r"(25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d))$"
)
_IPV4_RE = r"^((25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)\.){3}(25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)$"
_UUID_RE = r"^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$"
_DURATION_RE = (
    r"^P(?=\d|T)(\d+W|(\d+Y)?(\d+M)?(\d+D)?(T(?=\d)(\d+H)?(\d+M)?(\d+(\.\d+)?S)?)?)$"
)
_EMAIL_RE = (
    r"^[A-Za-z0-9!#$%&'*+/=?^_`{|}~-]+(\.[A-Za-z0-9!#$%&'*+/=?^_`{|}~-]+)*"
    r"@[A-Za-z0-9]([A-Za-z0-9-]*[A-Za-z0-9])?(\.[A-Za-z0-9]([A-Za-z0-9-]*[A-Za-z0-9])?)+$"
)
_URI_RE = r"^[A-Za-z][A-Za-z0-9+.\-]*:[^\s]*$"  # scheme mandatory (Format.kt:58-68)
_DATE_RE = r"^\d{4}-\d{2}-\d{2}$"
_TIME_BODY = r"([01]\d|2[0-3]):[0-5]\d:([0-5]\d|60)(\.\d+)?([Zz]|[+-]([01]\d|2[0-3]):[0-5]\d)"
_TIME_RE = "^" + _TIME_BODY + "$"
_DATETIME_RE = r"^\d{4}-\d{2}-\d{2}[Tt]" + _TIME_BODY + "$"


def _date_valid(s: Column) -> Column:
    """Calendar-valid yyyy-mm-dd incl. leap years (Format.kt date parse)."""
    y = F.substring(s, 1, 4).try_cast("int")
    m = F.substring(s, 6, 2).try_cast("int")
    d = F.substring(s, 9, 2).try_cast("int")
    leap = ((y % 4 == 0) & (y % 100 != 0)) | (y % 400 == 0)
    dim = (
        F.when(m.isin(1, 3, 5, 7, 8, 10, 12), F.lit(31))
        .when(m.isin(4, 6, 9, 11), F.lit(30))
        .when(m == 2, F.when(leap, F.lit(29)).otherwise(F.lit(28)))
        .otherwise(F.lit(0))
    )
    return s.rlike(_DATE_RE) & (m >= 1) & (m <= 12) & (d >= 1) & (d <= dim)


def _time_valid(s: Column, body_offset: int = 0) -> Column:
    """RFC3339 time; leap second 23:59:60 only at UTC end-of-day after offset
    normalization (reference Format.kt:108-137, leap-second Format.kt:42-48)."""
    hh = F.substring(s, body_offset + 1, 2).try_cast("int")
    mm = F.substring(s, body_offset + 4, 2).try_cast("int")
    ss = F.substring(s, body_offset + 7, 2).try_cast("int")
    off_str = F.regexp_extract(s, r"([Zz]|[+-]\d{2}:\d{2})$", 1)
    off_min = F.when(F.upper(off_str) == "Z", F.lit(0)).otherwise(
        F.when(F.substring(off_str, 1, 1) == "-", F.lit(-1)).otherwise(F.lit(1))
        * (F.substring(off_str, 2, 2).try_cast("int") * 60 + F.substring(off_str, 5, 2).try_cast("int"))
    )
    utc_min = F.pmod(hh * 60 + mm - off_min, F.lit(1440))
    leap_ok = (ss != 60) | (utc_min == 23 * 60 + 59)
    return leap_ok


_FORMAT_BUILDERS: dict[str, Callable[[Column], Column]] = {
    "date": _date_valid,
    "time": lambda c: c.rlike(_TIME_RE) & _time_valid(c),
    "date-time": lambda c: c.rlike(_DATETIME_RE)
    & _date_valid(F.substring(c, 1, 10))
    & _time_valid(c, body_offset=11),
    "duration": lambda c: c.rlike(_DURATION_RE),
    "uri": lambda c: c.rlike(_URI_RE),
    "email": lambda c: c.rlike(_EMAIL_RE),
    "ipv4": lambda c: c.rlike(_IPV4_RE),
    "ipv6": lambda c: c.rlike(_IPV6_RE),
    "uuid": lambda c: c.rlike(_UUID_RE),
}
SUPPORTED_FORMATS = tuple(_FORMAT_BUILDERS)


# --------------------------------------------------------------------------
# compiler
# --------------------------------------------------------------------------

_NUMERIC_TYPES = (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
                  T.FloatType, T.DoubleType, T.DecimalType)
_INTEGERISH = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
_STRINGISH = (T.StringType, T.VarcharType, T.CharType)
# temporal columns carry json type "string" (_json_type_of): string
# keywords evaluate over their canonical cast-to-string text (dates are
# ISO "2024-01-01"; timestamps use Spark's space separator, not "T")
_TEMPORAL = (T.DateType, T.TimestampType, T.TimestampNTZType)


def _is_number(v: Any) -> bool:
    return isinstance(v, (int, float)) and not isinstance(v, bool)


class Compiler:
    """Compiles one schema document against a Spark ``StructType``.

    The reference analogue is ``SchemaLoader`` (fixpoint loader,
    SchemaLoader.kt:344-379) fused with ``DefaultValidator`` — but where the
    reference defers keyword dispatch to visit time, here every keyword
    resolves at compile time into a Column expression.
    """

    def __init__(
        self,
        schema_doc: Any,
        *,
        registry: dict[str, Any] | None = None,
        base_uri: str = "",
        format_assertion: bool | None = None,
        rw_context: str | None = None,   # None | "read" | "write" (Validator.kt:912-924)
        lenient: bool = False,           # LENIENT primitive coercion (Validator.kt:324-365)
        max_depth: int = 64,
        fetch_remote: bool = False,      # opt-in http(s) $ref fetch (SchemaClient.kt:63-140)
        collect_errors: bool = True,     # collect-then-throw-one (SchemaLoader.kt:336-341)
        strict_nulls: bool = False,      # JSON null = present "null" value (Inst.strict)
        on_max_depth: str = "raise",     # "raise" | "fail_row" (see _compile_node)
    ):
        self.doc = schema_doc
        self.resolver = Resolver(schema_doc, registry=registry,
                                 base_uri=base_uri, fetch_remote=fetch_remote)
        self.max_depth = max_depth
        self.rw_context = rw_context
        self.lenient = lenient
        from json_skema_spark.plans.model import (strip_validation_keywords,
                                                   vocabulary_of)
        vocab = vocabulary_of(schema_doc, self.resolver.registry,
                              fetch_remote=fetch_remote)
        if format_assertion is None:
            # DEPENDS_ON_VOCABULARY default (Validator.kt:250-261): assert iff
            # the governing vocabulary set (inline $vocabulary, or the
            # $schema-resolved meta-schema's — registry / builtin dialect
            # table / optional remote fetch, SchemaClient.kt:172-181) enables
            # format-assertion.
            format_assertion = any(
                "format-assertion" in k and bool(v) for k, v in vocab.items()
            )
        self.format_assertion = format_assertion
        if vocab and not any("/vocab/validation" in k and bool(v)
                             for k, v in vocab.items()):
            # meta-schema DECLARES a vocabulary set omitting validation:
            # validation keywords have no defined behavior -> not applied
            # (official vocabulary.json suite semantics). Empty vocab =
            # unknown/standard dialect -> everything applies as usual.
            self.doc = strip_validation_keywords(self.doc)
            self.resolver = Resolver(self.doc, registry=registry,
                                     base_uri=base_uri,
                                     fetch_remote=fetch_remote)
        self.collect_errors = collect_errors
        self.strict_nulls = strict_nulls
        self.on_max_depth = on_max_depth
        self._neg_depth = 0  # >0 inside not / oneOf / if-condition subtrees
        self.errors: list[CompileError] = []

    # -- public ------------------------------------------------------------
    def compile_root(self, struct_type: T.StructType) -> Compiled:
        inst = Inst(col=None, dtype=struct_type, loc=F.lit("#"), root=True,
                    strict=self.strict_nulls)
        out = self._compile(self.doc, inst, "#", "#",
                            (self.resolver.scope_of(self.doc),), 0).compiled
        self._raise_collected()
        return out

    def compile_value(self, col: Column, dtype: T.DataType,
                      loc: Column | None = None) -> Compiled:
        inst = Inst(col=col, dtype=dtype, loc=loc if loc is not None else F.lit("#"),
                    strict=self.strict_nulls)
        out = self._compile(self.doc, inst, "#", "#",
                            (self.resolver.scope_of(self.doc),), 0).compiled
        self._raise_collected()
        return out

    def _raise_collected(self) -> None:
        if self.errors:
            errs, self.errors = self.errors, []
            raise AggregateCompileError(errs)

    # -- core dispatch -----------------------------------------------------
    def _compile(self, node: Any, inst: Inst, kw_loc: str, dyn: str,
                 scope: tuple[str, ...], depth: int) -> NodeResult:
        """Subschema-boundary error collection: in ``collect_errors`` mode a
        ``CompileError`` anywhere inside this subschema is recorded with its
        schema pointer and the subschema degrades to always-pass, so SIBLING
        subschemas still compile and every independent mistake surfaces in
        one ``AggregateCompileError`` from ``compile_root``."""
        if not self.collect_errors:
            return self._compile_node(node, inst, kw_loc, dyn, scope, depth)
        try:
            return self._compile_node(node, inst, kw_loc, dyn, scope, depth)
        except CompileError as exc:
            if isinstance(exc, AggregateCompileError):
                raise  # already aggregated (nested Compiler) — pass through
            if exc.location is None:
                exc.location = kw_loc
            self.errors.append(exc)
            return NodeResult(Compiled.ok())

    @contextmanager
    def _negation_scope(self):
        """Marks compilation of subtrees whose verdict feeds a
        NON-MONOTONE context (not, oneOf's exact count, if's branch
        selection): a conservative per-row depth-cutoff failure INVERTS
        there — '~child.passed' under `not` would wrongly ACCEPT a
        too-deep instance (review r05c), so the fail_row cutoff refuses
        at compile time inside these scopes."""
        self._neg_depth += 1
        try:
            yield
        finally:
            self._neg_depth -= 1

    def _compile_node(self, node: Any, inst: Inst, kw_loc: str, dyn: str,
                      scope: tuple[str, ...], depth: int) -> NodeResult:
        # ``scope`` is the *dynamic scope stack* (outermost first); its last
        # element is the current lexical base URI. The full stack accumulates
        # every schema resource entered via $ref/$dynamicRef so $dynamicRef
        # resolution can search outermost-first (reference SchemaVisitor
        # dynamic-path semantics; ADVICE r01).
        if depth > self.max_depth:
            if self.on_max_depth == "fail_row" and self._neg_depth > 0:
                raise CompileError(
                    f"recursive schema exceeds max_depth={self.max_depth} "
                    "INSIDE a not/oneOf/if scope — the per-row conservative "
                    "cutoff failure would invert there (a too-deep instance "
                    "under `not` would wrongly PASS); raise max_depth or "
                    "restructure the negated recursion", location=kw_loc)
            if self.on_max_depth == "fail_row":
                # Bounded unrolling for recursive schemas: verdicts are exact
                # for every instance that nests within the compiled budget;
                # an instance value actually PRESENT at the cutoff depth
                # fails conservatively with a distinct keyword instead of
                # aborting the compile. Absent sub-instances (the common
                # case — the data doesn't reach this depth) pass, so shallow
                # data validates exactly under a recursive schema.
                return NodeResult(Compiled.simple(
                    ~inst.is_absent(), "maxDepth", kw_loc, inst.loc,
                    dyn + "/maxDepth",
                    F.lit(f"instance nests deeper than the compiled recursion "
                          f"budget (max_depth={self.max_depth})")))
            raise CompileError(
                f"schema recursion exceeds max_depth={self.max_depth} at {kw_loc} "
                "(recursive $ref cannot unroll into finite Column expressions; "
                "see SURVEY.md §7 hard parts)")
        if node is True or node == {}:
            return NodeResult(Compiled.ok())
        if node is False:
            # FalseSchema (reference False.kt:3-11): fails for any present value
            cond = F.lit(True) if inst.root else ~inst.is_absent()
            return NodeResult(Compiled.simple(
                cond, "false", kw_loc, inst.loc, dyn + "/false",
                F.lit("false schema always fails")))
        if not isinstance(node, dict):
            raise CompileError(f"schema node must be bool or object at {kw_loc}")

        res = NodeResult(Compiled.ok())
        parts: list[Compiled] = []

        def add(c: Compiled | None):
            if c is not None:
                parts.append(c)

        cur = self.resolver.scope_of(node, scope[-1])
        if cur != scope[-1]:
            scope = scope + (cur,)

        def _enter(base: str) -> tuple[str, ...]:
            return scope if base == scope[-1] else scope + (base,)

        # ---- $ref / $dynamicRef (inlined; SchemaLoader.kt:381-405) -------
        # Resolver failures (unresolvable ref, bad pointer) re-raise as
        # POINTERED CompileErrors: a raw SchemaError would escape the
        # collect-then-throw contract, aborting the compile uncaught and
        # suppressing every sibling diagnostic (review r05c)
        if "$ref" in node:
            try:
                target, tscope = self.resolver.resolve(node["$ref"], scope[-1])
            except SchemaError as exc:
                raise CompileError(str(exc), location=f"{kw_loc}/$ref")
            child = self._compile(target, inst,
                                  self._ref_loc(node["$ref"], kw_loc, target),
                                  dyn + "/$ref", _enter(tscope), depth + 1)
            add(child.compiled)
            res.merge_child(child, child.compiled.passed)
        if "$dynamicRef" in node:
            # search the accumulated dynamic stack outermost-first — a
            # $dynamicAnchor defined in an *intermediate* document of a $ref
            # chain must win over the lexical fallback (ADVICE r01)
            try:
                hit = self.resolver.resolve_dynamic(node["$dynamicRef"],
                                                    list(scope))
                if hit is None:
                    hit = self.resolver.resolve(node["$dynamicRef"], scope[-1])
            except SchemaError as exc:
                raise CompileError(str(exc), location=f"{kw_loc}/$dynamicRef")
            target, tscope = hit
            child = self._compile(target, inst,
                                  self._ref_loc(node["$dynamicRef"], kw_loc,
                                                target),
                                  dyn + "/$dynamicRef", _enter(tscope),
                                  depth + 1)
            add(child.compiled)
            res.merge_child(child, child.compiled.passed)

        # ---- value keywords ---------------------------------------------
        if "type" in node:
            add(self._kw_type(node["type"], inst, kw_loc, dyn))
        if "const" in node:
            add(self._kw_const(node["const"], inst, kw_loc, dyn))
        if "enum" in node:
            add(self._kw_enum(node["enum"], inst, kw_loc, dyn))
        add(self._numeric_keywords(node, inst, kw_loc, dyn))
        add(self._string_keywords(node, inst, kw_loc, dyn))
        if "format" in node and self.format_assertion:
            add(self._kw_format(node["format"], inst, kw_loc, dyn))
        if node.get("readOnly") is True and self.rw_context == "write":
            add(Compiled.simple(
                ~inst.is_absent(), "readOnly", f"{kw_loc}/readOnly", inst.loc,
                dyn + "/readOnly",
                F.concat(F.lit('read-only property "'),
                         F.element_at(F.split(inst.loc, "/"), -1),
                         F.lit('" should not be present in write context'))))
        if node.get("writeOnly") is True and self.rw_context == "read":
            add(Compiled.simple(
                ~inst.is_absent(), "writeOnly", f"{kw_loc}/writeOnly", inst.loc,
                dyn + "/writeOnly",
                F.concat(F.lit('write-only property "'),
                         F.element_at(F.split(inst.loc, "/"), -1),
                         F.lit('" should not be present in read context'))))

        # ---- object keywords --------------------------------------------
        _OBJ_KW = ("properties", "patternProperties", "required",
                   "additionalProperties", "propertyNames", "minProperties",
                   "maxProperties", "dependentRequired", "dependentSchemas")
        _ARR_KW = ("items", "prefixItems", "contains", "uniqueItems",
                   "minItems", "maxItems", "minContains", "maxContains")
        if isinstance(inst.dtype, (T.StructType, T.MapType)):
            self._object_keywords(node, inst, kw_loc, dyn, scope, depth, res, add)
        elif _is_variant(inst.dtype) and any(k in node for k in _OBJ_KW):
            self._through_view(self._object_keywords, inst.object_view, node,
                               kw_loc, dyn, scope, depth, res, add)

        # ---- array keywords ---------------------------------------------
        if isinstance(inst.dtype, T.ArrayType):
            self._array_keywords(node, inst, kw_loc, dyn, scope, depth, res, add)
        elif _is_variant(inst.dtype) and any(k in node for k in _ARR_KW):
            self._through_view(self._array_keywords, inst.array_view, node,
                               kw_loc, dyn, scope, depth, res, add)

        # ---- combinators -------------------------------------------------
        self._combinators(node, inst, kw_loc, dyn, scope, depth, res, add)

        # ---- unevaluated* (after everything else; Validator.kt:419) ------
        base = conj(parts)
        uneval_parts: list[Compiled] = []
        if "unevaluatedProperties" in node:
            sub = node["unevaluatedProperties"]
            if isinstance(inst.dtype, T.StructType):
                uneval_parts.append(self._kw_unevaluated_properties(
                    sub, inst, kw_loc, dyn, scope, depth, res))
            elif isinstance(inst.dtype, T.MapType):
                uneval_parts.append(self._kw_unevaluated_properties_dynamic(
                    sub, inst, kw_loc, dyn, scope, depth, res))
            elif _is_variant(inst.dtype):
                minst, gate = inst.object_view
                uneval_parts.append(self._kw_unevaluated_properties_dynamic(
                    sub, minst, kw_loc, dyn, scope, depth, res).gated(gate))
            # unevaluatedProperties evaluates every property not otherwise
            # covered -> together with prior keywords, EVERYTHING is now
            # evaluated; parents merging this node's annotations must see
            # that (2020-12 §11.3, annotation "all property names")
            res.all_props_cov.append(F.lit(True))
        if "unevaluatedItems" in node:
            sub = node["unevaluatedItems"]
            if isinstance(inst.dtype, T.ArrayType):
                uneval_parts.append(self._kw_unevaluated_items(
                    sub, inst, kw_loc, dyn, scope, depth, res))
            elif _is_variant(inst.dtype):
                ainst, gate = inst.array_view
                uneval_parts.append(self._kw_unevaluated_items(
                    sub, ainst, kw_loc, dyn, scope, depth, res).gated(gate))
            res.rest_cov.append(F.lit(True))  # §11.2: all items now evaluated
        if uneval_parts:
            uneval = conj(uneval_parts)
            # only evaluated when no prior failure (shouldVisitUnevaluatedSchemas,
            # Validator.kt:419)
            res.compiled = replace(conj([base, uneval.gated(base.passed)]),
                                   passed=base.passed & uneval.passed)
        else:
            res.compiled = base
        return res

    def _through_view(self, keywords, view: tuple[Inst, Column], node: dict,
                      kw_loc: str, dyn: str, scope: tuple, depth: int,
                      res: NodeResult, add) -> None:
        """Apply one keyword family (``_object_keywords`` or
        ``_array_keywords``) to a variant's typed ``view``, gated on the
        value being of the view's kind. Coverage from the view flows to this
        node's unevaluated* and, through merge_child in parents, to
        enclosing applicators."""
        vinst, gate = view
        parts: list[Compiled] = []
        sub_res = NodeResult(Compiled.ok())
        keywords(node, vinst, kw_loc, dyn, scope, depth, sub_res, parts.append)
        if parts:
            add(conj(parts).gated(gate))
        res.merge_child(sub_res, gate)

    def _ref_loc(self, ref: str, kw_loc: str, target: Any = None) -> str:
        """keyword_location base for a $ref target: the target's REAL
        schema pointer when it lives in the root document (so an
        anchor-form ref '#A' reports '#/$defs/s/...', dereferenceable by
        tooling — review r05c); the raw fragment for pointer-form refs
        (identical string), '#/$ref:<uri>' for remote targets whose
        pointers belong to a different document."""
        if target is not None:
            ptr = self.resolver.pointer_of(target)
            if ptr is not None:
                return "#" + ptr
        return ref if ref.startswith("#") else "#/$ref:" + ref

    # -- scalar keyword builders ------------------------------------------
    def _kw_type(self, tval: Any, inst: Inst, kw_loc: str, dyn: str) -> Compiled | None:
        if inst.root:
            # table root is always an object
            types = [tval] if isinstance(tval, str) else list(tval)
            if "object" in types:
                return None
            return Compiled.simple(
                F.lit(True), "type", f"{kw_loc}/type", inst.loc, dyn + "/type",
                F.lit(f"expected type: {types[0]}, actual: object"))
        types = [tval] if isinstance(tval, str) else list(tval)
        if _is_variant(inst.dtype):
            checks = {"string": vt.is_string, "boolean": vt.is_boolean,
                      "number": vt.is_number, "integer": vt.is_integer,
                      "array": vt.is_array, "object": vt.is_object,
                      # strict: only an explicit JSON null has type "null"
                      "null": vt.is_json_null if inst.strict else vt.is_absent}
            # LENIENT coercion (Validator.kt:324-365): a variant scalar
            # coerces by the typed-column rules of its runtime kind
            scalars = [] if not self.lenient else [
                (is_k(inst.col), Inst(as_k(inst.col), dt, inst.loc), actual)
                for is_k, as_k, dt, actual in (
                    (vt.is_string, vt.as_string, T.StringType(), "string"),
                    (vt.is_boolean, vt.as_boolean, T.BooleanType(), "boolean"),
                    (vt.is_number, vt.as_double, T.DoubleType(), "number"))]
            ok = F.lit(False)
            for t in types:
                # unknown type name -> never matches (same as the typed
                # path), not a KeyError escaping the CompileError contract
                check = checks.get(t, lambda _c: F.lit(False))
                cond = check(inst.col)
                for is_k, typed, actual in scalars:
                    cond = cond | (is_k & self._type_matches(t, typed, actual))
                ok = ok | F.coalesce(cond, F.lit(False))
            prefix = (f"expected type: {types[0]}" if isinstance(tval, str)
                      else "expected type: one of " + ", ".join(types))
            msg = F.concat(F.lit(prefix + ", actual: "),
                           vt.json_type_name(inst.col))
            return Compiled.simple(~inst.is_absent() & ~ok, "type",
                                   f"{kw_loc}/type", inst.loc, dyn + "/type", msg)
        actual = _json_type_of(inst.dtype)
        if actual in types or (actual == "integer" and "number" in types):
            # the column's type settles the keyword: _type_matches is the
            # literal True, so the node has nothing to fail
            return None
        ok = F.lit(False)
        for t in types:
            ok = ok | self._type_matches(t, inst, actual)
        if isinstance(tval, str):
            # "expected type: X, actual: Y" (reference Type.kt:25)
            msg = F.lit(f"expected type: {tval}, actual: {actual}")
        else:
            msg = F.lit(
                "expected type: one of " + ", ".join(types) + f", actual: {actual}")
        return Compiled.simple(~inst.is_absent() & ~ok, "type", f"{kw_loc}/type",
                               inst.loc, dyn + "/type", msg)

    def _type_matches(self, t: str, inst: Inst, actual: str) -> Column:
        if t == "null":
            return inst.col.isNull()
        if t == actual:
            return F.lit(True)
        if t == "number" and actual == "integer":
            # integer accepted where number required (Validator.kt:321)
            return F.lit(True)
        if t == "integer" and actual == "number":
            # "x.0 is an integer": zero-fractional check (Validator.kt:271-281)
            return inst.col == F.floor(inst.col)
        if self.lenient:
            # LENIENT primitive coercion (reference Validator.kt:324-365):
            # "5" -> 5, yes/no/on/off -> bool, scalar -> string
            col = inst.col
            if t == "number" and actual == "string":
                return col.try_cast("double").isNotNull()
            if t == "integer" and actual == "string":
                d = col.try_cast("double")
                return d.isNotNull() & (d == F.floor(d))
            if t == "boolean" and actual == "string":
                # YAML boolean literal sets (Validator.kt:288-318)
                return F.lower(col).isin("true", "false", "yes", "no", "on", "off")
            if t == "string" and actual in ("integer", "number", "boolean"):
                return F.lit(True)
        return F.lit(False)

    def _kw_const(self, value: Any, inst: Inst, kw_loc: str, dyn: str) -> Compiled:
        cond_ok = self._value_equals(inst, value)
        return Compiled.simple(
            ~inst.is_absent() & ~F.coalesce(cond_ok, F.lit(False)),
            "const", f"{kw_loc}/const", inst.loc, dyn + "/const",
            F.lit("actual instance is not the same as expected constant value"))

    def _kw_enum(self, values: list, inst: Inst, kw_loc: str, dyn: str) -> Compiled:
        conds = [self._value_equals(inst, v) for v in values]
        ok = F.lit(False)
        for c in conds:
            ok = ok | F.coalesce(c, F.lit(False))
        return Compiled.simple(
            ~inst.is_absent() & ~ok, "enum", f"{kw_loc}/enum", inst.loc,
            dyn + "/enum", F.lit("the instance is not equal to any enum values"))

    def _value_equals(self, inst: Inst, value: Any) -> Column:
        """Deep equality with numeric value-compare semantics
        (BigDecimal.compareTo, reference JsonValue.kt:288-292): Spark's
        numeric type promotion in ``==`` gives the same value-based result."""
        col, dtype = inst.col, inst.dtype
        if _is_variant(dtype):
            return self._variant_equals(inst, value)
        if value is None:
            return col.isNull()
        if isinstance(value, bool):
            return col == F.lit(value) if isinstance(dtype, T.BooleanType) else F.lit(False)
        if _is_number(value):
            if isinstance(dtype, _NUMERIC_TYPES):
                if isinstance(value, int) and not -2 ** 63 <= value < 2 ** 63:
                    # F.lit cannot carry it as a JVM long (raw Py4J error
                    # escaping the CompileError contract, review r05c);
                    # compare via decimal38 when it fits — a double column
                    # CAN hold a numerically-equal value — else no Spark
                    # numeric can represent it: never equal
                    from decimal import Decimal as _D
                    if len(str(abs(value))) > 38:
                        return F.lit(False)
                    if isinstance(dtype, (T.FloatType, T.DoubleType)):
                        # EXACT semantics (ADVICE r05): cast-to-decimal38
                        # goes through the shortest decimal repr, so
                        # (double)1e30 wrongly equaled const 10**30 though
                        # its exact value is ...019884624838656. A binary
                        # float equals the const iff the const is exactly
                        # representable AND the column holds that value.
                        try:
                            fv = float(value)
                        except OverflowError:
                            return F.lit(False)
                        if int(fv) != value:
                            return F.lit(False)
                        return col == F.lit(fv)
                    eq = (col.try_cast(T.DecimalType(38, 0))
                          == F.lit(_D(value)))
                    if isinstance(dtype, T.DecimalType) and dtype.scale > 0:
                        # integrality gate (ADVICE r05): try_cast(decimal38)
                        # HALF_UP-rounds, so decimal(38,2) ...000.75 rounded
                        # to ...001 and wrongly equaled const ...001.
                        # Requiring the rounded value to round-trip back to
                        # the instance pins integrality; a NULL round-trip
                        # (overflow) coalesces to not-equal at the consumer.
                        eq = eq & (col.try_cast(T.DecimalType(38, 0))
                                   .try_cast(dtype) == col)
                    return eq
                return col == F.lit(value)
            return F.lit(False)
        if isinstance(value, str):
            if isinstance(dtype, _STRINGISH):
                return col == F.lit(value)
            if isinstance(dtype, _TEMPORAL):
                # json type "string" (see _json_type_of): compare the
                # canonical text, not always-False
                return col.cast("string") == F.lit(value)
            return F.lit(False)
        if isinstance(value, list):
            if not isinstance(dtype, T.ArrayType):
                return F.lit(False)
            elem = dtype.elementType
            if len(value) == 0:
                return F.size(col) == 0
            eqs = [
                self._value_equals(
                    Inst(F.element_at(col, i + 1), elem, F.lit(""),
                         strict=inst.strict), v)
                for i, v in enumerate(value)
            ]
            out = F.size(col) == len(value)
            for e in eqs:
                out = out & F.coalesce(e, F.lit(False))
            return out
        if isinstance(value, dict):
            if isinstance(dtype, T.StructType):
                out = F.lit(True)
                for k, v in value.items():
                    if k not in dtype.fieldNames():
                        return F.lit(False)
                    # child() handles the table root (col is None: fields
                    # bind to real DataFrame columns) and nested structs
                    out = out & F.coalesce(
                        self._value_equals(inst.child(k), v), F.lit(False))
                # properties absent from the const must be absent in the row
                for name in dtype.fieldNames():
                    if name not in value:
                        out = out & inst.missing(name)
                return out
            if isinstance(dtype, T.MapType):
                out = F.size(inst.members()) == _present_const_members(
                    inst, value)
                for k, v in value.items():
                    out = out & F.coalesce(
                        self._value_equals(inst.child(k), v), F.lit(False))
                return out
            return F.lit(False)
        raise CompileError(f"unsupported const/enum value: {value!r}")

    def _variant_equals(self, inst: Inst, value: Any) -> Column:
        """Deep equality for runtime-dispatched variant values."""
        col = inst.col
        if value is None:
            # strict: const/enum null matches only an explicit JSON null
            return vt.is_json_null(col) if inst.strict else vt.is_absent(col)
        if isinstance(value, bool):
            return vt.is_boolean(col) & (vt.as_boolean(col) == F.lit(value))
        if _is_number(value):
            if isinstance(value, int) and abs(value) > 2 ** 53:
                # a double comparison conflates distinct integers past the
                # 53-bit mantissa (e.g. const 2^53+1 matched 2^53) — the
                # exact class vt.equality_key's decimal(38,0) component
                # exists to separate (review r05c). Split by runtime kind
                # (ADVICE r05): try_variant_get(decimal(38,0)) HALF_UP-
                # rounds, so a FRACTIONAL variant decimal half-an-ulp
                # under the const wrongly matched, and a variant double
                # compared via the rounded decimal rather than its exact
                # binary value.
                from decimal import Decimal as _D
                if len(str(abs(value))) > 38:
                    return F.lit(False)  # beyond decimal38: unrepresentable
                k = vt.kind(col)
                dec_eq = (F.try_variant_get(col, "$", "decimal(38,0)")
                          == F.lit(_D(value)))
                # integer kinds: decimal38 extraction is exact
                int_eq = k.isin("BIGINT", "INT", "SMALLINT", "TINYINT") \
                    & dec_eq
                # double/float kind: equal iff the const is exactly
                # representable AND the exact binary value matches
                try:
                    fv = float(value)
                    rep = int(fv) == value
                except OverflowError:
                    rep = False
                dbl_eq = (k.isin("DOUBLE", "FLOAT")
                          & (vt.as_double(col) == F.lit(fv))) \
                    if rep else F.lit(False)
                # decimal kind: decimal38 equality gated on integrality —
                # the canonical text carries no nonzero fraction digit
                # (trailing zeros like 100.00 stay integral-valued)
                frac = F.coalesce(
                    vt.as_string(col).rlike(r"\.\d*[1-9]"), F.lit(True))
                decm_eq = k.startswith("DECIMAL") & ~frac & dec_eq
                return int_eq | dbl_eq | decm_eq
            return vt.is_number(col) & (vt.as_double(col) == F.lit(float(value)))
        if isinstance(value, str):
            return vt.is_string(col) & (vt.as_string(col) == F.lit(value))
        if isinstance(value, list):
            arr = vt.as_array(col)
            out = vt.is_array(col) & (F.size(arr) == len(value))
            for i, v in enumerate(value):
                out = out & F.coalesce(self._variant_equals(
                    Inst(F.element_at(arr, i + 1), inst.dtype, inst.loc,
                         strict=inst.strict), v), F.lit(False))
            return out
        if isinstance(value, dict):
            obj, is_obj = inst.object_view
            out = is_obj & (F.size(obj.members())
                            == _present_const_members(obj, value))
            for k, v in value.items():
                out = out & F.coalesce(
                    self._variant_equals(inst.child(k), v), F.lit(False))
            return out
        raise CompileError(f"unsupported const/enum value: {value!r}")

    def _numeric_keywords(self, node: dict, inst: Inst, kw_loc: str,
                          dyn: str) -> Compiled | None:
        keys = ("minimum", "maximum", "exclusiveMinimum", "exclusiveMaximum", "multipleOf")
        if inst.root or not any(k in node for k in keys):
            return None
        if _is_variant(inst.dtype):
            # runtime gate: numeric keywords apply only to number-kind values
            gate = F.coalesce(vt.is_number(inst.col), F.lit(False))
            num = vt.as_double(inst.col)
            sval = num.cast("string")
            return self._numeric_parts(node, inst, kw_loc, dyn, num, sval, gate,
                                       vt.as_string(inst.col))
        if not isinstance(inst.dtype, _NUMERIC_TYPES):
            return None  # numeric keywords ignore non-numeric instances
        col = inst.col
        num = col.cast("double")  # toDouble() comparison (Validator.kt:645,656)
        sval = col.cast("string")
        return self._numeric_parts(node, inst, kw_loc, dyn, num, sval,
                                   F.lit(True), sval)

    @staticmethod
    def _bound_f(v) -> float:
        """Schema numeric bound as a double, SATURATING past double range:
        a 400-digit JSON integer parses to a Python int that float()
        refuses (OverflowError) — an uncaught non-CompileError; the bound
        semantics saturate to +-inf instead (review r05c)."""
        try:
            return float(v)
        except OverflowError:
            return float("inf") if v > 0 else float("-inf")

    def _numeric_parts(self, node: dict, inst: Inst, kw_loc: str, dyn: str,
                       num: Column, sval: Column, gate: Column,
                       exact_repr: Column) -> Compiled | None:
        parts = []
        if "minimum" in node:
            lo = node["minimum"]
            parts.append(Compiled.simple(
                gate & ~inst.is_absent() & (num < F.lit(self._bound_f(lo))),
                "minimum", f"{kw_loc}/minimum", inst.loc, dyn + "/minimum",
                F.concat(sval, F.lit(f" is lower than minimum {lo}"))))
        if "maximum" in node:
            hi = node["maximum"]
            parts.append(Compiled.simple(
                gate & ~inst.is_absent() & (num > F.lit(self._bound_f(hi))),
                "maximum", f"{kw_loc}/maximum", inst.loc, dyn + "/maximum",
                F.concat(sval, F.lit(f" is greater than maximum {hi}"))))
        if "exclusiveMinimum" in node:
            lo = node["exclusiveMinimum"]
            parts.append(Compiled.simple(
                gate & ~inst.is_absent() & (num <= F.lit(self._bound_f(lo))),
                "exclusiveMinimum", f"{kw_loc}/exclusiveMinimum", inst.loc,
                dyn + "/exclusiveMinimum",
                F.concat(sval, F.lit(f" is lower than or equal to minimum {lo}"))))
        if "exclusiveMaximum" in node:
            hi = node["exclusiveMaximum"]
            parts.append(Compiled.simple(
                gate & ~inst.is_absent() & (num >= F.lit(self._bound_f(hi))),
                "exclusiveMaximum", f"{kw_loc}/exclusiveMaximum", inst.loc,
                dyn + "/exclusiveMaximum",
                F.concat(sval, F.lit(f" is greater than or equal to maximum {hi}"))))
        if "multipleOf" in node:
            d = node["multipleOf"]
            # exact remainder via DecimalType, not float (BigDecimal.remainder,
            # Validator.kt:680-686); exact_repr is the value's decimal string
            if not (_is_number(d) and d > 0):
                raise CompileError(
                    f"multipleOf must be a number > 0, got {d!r}",
                    location=f"{kw_loc}/multipleOf")
            if isinstance(inst.dtype, _INTEGERISH) and isinstance(d, int) \
                    and -2 ** 63 <= d < 2 ** 63:
                # (the long-range check keeps a huge-int divisor off
                # F.lit's JVM-long path — review r05c)
                fail = gate & ~inst.is_absent() & (F.pmod(inst.col, F.lit(d)) != 0)
            elif abs(self._bound_f(d)) >= 1e26 or self._bound_f(d) < 1e-30:
                # divisor beyond decimal(38,12)'s integral range — or BELOW
                # decimal scale 30 (the frac cap): a sub-1e-30 divisor
                # casts to decimal ZERO and pmod raises DIVIDE_BY_ZERO
                # under ANSI defaults (review r05c) — exact decimal
                # arithmetic impossible either way; double remainder
                df_ = self._bound_f(d)
                fail = gate & ~inst.is_absent() & (
                    # a +inf divisor (beyond-double integer): pmod(x, inf)
                    # = x, so only exact zero is a multiple — correct
                    F.pmod(num, F.lit(df_)) != 0)
            else:
                # scale sized so the DIVISOR survives its cast — a fixed
                # (38,12) turns multipleOf 1e-13 into decimal zero and
                # pmod raises DIVIDE_BY_ZERO under ANSI defaults
                frac = 12
                if 0 < abs(float(d)) < 1e-3:
                    frac = min(30, max(12, 9 - _math.floor(
                        _math.log10(abs(float(d))))))
                ddt = T.DecimalType(38, frac)
                dec = exact_repr.try_cast(ddt)
                exact_fail = F.pmod(dec, F.lit(d).cast(ddt)) \
                    != F.lit(0).cast(ddt)
                # value outside decimal(38,frac) (huge double): try_cast
                # yields null -> approximate double-remainder fallback
                # instead of an ANSI cast error or a silent pass
                fail = gate & ~inst.is_absent() & F.when(
                    dec.isNotNull(), exact_fail).otherwise(
                    F.pmod(num, F.lit(float(d))) != 0)
            parts.append(Compiled.simple(
                fail, "multipleOf", f"{kw_loc}/multipleOf", inst.loc,
                dyn + "/multipleOf",
                F.concat(sval, F.lit(f" is not a multiple of {d}"))))
        return conj(parts) if parts else None

    def _string_keywords(self, node: dict, inst: Inst, kw_loc: str,
                         dyn: str) -> Compiled | None:
        keys = ("minLength", "maxLength", "pattern")
        if inst.root or not any(k in node for k in keys):
            return None
        if _is_variant(inst.dtype):
            gate = F.coalesce(vt.is_string(inst.col), F.lit(False))
            col = F.when(gate, vt.as_string(inst.col))
        elif isinstance(inst.dtype, _TEMPORAL):
            # temporal columns ARE json strings (_json_type_of): evaluate
            # length/pattern over the canonical text instead of silently
            # skipping what `type: "string"` just accepted
            gate = F.lit(True)
            col = inst.col.cast("string")
        elif not isinstance(inst.dtype, (*_STRINGISH, T.BinaryType)):
            return None  # string keywords ignore non-string instances
        else:
            gate = F.lit(True)
            col = inst.col
        # F.length counts code points on strings — matches codePointCount
        # (Validator.kt:454,574); on binary it counts bytes. Counting walks
        # every byte, so the O(1) byte length ob decides wherever it can:
        # Spark's count lies in [ceil(ob/4), ob] (a character is 1-4 bytes,
        # an invalid lead byte counts as one). length < n is certain for
        # ob < n and impossible for ob > 4n-4; length > n is certain for
        # ob > 4n and impossible for ob <= n. The node counts characters in
        # one column ``ln``, NULL outside the union of the keywords' bands
        # where ob cannot decide: common-subexpression elimination may
        # evaluate ``ln`` ahead of the OR that reads it, and it then still
        # counts only inside the band. A message counts the characters of
        # its failing rows only. Bounds are capped at 2^31 (past any
        # octet_length) so that a huge bound still fits a long literal.
        ob = F.octet_length(col)
        bands = {}   # keyword -> (lo, hi): ob cannot decide for lo <= ob <= hi
        if "minLength" in node:
            n = node["minLength"]
            bands["minLength"] = (n, min(4 * n - 4, 2 ** 31))
        if "maxLength" in node:
            n = node["maxLength"]
            bands["maxLength"] = (n + 1, min(4 * n, 2 ** 31))
        bands = {k: b for k, b in bands.items() if b[0] <= b[1]}
        band = F.lit(False)
        for lo, hi in bands.values():
            band = band | ((ob >= lo) & (ob <= hi))
        ln = F.when(band, F.length(col))
        parts = []
        if "minLength" in node:
            n = node["minLength"]
            too_short = ob < n
            if "minLength" in bands:
                too_short = too_short | (ln < n)
            # a failing row has ob < n or ob in the band; for n <= 1 it is
            # empty, and ob is its character count
            chars = ob if n <= 1 else F.when(
                ob <= max(n, min(4 * n - 4, 2 ** 31)), F.length(col))
            parts.append(Compiled.simple(
                ~inst.is_absent() & too_short, "minLength",
                f"{kw_loc}/minLength", inst.loc, dyn + "/minLength",
                _text("actual string length ", chars,
                      f" is lower than minLength {n}")))
        if "maxLength" in node:
            n = node["maxLength"]
            too_long = ob > min(4 * n, 2 ** 31)
            if "maxLength" in bands:
                too_long = too_long | (ln > n)
            parts.append(Compiled.simple(
                ~inst.is_absent() & too_long, "maxLength",
                f"{kw_loc}/maxLength", inst.loc, dyn + "/maxLength",
                _text("actual string length ", F.when(ob > n, F.length(col)),
                      f" exceeds maxLength {n}")))
        if "pattern" in node:
            p = node["pattern"]
            # rlike = Java regex unanchored find(), same engine + semantics as
            # the reference (Regexp.kt:29-49); validated against the Java
            # engine at compile time (review r05c)
            _check_java_pattern(p, f"{kw_loc}/pattern")
            parts.append(Compiled.simple(
                ~inst.is_absent() & ~col.cast("string").rlike(p), "pattern",
                f"{kw_loc}/pattern", inst.loc, dyn + "/pattern",
                F.lit(f"instance value did not match pattern {p}")))
        return conj(parts) if parts else None

    def _kw_format(self, fmt: str, inst: Inst, kw_loc: str, dyn: str) -> Compiled | None:
        if inst.root:
            return None  # format applies to strings only (Format.kt:23-160)
        if _is_variant(inst.dtype):
            scol = F.when(vt.is_string(inst.col), vt.as_string(inst.col))
        elif isinstance(inst.dtype, _TEMPORAL):
            # temporal columns ARE json strings (_json_type_of): assert
            # the format over the canonical text like _string_keywords
            # does, instead of silently passing what `type: "string"`
            # just accepted (review r05c)
            scol = inst.col.cast("string")
        elif isinstance(inst.dtype, _STRINGISH):
            scol = inst.col
        else:
            return None
        if fmt not in _FORMAT_BUILDERS:
            return None  # unknown formats are annotations
        ok = _FORMAT_BUILDERS[fmt](scol)
        if _is_variant(inst.dtype):
            ok = ok | ~F.coalesce(vt.is_string(inst.col), F.lit(False))
        return Compiled.simple(
            ~inst.is_absent() & ~F.coalesce(ok, F.lit(False)), "format",
            f"{kw_loc}/format", inst.loc, dyn + "/format",
            F.lit(f"instance does not match format '{fmt}'"))

    # -- object keywords ---------------------------------------------------
    def _object_keywords(self, node: dict, inst: Inst, kw_loc: str, dyn: str,
                         scope: tuple, depth: int, res: NodeResult, add) -> None:
        is_struct = isinstance(inst.dtype, T.StructType)
        names = inst.field_names() if is_struct else None

        prop_schemas: dict[str, Any] = node.get("properties", {}) or {}
        pattern_props: dict[str, Any] = node.get("patternProperties", {}) or {}

        # properties (Validator.kt:463-490) — absent property passes (:468-470)
        for pname, pschema in prop_schemas.items():
            ploc = f"{kw_loc}/properties/{pointer_escape(pname)}"
            pdyn = dyn + "/properties/" + pname
            if is_struct and pname not in names:
                continue  # property can never be present -> passes
            child_inst = inst.child(pname)
            child = self._compile(pschema, child_inst, ploc, pdyn, scope, depth + 1)
            add(child.compiled)
            res.prop_cov.setdefault(pname, []).append(F.lit(True))

        # patternProperties (Validator.kt:492-505) — compile-time name match
        # on fixed structs (Java and Python regex agree on these name patterns)
        if pattern_props:
            if is_struct:
                for pat, pschema in pattern_props.items():
                    ploc = f"{kw_loc}/patternProperties/{pointer_escape(pat)}"
                    rx = _name_pattern(pat, ploc)
                    for pname in names:
                        if rx.search(pname):
                            child = self._compile(
                                pschema, inst.child(pname), ploc,
                                dyn + "/patternProperties/" + pname, scope, depth + 1)
                            add(child.compiled)
                            res.prop_cov.setdefault(pname, []).append(F.lit(True))
            else:
                # MapType: dynamic key match — subschema applied to every
                # value whose key matches, via map higher-order functions
                val_t = inst.dtype.valueType
                for pat, pschema in pattern_props.items():
                    ploc = f"{kw_loc}/patternProperties/{pointer_escape(pat)}"
                    pdyn = dyn + "/patternProperties"
                    # runtime rlike: validate against the JAVA engine now,
                    # not PatternSyntaxException on an executor later
                    _check_java_pattern(pat, ploc)
                    elem_fn = self._element_fn(pschema, val_t, inst.loc, ploc,
                                               pdyn, scope, depth, strict=inst.strict)
                    matched = F.map_filter(inst.col, lambda k, v: k.rlike(pat))
                    ok = F.forall(F.map_values(matched),
                                  lambda v: elem_fn(v, F.lit(0)).passed)
                    add(Compiled.simple(
                        ~inst.is_absent() & ~F.coalesce(ok, F.lit(True)),
                        "patternProperties", ploc, inst.loc, pdyn,
                        F.lit(f"object properties matching {pat} failed to "
                              "validate against the subschema")))
                    res.key_pattern_cov.append((pat, F.lit(True)))

        # required (Validator.kt:632-641)
        if "required" in node:
            req = node["required"]
            # verdict and message without higher-order functions: a
            # filter(array(...), lambda) is a CodegenFallback expression
            # (interpreted, one array allocation per row) and would drop
            # the whole violations() Project out of whole-stage codegen.
            # missing() is never-null on every instance kind, so the OR
            # chain is exactly "some name is missing"; concat_ws skips the
            # NULLs that stand for present names.
            add(Compiled.simple(
                ~inst.is_absent() & _any_missing(inst, req), "required",
                f"{kw_loc}/required", inst.loc, dyn + "/required",
                F.concat(F.lit("required properties are missing: "),
                         _missing_names(inst, req))))

        # additionalProperties (Validator.kt:539-570): properties not named in
        # `properties` nor matching any patternProperties
        if "additionalProperties" in node and is_struct:
            ap = node["additionalProperties"]
            covered = set(prop_schemas)
            for pat in pattern_props:
                rx = _name_pattern(pat, f"{kw_loc}/patternProperties")
                covered |= {n for n in names if rx.search(n)}
            residual = [n for n in names if n not in covered]
            aloc = f"{kw_loc}/additionalProperties"
            for pname in residual:
                child = self._compile(ap, inst.child(pname), aloc,
                                      dyn + "/additionalProperties", scope, depth + 1)
                add(child.compiled)
                res.prop_cov.setdefault(pname, []).append(F.lit(True))
            res.all_props_cov.append(F.lit(True))
        elif "additionalProperties" in node and isinstance(inst.dtype, T.MapType):
            ap = node["additionalProperties"]
            aloc = f"{kw_loc}/additionalProperties"
            adyn = dyn + "/additionalProperties"
            allowed = list(prop_schemas)
            patterns = list(pattern_props)

            def unnamed(k: Column) -> Column:
                cond = ~k.isin(*allowed) if allowed else F.lit(True)
                for pat in patterns:
                    cond = cond & ~k.rlike(pat)
                return cond

            if ap is False:
                add(Compiled.simple(
                    ~inst.is_absent() & (F.size(inst.members(unnamed)) > 0),
                    "additionalProperties", aloc, inst.loc, adyn,
                    F.lit("additional properties do not match subschema")))
            elif ap is not True:
                val_t = inst.dtype.valueType
                elem_fn = self._element_fn(ap, val_t, inst.loc, aloc, adyn, scope, depth, strict=inst.strict)
                ok = F.forall(F.map_values(inst.members(unnamed)),
                              lambda v: elem_fn(v, F.lit(0)).passed)
                add(Compiled.simple(
                    ~inst.is_absent() & ~F.coalesce(ok, F.lit(True)),
                    "additionalProperties", aloc, inst.loc, adyn,
                    F.lit("additional properties do not match subschema")))
            res.all_props_cov.append(F.lit(True))

        # propertyNames (Validator.kt:513-529): each *present* key validated as
        # a string instance. Static names -> constant-folded subschema on a lit.
        if "propertyNames" in node:
            pn = node["propertyNames"]
            ploc = f"{kw_loc}/propertyNames"
            if is_struct:
                for pname in names:
                    c = self._compile(
                        pn, Inst(F.lit(pname), T.StringType(), inst.loc),
                        ploc, dyn + "/propertyNames", scope, depth + 1).compiled
                    add(Compiled.simple(
                        ~inst.missing(pname) & ~c.passed, "propertyNames", ploc,
                        inst.loc, dyn + "/propertyNames",
                        F.lit(f'property name "{pname}" failed to validate')))
            else:
                elem_fn = self._element_fn(pn, T.StringType(), inst.loc, ploc,
                                           dyn + "/propertyNames", scope, depth, strict=inst.strict)
                ok = F.forall(F.map_keys(inst.members()),
                              lambda k: elem_fn(k, F.lit(0)).passed)
                add(Compiled.simple(
                    ~inst.is_absent() & ~F.coalesce(ok, F.lit(True)), "propertyNames",
                    ploc, inst.loc, dyn + "/propertyNames",
                    F.lit("some property names failed to validate")))

        # minProperties / maxProperties (Validator.kt:603-617)
        if "minProperties" in node or "maxProperties" in node:
            if is_struct:
                cnt = None
                for n in names:
                    p = (~inst.missing(n)).cast("int")
                    cnt = p if cnt is None else cnt + p
                cnt = cnt if cnt is not None else F.lit(0)
            else:
                cnt = F.size(inst.members())
            if "minProperties" in node:
                n = node["minProperties"]
                add(Compiled.simple(
                    ~inst.is_absent() & (cnt < n), "minProperties",
                    f"{kw_loc}/minProperties", inst.loc, dyn + "/minProperties",
                    _text(f"expected minimum properties: {n}, found only ", cnt)))
            if "maxProperties" in node:
                n = node["maxProperties"]
                add(Compiled.simple(
                    ~inst.is_absent() & (cnt > n), "maxProperties",
                    f"{kw_loc}/maxProperties", inst.loc, dyn + "/maxProperties",
                    _text(f"expected maximum properties: {n}, found ", cnt)))

        # dependentRequired (Validator.kt:842-855)
        if "dependentRequired" in node:
            for key, deps in node["dependentRequired"].items():
                add(Compiled.simple(
                    ~inst.missing(key) & _any_missing(inst, deps),
                    "dependentRequired",
                    f"{kw_loc}/dependentRequired/{pointer_escape(key)}", inst.loc,
                    dyn + "/dependentRequired",
                    F.concat(F.lit(f"property {key} is present in the object but "
                                   "the following properties are missing: "),
                             _missing_names(inst, deps))))

        # dependentSchemas (Validator.kt:828-840)
        if "dependentSchemas" in node:
            for key, sub in node["dependentSchemas"].items():
                sloc = f"{kw_loc}/dependentSchemas/{pointer_escape(key)}"
                child = self._compile(sub, inst, sloc,
                                      dyn + "/dependentSchemas/" + key, scope, depth + 1)
                present = ~inst.missing(key)
                add(child.compiled.gated(present))
                res.merge_child(child, present & child.compiled.passed)

    # -- array keywords ----------------------------------------------------
    def _element_fn(self, schema: Any, elem_type: T.DataType, parent_loc: Column,
                    kw_loc: str, dyn: str, scope: tuple, depth: int,
                    strict: bool = False):
        """Compile ``schema`` into fn(elem_col, idx_col) -> Compiled, with the
        element's instance pointer derived from the parent's + index."""
        def fn(x: Column, i: Column) -> Compiled:
            loc = F.concat(parent_loc, F.lit("/"), i.cast("string"))
            inst = Inst(x, elem_type, loc, strict=strict)
            return self._compile(schema, inst, kw_loc, dyn, scope, depth + 1).compiled
        return fn

    def _array_keywords(self, node: dict, inst: Inst, kw_loc: str, dyn: str,
                        scope: tuple, depth: int, res: NodeResult, add) -> None:
        arr = inst.col
        elem_t = inst.dtype.elementType
        size = F.size(arr)
        prefix_n = len(node.get("prefixItems", []) or [])

        # minItems / maxItems (Validator.kt:583-601)
        if "minItems" in node:
            n = node["minItems"]
            add(Compiled.simple(
                ~inst.is_absent() & (size < n), "minItems", f"{kw_loc}/minItems",
                inst.loc, dyn + "/minItems",
                _text(f"expected minimum items: {n}, found only ", size)))
        if "maxItems" in node:
            n = node["maxItems"]
            add(Compiled.simple(
                ~inst.is_absent() & (size > n), "maxItems", f"{kw_loc}/maxItems",
                inst.loc, dyn + "/maxItems",
                _text(f"expected maximum items: {n}, found ", size)))

        # uniqueItems (Validator.kt:692-708): report first duplicate pair
        if node.get("uniqueItems") is True:
            if not _is_variant(elem_t) and _contains_map_type(elem_t):
                # array_distinct/array_position cannot ORDER MapType: the
                # plan would pass compile and then fail ANALYSIS at first
                # use — an uncaught non-CompileError escaping the error-
                # collection contract (review r05c). Honest refusal with a
                # pointer; the VariantType path supports object elements.
                raise CompileError(
                    "uniqueItems over elements containing a MAP type is "
                    f"not supported ({elem_t.simpleString()}: Spark cannot "
                    "order maps) — use a struct element type, or parse the "
                    "column as VariantType (canonical equality keys)",
                    location=f"{kw_loc}/uniqueItems")
            # variant elements have no ordering; compare canonical equality
            # keys (JSON value-equality classes) instead of raw values
            cmp_arr = (F.transform(arr, lambda x: vt.equality_key(x))
                       if _is_variant(elem_t) else arr)
            dup = size != F.size(F.array_distinct(cmp_arr))
            pairs = F.filter(
                F.transform(cmp_arr, lambda x, i: F.struct(
                    (F.array_position(cmp_arr, x) - 1).alias("first"),
                    i.cast("long").alias("second"))),
                lambda s: s.getField("first") < s.getField("second"))
            # F.get (not element_at): when the only duplicates are SQL NULL
            # elements, array_position yields NULL pairs that the filter
            # drops — element_at([], 1) would throw under ANSI mode
            first_pair = F.get(pairs, 0)
            add(Compiled.simple(
                ~inst.is_absent() & dup, "uniqueItems", f"{kw_loc}/uniqueItems",
                inst.loc, dyn + "/uniqueItems",
                F.when(first_pair.isNotNull(), _text(
                    "the same array element occurs at positions ",
                    first_pair.getField("first"), ", ",
                    first_pair.getField("second")))
                .otherwise(F.lit(
                    "the same array element occurs multiple times "
                    "(null elements)"))))

        # prefixItems (Validator.kt:730-749): i-th subschema on i-th element
        if prefix_n:
            for i, sub in enumerate(node["prefixItems"]):
                ploc = f"{kw_loc}/prefixItems/{i}"
                el = Inst(F.element_at(arr, i + 1), elem_t,
                          F.concat(inst.loc, F.lit(f"/{i}")), strict=inst.strict)
                child = self._compile(sub, el, ploc, dyn + f"/prefixItems/{i}",
                                      scope, depth + 1).compiled
                add(child.gated(~inst.is_absent() & (size > i)))
            res.prefix_cov = max(res.prefix_cov, prefix_n)

        # items (Validator.kt:711-728): every element from prefix_n on
        if "items" in node:
            iloc = f"{kw_loc}/items"
            elem_fn = self._element_fn(node["items"], elem_t, inst.loc, iloc,
                                       dyn + "/items", scope, depth, strict=inst.strict)

            # passed: all post-prefix elements pass
            ok = F.forall(
                F.transform(arr, lambda x, i: F.when(i < prefix_n, F.lit(True))
                            .otherwise(elem_fn(x, i).passed)),
                lambda b: b)
            passed = F.when(inst.is_absent(), F.lit(True)) \
                .otherwise(F.coalesce(ok, F.lit(True)))

            def items_failures(elem_fn=elem_fn) -> Column:
                # elem_fn bound at definition: the contains block rebinds
                # it. Only a failing array builds its element failures.
                per_elem = F.transform(
                    arr, lambda x, i: F.when(i >= prefix_n,
                                             elem_fn(x, i).failures)
                    .otherwise(empty_failures()))
                return F.when(passed, empty_failures()) \
                    .otherwise(F.coalesce(F.flatten(per_elem), empty_failures()))

            def items_legs(elem_fn=elem_fn) -> tuple:
                # one element compile serves every leg: per element, a
                # struct of its legs' counts, summed over the elements
                # into one struct. Each leg reads its field of that one
                # sum in an always-evaluated position, so common-
                # subexpression elimination computes the sum once per row.
                # An absent (NULL) array sums to NULL, read as 0: a CASE
                # on absence would take the field read into its branch,
                # one sum per leg again.
                legs: list = []

                def per_elem(x: Column, i: Column) -> Column:
                    legs.extend(elem_fn(x, i).legs)
                    return F.struct(*[
                        F.when(i >= prefix_n, c).otherwise(F.lit(0))
                        .alias(f"_{j}") for j, (c, _, _) in enumerate(legs)])
                counts = F.transform(arr, per_elem)
                names = [f"_{j}" for j in range(len(legs))]
                if not names:
                    return ()
                total = F.aggregate(
                    counts, F.struct(*[F.lit(0).alias(f) for f in names]),
                    lambda acc, c: F.struct(*[(acc[f] + c[f]).alias(f)
                                              for f in names]))
                return tuple((F.coalesce(total[f], F.lit(0)), k, kl)
                             for f, (_, k, kl) in zip(names, legs))
            add(Compiled(passed=passed, build_failures=items_failures,
                         build_legs=items_legs))
            res.rest_cov.append(F.lit(True))

        # contains + minContains/maxContains (Validator.kt:751-781)
        if "contains" in node:
            closed = f"{kw_loc}/contains"
            min_c = node.get("minContains", 1)
            max_c = node.get("maxContains")
            elem_fn = self._element_fn(node["contains"], elem_t, inst.loc,
                                       closed, dyn + "/contains", scope,
                                       depth, strict=inst.strict)
            if max_c is not None:
                # maxContains is a NON-MONOTONE consumer of the element
                # verdict: a conservative fail_row depth-cutoff failure
                # UNDERCOUNTS match_cnt, so a too-deep instance would
                # wrongly PASS maxContains — the same inversion class the
                # not/oneOf/if scopes refuse (ADVICE r05). The subschema
                # compiles lazily inside the F.filter lambda, so the
                # negation scope must wrap the match_cnt CONSTRUCTION.
                with self._negation_scope():
                    match_cnt = F.size(
                        F.filter(arr, lambda x: elem_fn(x, F.lit(0)).passed))
            else:
                match_cnt = F.size(
                    F.filter(arr, lambda x: elem_fn(x, F.lit(0)).passed))
            parts = []
            if min_c > 0:
                low_msg = F.when(
                    match_cnt == 0,
                    F.lit('no array items are valid against "contains" subschema,'
                          f" expected minimum is {min_c}")
                ).otherwise(_text(
                    "only ", match_cnt, ' array items are valid against'
                    f' "contains" subschema, expected minimum is {min_c}'))
                if min_c == 1 and "minContains" not in node:
                    low_msg = F.when(
                        match_cnt == 0,
                        F.lit('expected at least 1 array item to be valid against'
                              ' "contains" subschema, found 0')).otherwise(low_msg)
                parts.append(Compiled.simple(
                    ~inst.is_absent() & (match_cnt < min_c), "contains", closed,
                    inst.loc, dyn + "/contains", low_msg))
            if max_c is not None:
                parts.append(Compiled.simple(
                    ~inst.is_absent() & (match_cnt > max_c), "maxContains", closed,
                    inst.loc, dyn + "/contains",
                    _text(match_cnt, ' array items are valid against "contains"'
                          f" subschema, expected maximum is {max_c}")))
            if parts:
                add(conj(parts))
            res.elem_cov.append((lambda x: elem_fn(x, F.lit(0)).passed, F.lit(True)))

    # -- combinators (§2.e) ------------------------------------------------
    def _combinators(self, node: dict, inst: Inst, kw_loc: str, dyn: str,
                     scope: tuple, depth: int, res: NodeResult, add) -> None:
        for comb in ("allOf", "anyOf", "oneOf"):
            if comb in node and (not isinstance(node[comb], list)
                                 or not node[comb]):
                # 2020-12 core: these MUST be non-empty arrays. An empty
                # anyOf previously raised a raw IndexError that escaped
                # the CompileError contract — bypassing the aggregate
                # collector and aborting whole suite files instead of
                # recording one per-group compile failure (review r05c)
                raise CompileError(
                    f"{comb} must be a non-empty array of schemas, got "
                    f"{node[comb]!r}", location=f"{kw_loc}/{comb}")
        if "allOf" in node:
            # all subschemas pass; all failures collected (Validator.kt:783-795)
            for i, sub in enumerate(node["allOf"]):
                child = self._compile(sub, inst, f"{kw_loc}/allOf/{i}",
                                      dyn + f"/allOf/{i}", scope, depth + 1)
                add(child.compiled)
                res.merge_child(child, child.compiled.passed)

        if "anyOf" in node:
            subs = [self._compile(sub, inst, f"{kw_loc}/anyOf/{i}",
                                  dyn + f"/anyOf/{i}", scope, depth + 1)
                    for i, sub in enumerate(node["anyOf"])]
            any_ok = F.lit(False)
            for s in subs:
                any_ok = any_ok | s.compiled.passed
            # on failure, flatten() yields the branch leaf failures
            # (AnyOf.kt message + ValidationFailure.flatten, :56-59)
            add(replace(conj([s.compiled for s in subs]).gated(~any_ok),
                        passed=any_ok))
            for s in subs:
                res.merge_child(s, s.compiled.passed)

        if "oneOf" in node:
            with self._negation_scope():  # exact-count context (review r05c)
                subs = [self._compile(sub, inst, f"{kw_loc}/oneOf/{i}",
                                      dyn + f"/oneOf/{i}", scope, depth + 1)
                        for i, sub in enumerate(node["oneOf"])]
            n = len(subs)
            matched = None
            for s in subs:
                c = s.compiled.passed.cast("int")
                matched = c if matched is None else matched + c
            one_msg = _text(f"expected 1 subschema to match out of {n}, ", matched,
                            " matched")
            # absent value: oneOf never applies (all branches vacuously
            # pass, which would read as "N matched" without this guard)
            present = ~inst.is_absent()
            add(replace(conj([
                conj([s.compiled for s in subs])
                .gated(present & (matched == 0)),
                Compiled.simple(present & (matched > 1), "oneOf",
                                f"{kw_loc}/oneOf", inst.loc, dyn + "/oneOf",
                                one_msg)]),
                passed=inst.is_absent() | (matched == 1)))
            for s in subs:
                res.merge_child(s, s.compiled.passed & (matched == 1))

        if "not" in node:
            with self._negation_scope():  # inverted verdict (review r05c)
                child = self._compile(node["not"], inst, f"{kw_loc}/not",
                                      dyn + "/not", scope, depth + 1).compiled
            add(Compiled.simple(
                ~inst.is_absent() & child.passed, "not", f"{kw_loc}/not",
                inst.loc, dyn + "/not", F.lit("negated subschema did not fail")))

        if "if" in node:
            with self._negation_scope():  # branch selector (review r05c)
                if_res = self._compile(node["if"], inst, f"{kw_loc}/if",
                                       dyn + "/if", scope, depth + 1)
            ip = if_res.compiled.passed
            then_res = else_res = None
            if "then" in node:
                then_res = self._compile(node["then"], inst, f"{kw_loc}/then",
                                         dyn + "/then", scope, depth + 1)
            if "else" in node:
                else_res = self._compile(node["else"], inst, f"{kw_loc}/else",
                                         dyn + "/else", scope, depth + 1)
            t = then_res.compiled if then_res else Compiled.ok()
            e = else_res.compiled if else_res else Compiled.ok()
            add(replace(conj([t.gated(ip), e.gated(~ip)]),
                        passed=F.when(ip, t.passed).otherwise(e.passed)))
            res.merge_child(if_res, ip)
            if then_res:
                res.merge_child(then_res, ip & t.passed)
            if else_res:
                res.merge_child(else_res, ~ip & e.passed)

    # -- unevaluated* ------------------------------------------------------
    def _kw_unevaluated_properties(self, sub: Any, inst: Inst, kw_loc: str,
                                   dyn: str, scope: tuple, depth: int,
                                   res: NodeResult) -> Compiled:
        """Compile-time set algebra over the coverage map (SURVEY.md §7;
        reference mark-tracking Validator.kt:222-243,896-910)."""
        uloc = f"{kw_loc}/unevaluatedProperties"
        udyn = dyn + "/unevaluatedProperties"
        all_cov = res.all_props_cov
        parts = []
        for name in inst.field_names():
            covs = list(res.prop_cov.get(name, [])) + list(all_cov)
            covered = F.lit(False)
            for c in covs:
                covered = covered | F.coalesce(c, F.lit(False))
            residual = ~inst.missing(name) & ~covered
            child = self._compile(sub, inst.child(name), uloc,
                                  udyn, scope, depth + 1).compiled
            parts.append(Compiled.simple(
                residual & ~child.passed, "unevaluatedProperties", uloc,
                inst.loc, udyn,
                F.lit(f'object properties {name} failed to validate against '
                      '"unevaluatedProperties" subschema')))
        return conj(parts) if parts else Compiled.ok()

    def _kw_unevaluated_properties_dynamic(self, sub: Any, inst: Inst,
                                           kw_loc: str, dyn: str, scope: tuple,
                                           depth: int,
                                           res: NodeResult) -> Compiled:
        """unevaluatedProperties over a map/variant-object instance: the
        evaluated-key predicate is built at runtime from the same coverage
        the struct path folds statically — schema-named properties (static
        names, dynamic presence), patternProperties regexes, and the
        everything-evaluated conditions contributed by applicators."""
        uloc = f"{kw_loc}/unevaluatedProperties"
        udyn = dyn + "/unevaluatedProperties"
        val_t = inst.dtype.valueType

        name_cov: dict[str, Column] = {}
        for name, conds in res.prop_cov.items():
            c = F.lit(False)
            for cond in conds:
                c = c | F.coalesce(cond, F.lit(False))
            name_cov[name] = c
        all_cov = F.lit(False)
        for cond in res.all_props_cov:
            all_cov = all_cov | F.coalesce(cond, F.lit(False))

        def evaluated(k: Column) -> Column:
            cond = all_cov
            for name, c in name_cov.items():
                cond = cond | ((k == F.lit(name)) & c)
            for pat, gate in res.key_pattern_cov:
                cond = cond | (k.rlike(pat) & F.coalesce(gate, F.lit(False)))
            return cond

        residual = inst.members(lambda k: ~F.coalesce(evaluated(k),
                                                      F.lit(False)))
        if sub is False:
            cond = ~inst.is_absent() & (F.size(residual) > 0)
        else:
            elem_fn = self._element_fn(sub, val_t, inst.loc, uloc, udyn,
                                       scope, depth, strict=inst.strict)
            ok = F.forall(F.map_values(residual),
                          lambda v: elem_fn(v, F.lit(0)).passed)
            cond = ~inst.is_absent() & ~F.coalesce(ok, F.lit(True))
        return Compiled.simple(
            cond, "unevaluatedProperties", uloc, inst.loc, udyn,
            F.lit('object properties failed to validate against '
                  '"unevaluatedProperties" subschema'))

    def _kw_unevaluated_items(self, sub: Any, inst: Inst, kw_loc: str,
                              dyn: str, scope: tuple, depth: int,
                              res: NodeResult) -> Compiled:
        uloc = f"{kw_loc}/unevaluatedItems"
        udyn = dyn + "/unevaluatedItems"
        arr = inst.col
        elem_t = inst.dtype.elementType
        rest_cov = F.lit(False)
        for c in res.rest_cov:
            rest_cov = rest_cov | F.coalesce(c, F.lit(False))
        elem_fn = self._element_fn(sub, elem_t, inst.loc, uloc, udyn, scope, depth, strict=inst.strict)

        def elem_uneval_fail(x: Column, i: Column) -> Column:
            covered = (i < res.prefix_cov) | rest_cov
            for n_cov, gate in res.prefix_cov_gated:
                covered = covered | ((i < n_cov) & F.coalesce(gate, F.lit(False)))
            for fn, gate in res.elem_cov:
                covered = covered | (F.coalesce(gate, F.lit(False))
                                     & F.coalesce(fn(x), F.lit(False)))
            return ~covered & ~elem_fn(x, i).passed

        bad = F.filter(
            F.transform(arr, lambda x, i: F.when(elem_uneval_fail(x, i), i)),
            lambda v: v.isNotNull())
        cond = ~inst.is_absent() & (F.size(bad) > 0)
        return Compiled.simple(
            cond, "unevaluatedItems", uloc, inst.loc, udyn,
            F.concat(F.lit("array items "), F.array_join(bad, ", "),
                     F.lit(' failed to validate against "unevaluatedItems" subschema')))


def compile_schema(schema_doc: Any, struct_type: T.StructType, **kwargs):
    """Compile ``schema_doc`` against a table schema; returns a ValidationPlan.

    Runs the plan's one ``compile_root`` now, so schema mistakes raise
    HERE — before callers (runner.validate_table) create manifests or
    output dirs (review r05c)."""
    from json_skema_spark.plans.verdict import ValidationPlan

    plan = ValidationPlan(Compiler(schema_doc, **kwargs), struct_type)
    plan._compiled  # noqa: B018 — force compile errors to surface now
    return plan
