"""Hypothesis property tests — the shrinking, boundary-hunting complement
to the seeded-numpy differential sweeps (test_differential.py,
test_compat.py).

Three properties, all pure-Python (no Spark jobs — thousands of examples
stay cheap):

1. ``validate_strict`` (the official-semantics interpreter that anchors
   the strict-null differential and the suite expectations) agrees with
   python-jsonschema, an independent outside implementation, over
   recursively generated draft 2020-12 schemas and JSON instances.
2. The compat module's two production claims hold with python-jsonschema
   as the judge: a certified widening never turns a v1-valid instance
   invalid under v2 (this is what licenses skipping re-validation at
   10^12 rows), and the delta contract — on v1-valid instances,
   ``valid(v2) <=> valid(delta_schema(v1, v2))``.
3. ``snr_db_periodic`` (the tile-free chunk-wise SNR in the audio hot
   path, VERDICT r04 #2) equals the naive full-tile ``snr_db`` to last-ulp
   rounding, including the ±inf verdict classes.

``derandomize=True`` pins the example stream so CI is deterministic; the
generators deliberately avoid the two PINNED python-jsonschema divergences
(float-modulo multipleOf → only binary-exact divisors; $vocabulary → never
emitted; format checkers → never emitted), documented in
tests/test_jsonschema_crosscheck.py.
"""

import math

import numpy as np
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

import jsonschema

from json_skema_spark.functions.audio import snr_db, snr_db_periodic
from json_skema_spark.plans.compat import delta_schema, is_backward_compatible
from tests.reference_interp import validate_strict

SETTINGS = dict(
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.filter_too_much],
)

# --------------------------------------------------------------- strategies

KEYS = ["a", "b", "c", "d"]
_key = st.sampled_from(KEYS)

# scalar JSON values; floats limited to binary-exact literals so numeric
# equality (const/enum/uniqueItems) is representation-independent
_atoms = (st.none() | st.booleans() | st.integers(-6, 6)
          | st.sampled_from([-2.5, -1.0, -0.5, 0.0, 0.5, 1.0, 2.0, 3.0])
          | st.text(alphabet="ab07 xZ", max_size=5))

json_values = st.recursive(
    _atoms,
    lambda c: st.lists(c, max_size=4) | st.dictionaries(_key, c, max_size=4),
    max_leaves=10)

_TYPE_NAMES = ["null", "boolean", "integer", "number", "string", "array",
               "object"]

_NUM_KW = {
    "type": st.sampled_from(["integer", "number"]),
    "minimum": st.integers(-3, 5),
    "maximum": st.integers(-3, 8),
    "exclusiveMinimum": st.integers(-3, 5),
    "exclusiveMaximum": st.integers(-3, 8),
    # binary-exact divisors only (pinned jsonschema float-modulo divergence)
    "multipleOf": st.sampled_from([1, 2, 3, 0.5]),
}
_STR_KW = {
    "type": st.just("string"),
    "minLength": st.integers(0, 4),
    "maxLength": st.integers(0, 5),
    "pattern": st.sampled_from(["^a", "b$", "[0-9]", "a.b", "^$", "^[ab]+$"]),
}
_MISC_KW = {
    "type": (st.sampled_from(_TYPE_NAMES)
             | st.lists(st.sampled_from(_TYPE_NAMES), min_size=1, max_size=3,
                        unique=True)),
    "const": _atoms,
    "enum": st.lists(_atoms, min_size=1, max_size=4),
}

_leaf = (st.fixed_dictionaries({}, optional=_NUM_KW)
         | st.fixed_dictionaries({}, optional=_STR_KW)
         | st.fixed_dictionaries({}, optional=_MISC_KW))


def _applicators(sub):
    return st.fixed_dictionaries({}, optional={
        "allOf": st.lists(sub, min_size=1, max_size=3),
        "anyOf": st.lists(sub, min_size=1, max_size=3),
        "oneOf": st.lists(sub, min_size=1, max_size=3),
        "not": sub,
        "if": sub, "then": sub, "else": sub,
        "properties": st.dictionaries(_key, sub, max_size=3),
        "required": st.lists(_key, max_size=3, unique=True),
        "additionalProperties": sub,
        "patternProperties": st.dictionaries(
            st.sampled_from(["^a", "[0-9]"]), sub, max_size=2),
        "propertyNames": st.fixed_dictionaries({}, optional=_STR_KW),
        "dependentRequired": st.dictionaries(
            _key, st.lists(_key, max_size=2, unique=True), max_size=2),
        "dependentSchemas": st.dictionaries(_key, sub, max_size=2),
        "minProperties": st.integers(0, 3),
        "maxProperties": st.integers(0, 4),
        "items": sub,
        "prefixItems": st.lists(sub, min_size=1, max_size=3),
        "contains": sub,
        "minContains": st.integers(0, 3),
        "maxContains": st.integers(0, 4),
        "minItems": st.integers(0, 3),
        "maxItems": st.integers(0, 4),
        "uniqueItems": st.booleans(),
        "unevaluatedItems": sub,
        "unevaluatedProperties": sub,
    })


# boolean schemas are legal in SUBSCHEMA positions; top-level documents
# stay dicts (compat's diff contract is over schema documents)
subschemas = st.recursive(_leaf | st.booleans(), _applicators, max_leaves=6)
schema_docs = st.recursive(_leaf, _applicators, max_leaves=6).filter(
    lambda s: isinstance(s, dict))


# ------------------------------------------- 1. interpreter vs jsonschema

@settings(max_examples=400, **SETTINGS)
@given(schema=schema_docs, inst=json_values)
def test_strict_interpreter_agrees_with_jsonschema(schema, inst):
    expected = jsonschema.Draft202012Validator(schema).is_valid(inst)
    assert validate_strict(inst, schema) == expected, (
        f"schema={schema} inst={inst!r}: "
        f"interp={validate_strict(inst, schema)} jsonschema={expected}")


# --------------------------------- 2. compat claims under an outside judge

def _check_compat_claims(v1, v2, insts):
    val1 = jsonschema.Draft202012Validator(v1)
    val2 = jsonschema.Draft202012Validator(v2)
    delta = delta_schema(v1, v2)
    vald = None if delta is None else jsonschema.Draft202012Validator(delta)
    certified = is_backward_compatible(v1, v2)
    for x in insts:
        if not val1.is_valid(x):
            continue
        under_v2 = val2.is_valid(x)
        under_delta = True if vald is None else vald.is_valid(x)
        assert under_v2 == under_delta, (
            f"delta contract: v1={v1} v2={v2} delta={delta} x={x!r} "
            f"v2={under_v2} delta={under_delta}")
        if certified:
            assert under_v2, (
                f"certified widening rejects a v1-valid instance: "
                f"v1={v1} v2={v2} x={x!r}")


@settings(max_examples=250, **SETTINGS)
@given(v1=schema_docs, v2=schema_docs,
       insts=st.lists(json_values, min_size=1, max_size=8))
def test_compat_claims_independent_docs(v1, v2, insts):
    """v1 and v2 drawn independently — maximally unrelated documents."""
    _check_compat_claims(v1, v2, insts)


@settings(max_examples=250, **SETTINGS)
@given(v1=schema_docs, override=schema_docs,
       dropped=st.lists(st.integers(0, 30), max_size=3),
       insts=st.lists(json_values, min_size=1, max_size=8))
def test_compat_claims_evolved_docs(v1, override, dropped, insts):
    """v2 = v1 with top-level keywords overridden/added then some dropped —
    the realistic evolution shape (shared structure, local edits)."""
    v2 = {**v1, **override}
    keys = sorted(v2)
    for i in dropped:
        if keys:
            v2.pop(keys[i % len(keys)], None)
    _check_compat_claims(v1, v2, insts)


# ------------------------------------------------- 3. chunk-wise SNR == tiled

_f32 = st.floats(min_value=-1000.0, max_value=1000.0, allow_nan=False,
                 width=32)


@settings(max_examples=300, **SETTINGS)
@given(one=st.lists(_f32, min_size=1, max_size=17),
       dec=st.lists(_f32, min_size=0, max_size=100))
def test_snr_periodic_matches_tiled(one, dec):
    one32 = np.asarray(one, dtype=np.float32)
    dec32 = np.asarray(dec, dtype=np.float32)
    reps = max(1, -(-len(dec32) // len(one32)))
    ref = np.tile(one32.astype(np.float64), reps)[:len(dec32)]
    got = snr_db_periodic(one32, dec32)
    want = snr_db(ref, dec32)
    if math.isinf(got) or math.isinf(want):
        # ±inf classes (zero noise / zero signal / empty) must agree exactly
        assert got == want, f"one={one} dec={dec}: {got} vs {want}"
    else:
        # same float64 noise values, different summation order: last-ulp
        assert abs(got - want) < 1e-9, f"one={one} dec={dec}: {got} vs {want}"


@settings(max_examples=300, **SETTINGS)
@given(one=st.lists(_f32, min_size=1, max_size=17),
       dec=st.lists(_f32, min_size=1, max_size=100),
       prefix_only=st.booleans())
def test_snr_exact_reconstruction_is_inf(one, dec, prefix_only):
    """decoded == its own periodic extension (or an exact prefix of it)
    must always classify as inf — the pass verdict can't be lost to
    chunk-boundary arithmetic."""
    one32 = np.asarray(one, dtype=np.float32)
    n = len(dec) if prefix_only else len(one32) * 3
    reps = max(1, -(-n // len(one32)))
    exact = np.tile(one32, reps)[:n].astype(np.float64)
    assert snr_db_periodic(one32, exact) == float("inf")
