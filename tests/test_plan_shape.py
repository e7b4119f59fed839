"""Plan-shape regressions for the clips schemas: the verdict chain and the
violations() failure Project stay in whole-stage codegen, no higher-order
function or translate() lowering appears in any plan, and every string
``length()`` runs only inside a band of ``octet_length`` values. A ``type``
the column's Spark type settles leaves no leg in any plan. Also: column
pruning reaches the parquet scan, and ``referential.orphans`` forces no
broadcast hint.
"""

from __future__ import annotations

import copy
import re

import pytest

from json_skema_spark import compile_schema
from json_skema_spark.operators import referential
from json_skema_spark.sources.clips import CLIPS_CONSTRAINT_SCHEMA, clips_df_fast


def _dense_schema() -> dict:
    """The "bad deploy" variant of the clips schema (tightened limits)."""
    doc = copy.deepcopy(CLIPS_CONSTRAINT_SCHEMA)
    props = doc["properties"]
    props["transcript"]["maxLength"] = 150
    props["dur_ms"]["maximum"] = 5000
    props["sr_hz"]["enum"] = [16000, 44100, 48000]
    return doc


SCHEMAS = {"constraint": CLIPS_CONSTRAINT_SCHEMA, "dense": _dense_schema()}
# CASE WHEN <band> THEN length(x) END, where Catalyst may have pushed the
# comparison with a bound or the message's cast into the branch:
# THEN (length(x) > n) END, THEN cast(length(x) as string) END
GUARDED = re.compile(r"CASE WHEN (?P<band>(?:(?!CASE WHEN| THEN ).)*) THEN "
                     r"(?:\(|cast\()?length\((?P<x>[^()]+)\)"
                     r"(?: [<>]=? \d+\)| as string\))? END")
BARE_LENGTH = re.compile(r"(?<!octet_)length\(")
# a literal empty array passed straight to concat(), as opposed to the
# ``ELSE []`` branch of a failure leaf
EMPTY_OPERAND = re.compile(r"(?:concat\(|, )\[\](?=[,)])")


@pytest.fixture(scope="module")
def clips(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("clips") / "t")
    clips_df_fast(spark, 2000).write.parquet(path)
    return spark.read.parquet(path)


def _plans(df) -> tuple[str, str]:
    qe = df._jdf.queryExecution()
    return qe.optimizedPlan().toString(), qe.executedPlan().toString()


@pytest.fixture(scope="module", params=sorted(SCHEMAS))
def plans(request, clips):
    plan = compile_schema(SCHEMAS[request.param], clips.schema)
    return {
        "verdict": _plans(plan.apply(clips, mode="verdict").select("passed")),
        "violations": _plans(plan.violations(clips, "clip_id")),
        "summary": _plans(plan.summary(clips)),
    }


def test_violations_projects_are_codegen(plans):
    _, physical = plans["violations"]
    assert "AdaptiveSparkPlan" not in physical  # shuffle-free
    projects = [ln for ln in physical.splitlines() if "Project [" in ln]
    assert projects
    outside = [ln for ln in projects
               if not re.match(r"^[\s:+\-]*\*\(\d+\) Project \[", ln)]
    assert not outside, outside


def test_no_lambda_or_translate(plans):
    for name, texts in plans.items():
        for text in texts:
            low = text.lower()
            assert "lambdafunction" not in low, name
            assert "translate(" not in low, name


def _band_guards(text: str) -> int:
    """The number of ``length(x)`` guarded by a band of byte lengths: a
    CASE with no ELSE whose condition compares only ``octet_length(x)``
    with integers."""
    n = 0
    for m in GUARDED.finditer(text):
        band = m["band"].replace(f"octet_length({m['x']})", "")
        assert "octet_length" in m["band"], m[0]
        assert re.fullmatch(r"[()\s<>=\d]+(?:(?:AND|OR)[()\s<>=\d]+)*",
                            band), m[0]
        n += 1
    return n


def test_every_length_is_byte_guarded(plans, request):
    """Every character count in the verdict, violations and summary plans
    runs only inside a band of byte lengths that cannot decide the
    keyword. The constraint schema's only length keyword is minLength 1,
    which the byte length always decides, so its plans count none."""
    texts = [t for name in ("verdict", "violations", "summary")
             for t in plans[name]]
    for text in texts:
        assert len(BARE_LENGTH.findall(text)) == _band_guards(text)
    if request.node.callspec.params["plans"] == "constraint":
        assert not any(BARE_LENGTH.search(t) for t in texts)
    else:
        assert any(BARE_LENGTH.search(t) for t in texts)


def test_settled_type_leaves_no_leg(plans):
    """``type: string`` on a string column and ``type: integer`` on an int
    column cannot fail, so they add no ``sum(0)`` to the summary and no
    literal ``[]`` operand to the violations' failure concat (its real
    ``ELSE []`` branches stay)."""
    summary, _ = plans["summary"]
    violations, _ = plans["violations"]
    assert "sum(0)" not in summary, summary
    assert "keyword, type," not in summary, summary
    assert not EMPTY_OPERAND.search(violations), violations


@pytest.mark.parametrize("schema", [*sorted(SCHEMAS), "array"])
def test_summary_has_no_generate_below_its_aggregate(spark, clips, schema):
    """summary() sums the compiled legs: its one Generate explodes the
    literal result rows above the aggregate, and no failure array is
    exploded below it (``array`` is the driver's array-keyword schema,
    whose ``items`` failures are per element)."""
    if schema == "array":
        import __spark_entry__ as entry
        df = entry.queries()["array_violation_summary"](
            spark, "/root/testdata/sf0.001")
    else:
        df = compile_schema(SCHEMAS[schema], clips.schema).summary(clips)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert "Aggregate" in opt
    assert "Generate" not in opt.split("Aggregate", 1)[1], opt


def test_verdict_plan_prunes_columns(spark):
    """Column pruning must reach the scan: a schema over 2 columns of a
    6-column parquet table reads exactly those 2 (SURVEY.md §4)."""
    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    plan = compile_schema(
        {"properties": {"o_orderstatus": {"enum": ["O", "F", "P"]},
                        "o_totalprice": {"minimum": 0}}}, orders.schema)
    phys = plan.apply(orders, mode="verdict").select("passed") \
        ._jdf.queryExecution().executedPlan().toString()
    assert "o_orderstatus" in phys
    assert "o_orderdate" not in phys  # unreferenced column not scanned
    assert "o_clerk" not in phys
    import re
    m = re.search(r"ReadSchema: struct<([^>]*)>", phys)
    assert m and set(f.split(":")[0] for f in m.group(1).split(",")) == \
        {"o_orderstatus", "o_totalprice"}


def test_orphans_no_hint_without_known_rows(spark):
    """Our code must NOT force a broadcast hint — no eager dim.count()
    scan; AQE/autoBroadcastJoinThreshold decide from runtime statistics
    (VERDICT r01)."""
    fact = spark.read.parquet("/root/testdata/sf0.001/orders.parquet") \
        .withColumnRenamed("o_custkey", "c_custkey")
    dim = spark.read.parquet("/root/testdata/sf0.001/customer.parquet") \
        .select("c_custkey")
    no_hint = referential.orphans(fact, dim, "c_custkey") \
        ._jdf.queryExecution().analyzed().toString()
    assert "broadcast" not in no_hint.lower()


def test_formats_query_prunes_scan(spark):
    """The 9-format driver query must push column pruning to the parquet
    scan: only o_orderkey + o_orderdate feed the candidate construction."""
    import re
    import __spark_entry__ as entry
    df = entry.queries()["validate_formats"](spark, "/root/testdata/sf0.001")
    phys = df._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"ReadSchema: struct<([^>]*)>", phys)
    assert m, phys
    cols = {f.split(":")[0] for f in m.group(1).split(",")}
    assert cols == {"o_orderkey", "o_orderdate"}


def test_array_query_prunes_scan(spark):
    import re
    import __spark_entry__ as entry
    df = entry.queries()["validate_array_keywords"](spark, "/root/testdata/sf0.001")
    phys = df._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"ReadSchema: struct<([^>]*)>", phys)
    assert m, phys
    cols = {f.split(":")[0] for f in m.group(1).split(",")}
    assert cols == {"doc_id", "text"}  # lang/source/n_chars pruned

