"""Plan-shape regressions for the clips schemas: the verdict chain and the
violations() failure Project stay in whole-stage codegen, no higher-order
function or translate() lowering appears in any plan, and every string
``length()`` sits behind an O(1) ``octet_length`` guard.
"""

from __future__ import annotations

import copy
import re

import pytest

from json_skema_spark import compile_schema
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
GUARDED = re.compile(r"\(octet_length\(([^()]+)\) [<>] \d+\) AND "
                     r"\(length\(\1\) [<>] \d+\)")
BARE_LENGTH = re.compile(r"(?<!octet_)length\(")


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


def test_every_length_is_byte_guarded(plans):
    # violations() messages print the length of failing rows only, so the
    # check covers the verdict, the violations Filter and summary()
    texts = [*plans["verdict"], *plans["summary"]]
    texts += [ln for t in plans["violations"] for ln in t.splitlines()
              if re.match(r"^[\s:+\-]*(\*\(\d+\) )?Filter ", ln)]
    for text in texts:
        assert len(BARE_LENGTH.findall(text)) == len(GUARDED.findall(text))
    assert any(GUARDED.search(t) for t in texts)
