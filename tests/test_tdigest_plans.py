"""TDigest sketch accuracy + plan-shape assertions (pruning/broadcast)."""

import numpy as np
from pyspark.sql import functions as F

from json_skema_spark import compile_schema
from json_skema_spark.operators import referential
from json_skema_spark.operators.tdigest import (merge_digests,
                                                partial_digests,
                                                quantiles_from_digest,
                                                tdigest_quantiles)


def test_tdigest_accuracy_lognormal(spark):
    rng = np.random.default_rng(42)
    data = rng.lognormal(3.0, 1.0, 20_000)
    df = spark.createDataFrame([(float(x),) for x in data], "x double")
    probs = [0.05, 0.25, 0.5, 0.75, 0.95]
    got = tdigest_quantiles(df, "x", probs)
    exact = np.quantile(data, probs)
    for g, e in zip(got, exact):
        assert abs(g - e) / e < 0.05, (g, e)


def test_tdigest_merge_across_runs(spark):
    """The resumable path: digests from two disjoint halves merge to the
    same answer as one pass."""
    rng = np.random.default_rng(1)
    data = rng.normal(100.0, 15.0, 10_000)
    df = spark.createDataFrame([(float(x),) for x in data], "x double")
    h1 = df.filter(F.col("x") < 100)
    h2 = df.filter(F.col("x") >= 100)
    cents = [(r["mean"], r["weight"])
             for r in partial_digests(h1, "x").collect()]
    cents += [(r["mean"], r["weight"])
              for r in partial_digests(h2, "x").collect()]
    m, w = merge_digests(cents)
    got = quantiles_from_digest(m, w, [0.5])[0]
    assert abs(got - float(np.median(data))) < 1.0
    assert int(w.sum()) == 10_000


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


def test_orphans_broadcasts_small_dim(spark):
    """With a caller-supplied row count under the threshold, the broadcast is
    forced; Catalyst may independently broadcast tiny dims anyway."""
    fact = spark.read.parquet("/root/testdata/sf0.001/orders.parquet") \
        .withColumnRenamed("o_custkey", "c_custkey")
    dim = spark.read.parquet("/root/testdata/sf0.001/customer.parquet") \
        .select("c_custkey")
    plan = referential.orphans(fact, dim, "c_custkey", dim_rows=150) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_orphans_no_hint_without_known_rows(spark):
    """Without a caller-supplied row count our code must NOT force a
    broadcast hint — no eager dim.count() scan; AQE/autoBroadcastJoinThreshold
    decide from runtime statistics (VERDICT r01). With a known count above
    the threshold, same: no hint."""
    fact = spark.read.parquet("/root/testdata/sf0.001/orders.parquet") \
        .withColumnRenamed("o_custkey", "c_custkey")
    dim = spark.read.parquet("/root/testdata/sf0.001/customer.parquet") \
        .select("c_custkey")
    no_hint = referential.orphans(fact, dim, "c_custkey") \
        ._jdf.queryExecution().analyzed().toString()
    hinted = referential.orphans(fact, dim, "c_custkey", dim_rows=150) \
        ._jdf.queryExecution().analyzed().toString()
    above = referential.orphans(fact, dim, "c_custkey", dim_rows=150,
                                broadcast_threshold_rows=10) \
        ._jdf.queryExecution().analyzed().toString()
    assert "broadcast" not in no_hint.lower()
    assert "broadcast" in hinted.lower()
    assert "broadcast" not in above.lower()


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

