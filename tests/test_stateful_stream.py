"""applyInPandasWithState running-tally operator: state persists across
micro-batches."""

from json_skema_spark import compile_schema
from json_skema_spark.streaming.stateful import tally_verdicts


def test_running_tally_across_batches(spark, tmp_path):
    src = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    schema_ddl = "key string, sr_hz int"
    doc = {"properties": {"sr_hz": {"enum": [8000, 16000]}}}

    # batch 1: key a -> 1 bad of 2; key b -> 1 good
    spark.createDataFrame(
        [("a", 8000), ("a", 99), ("b", 16000)], schema_ddl) \
        .write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(schema_ddl).parquet(src)
    out = tally_verdicts(stream, compile_schema(doc, stream.schema).passed,
                         "key")
    results = {}

    def sink(bdf, _id):
        for r in bdf.collect():
            results[r.key] = (r.rows_seen, r.rows_failed)

    q = (out.writeStream.outputMode("update").foreachBatch(sink)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    assert results == {"a": (2, 1), "b": (1, 0)}

    # batch 2 (new file): state must accumulate, not reset
    spark.createDataFrame([("a", 99)], schema_ddl) \
        .write.mode("append").parquet(src)
    stream2 = spark.readStream.schema(schema_ddl).parquet(src)
    q2 = (tally_verdicts(
        stream2, compile_schema(doc, stream2.schema).passed, "key")
        .writeStream.outputMode("update").foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True).start())
    q2.awaitTermination(120)
    assert results["a"] == (3, 2)


def test_running_tally_integer_key(spark, tmp_path):
    """Review regression: a non-string key column (int shard ids) must not
    kill the query at Arrow conversion — it is cast to the declared
    string key."""
    src = str(tmp_path / "iin")
    spark.createDataFrame([(7, 8000), (7, 99)], "shard int, sr_hz int") \
        .write.parquet(src)
    stream = spark.readStream.schema("shard int, sr_hz int").parquet(src)
    out = tally_verdicts(
        stream, compile_schema({"properties": {"sr_hz": {"enum": [8000]}}},
                               stream.schema).passed, "shard")
    res = {}
    q = (out.writeStream.outputMode("update")
         .foreachBatch(lambda b, _i: res.update(
             {r.key: (r.rows_seen, r.rows_failed) for r in b.collect()}))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    assert res == {"7": (2, 1)}
