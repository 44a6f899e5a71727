"""SURVEY §7.7: a stateful op downstream of a stream-stream join runs as two
queries chained through an intermediate sink. Prove the composition:
query 1 = stream-stream prev-turn join → parquet sink;
query 2 = reads that sink as a stream → stateful CEP → sink."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from dataflow_mm_spark.datagen import transcripts
from dataflow_mm_spark.streaming import jobs
from dataflow_mm_spark.streaming.cep import cep_stream
from dataflow_mm_spark.streaming.sink import ExactlyOnceParquetSink


def test_join_then_cep_two_queries(spark, tmp_path):
    inp = str(tmp_path / "in")
    df = transcripts(spark, n_convs=30, seed=42)
    df.coalesce(2).write.parquet(inp)
    sent = spark.createDataFrame(
        [("conv-sentinel", 0, "user", "s", None, dt.datetime(2026, 1, 1))],
        schema="conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    sent.coalesce(1).write.mode("append").parquet(inp)

    # query 1: stream-stream join → intermediate sink
    mid, ck1 = str(tmp_path / "mid"), str(tmp_path / "ck1")
    q1, sink1 = jobs.context_pipeline(spark, inp, mid, ck1)
    q1.awaitTermination(300)
    n_ctx = sink1.read_committed(spark).count()
    assert n_ctx > 50

    # query 2: intermediate sink as a stream → stateful CEP
    ctx_schema = sink1.read_committed(spark).schema
    ctx_stream = (
        spark.readStream.schema(ctx_schema)
        .option("pathGlobFilter", "*.parquet")
        .parquet(mid + "/batch_id=*")
        .withWatermark("ts", "10 minutes")
        .withColumn("tool", F.lit(None).cast("string"))
        # joined rows are turns 1..n-1 (turn 0 has no predecessor); re-base to
        # 0 so the CEP contiguous-prefix FSM consumes them
        .withColumn("turn_idx", (F.col("turn_idx") - 1).cast("int"))
    )
    events = cep_stream(ctx_stream, close_gap="30 minutes", buckets=16)
    out, ck2 = str(tmp_path / "out"), str(tmp_path / "ck2")
    sink2 = ExactlyOnceParquetSink(out)
    q2 = (
        events.writeStream.outputMode("append")
        .option("checkpointLocation", ck2)
        .foreachBatch(sink2.foreach_batch)
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(300)
    res = sink2.read_committed(spark)
    kinds = {r.kind for r in res.select("kind").distinct().collect()}
    assert "conv_summary" in kinds and "role_violation" in kinds
    assert res.count() > 0
