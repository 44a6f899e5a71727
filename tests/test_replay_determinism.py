"""SURVEY §5.2 #2: kill mid-stream, resume from checkpoint, diff against an
uninterrupted single run — outputs must be identical."""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from dataflow_mm_spark.datagen import transcripts
from dataflow_mm_spark.streaming import jobs


def _collect(sink, spark):
    return {
        tuple(r)
        for r in sink.read_committed(spark)
        .select("conv_id", "win_start", "n_turns", "n_assistant")
        .collect()
    }


def test_kill_and_resume_equals_single_run(spark, tmp_path):
    inp = str(tmp_path / "in")
    df = transcripts(spark, n_convs=60, seed=42)
    df.repartition(8).write.parquet(inp)  # 8 files → 8 micro-batches

    # interrupted run: stop the query after the first committed batch
    out_a, ck_a = str(tmp_path / "out_a"), str(tmp_path / "ck_a")
    q, sink_a = jobs.windowed_pipeline(
        spark, inp, out_a, ck_a, max_files_per_trigger=1
    )
    deadline = time.time() + 120
    while time.time() < deadline and not sink_a.committed_batches():
        time.sleep(0.2)
    q.stop()  # kill mid-stream
    q.awaitTermination(60)
    assert len(sink_a.committed_batches()) < 8  # genuinely interrupted

    # resume from the same checkpoint to completion
    q2, sink_a2 = jobs.windowed_pipeline(
        spark, inp, out_a, ck_a, max_files_per_trigger=1
    )
    q2.awaitTermination(300)

    # uninterrupted single run
    out_b, ck_b = str(tmp_path / "out_b"), str(tmp_path / "ck_b")
    q3, sink_b = jobs.windowed_pipeline(
        spark, inp, out_b, ck_b, max_files_per_trigger=1
    )
    q3.awaitTermination(300)

    a, b = _collect(sink_a2, spark), _collect(sink_b, spark)
    assert a == b and len(a) > 0

    # and exactly-once holds across the kill/resume boundary
    keys = (
        sink_a2.read_committed(spark).select("conv_id", "win_start")
    )
    assert keys.count() == keys.distinct().count()
