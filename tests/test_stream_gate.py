"""The stream-gate scaffold and the one streaming start path: a gate drain
sizes its shuffle partitions on a session of its own, and every pipeline
takes one ``trigger`` value that cli.py fills from ``--trigger-interval``."""

from __future__ import annotations

import json
import os
import sys

from dataflow_mm_spark.datagen import transcripts
from dataflow_mm_spark.plans.registry import _stream_gate
from dataflow_mm_spark.streaming import jobs

KEY = "spark.sql.shuffle.partitions"


def test_stream_gate_sets_partitions_on_its_own_session(spark, tmp_path):
    before = spark.conf.get(KEY)
    # a 100-row fixture derives the floor count, 4; the caller must differ
    assert before != "4"
    inp = str(tmp_path / "in")
    spark.range(100).selectExpr("id % 7 AS k").write.parquet(inp)
    seen = {}

    def start(gs, inp, out, ck):
        q = (
            gs.readStream.schema("k long").parquet(inp).dropDuplicates(["k"])
            .writeStream.format("parquet").option("path", out)
            .option("checkpointLocation", ck).trigger(availableNow=True).start()
        )
        seen.update(caller=spark.conf.get(KEY), gate=gs.conf.get(KEY), ck=ck,
                    gs=gs)
        return q, None

    def read(out, sink):
        # the value the query pinned in its offset log at start
        with open(os.path.join(seen["ck"], "offsets", "0")) as f:
            seen["pinned"] = json.loads(f.read().splitlines()[1])["conf"][KEY]
        return spark.read.parquet(out)

    res = _stream_gate(spark, inp, start, read)
    assert sorted(r.k for r in res.collect()) == list(range(7))
    assert (seen["caller"], seen["gate"], seen["pinned"]) == (before, "4", "4")
    assert spark.conf.get(KEY) == before
    # the gate session keeps the factory conf it does not override
    for k in ("spark.sql.session.timeZone",
              "spark.sql.streaming.checkpoint.fileChecksum.enabled",
              "spark.sql.streaming.stateStore.providerClass",
              "spark.sql.execution.arrow.maxRecordsPerBatch"):
        assert seen["gs"].conf.get(k) == spark.conf.get(k), k


def test_pipeline_processing_time_trigger(spark, tmp_path):
    inp = str(tmp_path / "in")
    transcripts(spark, n_convs=5, seed=1).coalesce(1).write.parquet(inp)
    q, _ = jobs.sessionized_pipeline(
        spark, inp, str(tmp_path / "out"), str(tmp_path / "ck"),
        trigger="10 seconds", sink_mode="native",
    )
    try:
        trig = q._jsq.streamingQuery().trigger().toString()
    finally:
        q.stop()
    assert trig == "ProcessingTimeTrigger(10000)"


def test_cli_continuous_passes_trigger_interval(spark, monkeypatch):
    from dataflow_mm_spark import cli, session

    seen = {}

    class _Query:
        def awaitTermination(self):
            pass

    def pipeline(**kw):
        seen.update(kw)
        return _Query(), None

    monkeypatch.setattr(session, "get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(jobs, "sessionized_pipeline", pipeline)
    base = ["cli.py", "--job", "sessions", "--input", "i", "--output", "o",
            "--checkpoint", "c"]
    for extra, want in (
        (["--continuous", "--trigger-interval", "3 seconds"], "3 seconds"),
        ([], "availableNow"),
    ):
        monkeypatch.setattr(sys, "argv", base + extra)
        cli.main()
        assert seen["trigger"] == want
