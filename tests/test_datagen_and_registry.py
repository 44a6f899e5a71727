from __future__ import annotations

from pyspark.sql import functions as F

from dataflow_mm_spark.datagen import transcripts
from dataflow_mm_spark.plans import registry as R


def test_datagen_deterministic(spark):
    a = transcripts(spark, n_convs=25, seed=42).orderBy("conv_id", "turn_idx").collect()
    b = transcripts(spark, n_convs=25, seed=42).orderBy("conv_id", "turn_idx").collect()
    assert a == b
    c = transcripts(spark, n_convs=25, seed=7).orderBy("conv_id", "turn_idx").collect()
    assert a != c


def test_datagen_structure(spark, tiny_transcripts, tiny_pdf):
    # mega conversation exists (skew target)
    sizes = tiny_pdf.groupby("conv_id").size()
    assert sizes.max() >= 400 and sizes.median() < 20
    # roles
    assert set(tiny_pdf.role.unique()) <= {"user", "assistant", "tool"}
    # tool rows carry tool names; tool results follow calls
    tools = tiny_pdf[tiny_pdf.role == "tool"]
    assert len(tools) > 0 and tools.tool.notna().all()
    # timestamps are per-conv mostly increasing with occasional disorder
    g = tiny_pdf.sort_values(["conv_id", "turn_idx"]).groupby("conv_id").ts
    frac_monotone = (g.apply(lambda s: s.is_monotonic_increasing)).mean()
    assert 0.3 < frac_monotone < 1.0  # jitter creates some disorder, not chaos


def test_every_query_analyzes(spark):
    """Cheap analysis-only pass over the whole registry: schemas resolve and
    every oracle has a query."""
    for name, fn in R.QUERIES.items():
        df = fn(spark, "/root/testdata/sf0.001")
        assert len(df.schema.fields) > 0, name
    assert set(R.ORACLES) <= set(R.QUERIES)


def test_registry_order():
    """Only the first 50 entries are recorded. The gate walks them front to
    back with one DuckDB connection: batch queries first (heavy oracles
    while the connection is young), then the stream gates, led by the two
    foreachBatch ones (py4j callback-channel cap, see jobs._start)."""
    names = list(R.QUERIES)
    assert len(names) == 50
    assert names == list(R.ORACLES)
    assert list(R.MEMBER_QUERIES) == list(R.MEMBER_ORACLES)
    stream = [i for i, n in enumerate(names) if "_stream_" in n]
    batch = [i for i, n in enumerate(names) if "_stream_" not in n]
    assert max(batch) < min(stream)
    assert names[min(stream):min(stream) + 2] == [
        "transcripts_stream_pipeline", "transcripts_stream_neardup",
    ]
