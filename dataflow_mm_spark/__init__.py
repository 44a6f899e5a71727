"""dataflow_mm_spark — a PySpark-native streaming analytics engine.

Re-expresses the operator semantics of OpenDCAI/DataFlow-MM (a single-node
pandas operator framework, see /root/reference) as idiomatic Spark:

* batch layer: lazy DataFrame transforms composed by Catalyst
  (operators are pure functions ``DataFrame -> DataFrame``);
* streaming layer: Structured Streaming with event-time watermarks,
  tumbling/sliding/session windows, ``applyInPandasWithState`` CEP,
  stream-stream joins, and an idempotent exactly-once sink;
* all per-turn text transforms are either pure Spark SQL expressions
  (whole-stage-codegen fast path) or Arrow-vectorized pandas UDFs —
  never per-row Python.

The canonical input is a transcript table
``(conv_id string, turn_idx int, role string, text string, tool string,
ts timestamp)`` — one row per conversation turn.
"""

__version__ = "0.1.0"


def __getattr__(name: str):
    # lazy: importing the package must not import pyspark, so that
    # ``python -m dataflow_mm_spark.worker_daemon`` can settle sys.path first
    if name == "get_spark":
        from dataflow_mm_spark.session import get_spark

        return get_spark
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
