"""Streaming size-capped session merge — the W6 merge mode as a stateful
streaming operator (reference semantics:
audio_timestamp_chunk_row_generator.py:29-55 merge mode).

Per key (``conv_id``), timestamped spans (span_start/span_end seconds within
the conversation, ``ts`` event time) are buffered in keyed state
(streaming/keyed_state.py, 64 buckets); when the
watermark passes the key's last activity + ``close_gap`` the buffered spans
are sorted and run through the SAME greedy size-capped merge loop as the
batch operator (operators/expansion.greedy_merge_spans — single source), and
one row per merged sequence is emitted. Emission happens only at close
because the cut rule is cumulative over the per-key span ORDER: a span
arriving out of order before the close can change every sequence after it,
so incremental emission under append mode would be wrong — exactly the same
reasoning as Spark's own session_window finalization.

State size is bounded by spans-per-conversation (the session being merged),
not stream length — the same bound Spark's native session aggregation
carries. Skew: one mega-conversation lands on one task; mitigations are the
same as for windows (see BENCH.md skew section).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from dataflow_mm_spark.operators.expansion import greedy_merge_spans
from dataflow_mm_spark.streaming.cep import _parse_gap_us
from dataflow_mm_spark.streaming.keyed_state import keyed_state_stream

MERGE_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("sequence_num", T.IntegerType(), False),
        T.StructField("merged_start", T.DoubleType(), False),
        T.StructField("merged_end", T.DoubleType(), False),
        T.StructField("n_spans", T.IntegerType(), False),
    ]
)

# keyed_state layout: payload = json [max_ts_us, [[start, end], ...]]
_LAYOUT_VERSION = 1
_BUCKETS = 64


def merge_spans_stream(
    spans: DataFrame,
    close_gap: str = "30 minutes",
    max_duration: float = 30.0,
) -> DataFrame:
    """spans (streaming, watermarked on ts, columns conv_id/span_start/
    span_end/ts) → one row per merged sequence, emitted when the watermark
    closes the conversation. Output matches
    ``operators.expansion.merge_spans_capped`` on the same input rows
    (parity-tested in tests/test_streaming.py)."""
    gap_us = _parse_gap_us(close_gap)

    def decode(pdf):
        ts_us = pdf["ts"].to_numpy().astype("datetime64[us]").astype("int64")
        return zip(
            pdf["span_start"].tolist(),
            pdf["span_end"].tolist(),
            ts_us.tolist(),
        )

    def step(_cid, payload, rows, out):
        max_ts_us, pairs = json.loads(payload) if payload else (0, [])
        for s, e, ts_us in rows:
            pairs.append([s, e])
            if ts_us > max_ts_us:
                max_ts_us = ts_us
        return json.dumps([max_ts_us, pairs]), max_ts_us + gap_us

    def close(cid, payload, _wm_us, out):
        out.extend(
            (cid, seq, s, e, n)
            for seq, s, e, n in greedy_merge_spans(json.loads(payload)[1], max_duration)
        )
        return None

    return keyed_state_stream(
        spans.select("conv_id", "span_start", "span_end", "ts"),
        "conv_id",
        version=_LAYOUT_VERSION,
        buckets=_BUCKETS,
        decode=decode,
        step=step,
        close=close,
        output_schema=MERGE_OUTPUT_SCHEMA,
    )
