"""Streaming CEP over conversation turns — per-conversation FSMs in
streaming.keyed_state.

Detects, per ``conv_id`` in event (turn_idx) order:
* role-alternation violations (same role as previous user/assistant turn);
* tool request→result pairing (assistant turn carrying a <tool_call> span
  must be followed — next turn_idx — by a role='tool' turn with the same
  tool name) → ``tool_paired`` / ``tool_unpaired`` events;
* conversation close via event-time timeout (watermark passes last activity
  + gap) → ``conv_summary`` event with per-conversation counters.

Semantics match the batch forms in operators/cep.py (their outputs are the
replay oracle — tests assert set equality on the detection rows).

Out-of-order handling: arrivals are buffered in state keyed by turn_idx and
the FSM only consumes the contiguous prefix (next_idx, next_idx+1, ...);
anything beyond a gap waits for the missing turn. At close (watermark passes
last activity + gap) the pending buffer is FLUSHED through the FSM in
ascending turn order (gap-skip) so detections among buffered turns match the
batch oracle, the open tool call resolves unpaired (close defines the
effective pairing latency — batch analogue: tool_pairing(max_latency_sec=
close_gap)), and the state collapses to a small TOMBSTONE {next_idx,
last_ua_role} retained for RETENTION_GAPS x the gap: a conversation that RESUMES after a
close continues its FSM (cross-gap role alternation stays batch-exact)
instead of restarting at turn 0 and wedging. A stale duplicate of an
already-consumed turn_idx is dropped on arrival. Each conversation's state
vector is one keyed_state payload (encoding below), with the pending buffer
JSON-encoded.

Skew note: state is keyed by conv_id, so a mega-conversation lands on one
task — state size is bounded by the pending buffer (gap-bounded), not by
conversation length, because the FSM discards consumed turns.
"""

from __future__ import annotations

import json

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from dataflow_mm_spark.streaming.keyed_state import (
    FLD_SEP,
    SEG_SEP,
    keyed_state_stream,
)

# tombstone retention: a closed conversation's {next_idx, last_ua_role} stub
# survives this many close-gaps past its last activity before full removal.
# A resume AFTER retention degrades gracefully (the close-time flush emits
# its detections from a fresh FSM; only cross-boundary lag context is lost).
# Tombstones ride the state between batches, but a sweep drops any whose
# retention is already behind the watermark — so large watermark jumps
# (big micro-batches) pay nothing for long retention.
RETENTION_GAPS = 4


def _has_call(text):
    """Complete <tool_call>...</tool_call> span — the SAME span definition as
    the batch oracle (operators/cep.py tool_pairing via
    extraction.TOOL_CALL_PATTERN). A bare contains('<tool_call>') would open
    the tool FSM on an unterminated tag where batch would not, breaking the
    documented streaming/batch parity contract on malformed input."""
    from dataflow_mm_spark.functions.extraction import TOOL_CALL_PATTERN

    return text.rlike(TOOL_CALL_PATTERN)

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), True),
        T.StructField("detail", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)

# Per-conversation state vector (the keyed_state payload, decoded):
# [next_idx, last_ua_role, open_tool, open_idx, open_ts_us, pending{idx:(...)},
#  n_turns, n_violations, n_paired, n_unpaired, max_ts_us]
# A TOMBSTONE (closed conversation awaiting retention expiry) is the same
# vector with empty pending and zeroed counters — next_idx/last_ua_role
# survive so a resumed conversation continues its FSM batch-exactly.
#
# Payload encoding: the vector's fields joined by \x1f, pending as JSON last:
#   next_idx \x1f last_ua_role \x1f open_tool \x1f open_idx \x1f open_ts_us
#       \x1f n_turns \x1f n_violations \x1f n_paired \x1f n_unpaired
#       \x1f max_ts_us \x1f pending_json
# Field ops are C-speed str.split/join, not recursive json; pending_json is
# '' for the common in-order case (json only on gaps) and json.dumps escapes
# control chars, so no separator appears in it. Tool names must not contain
# \x1e/\x1f — enforced at encode time (clear error rather than silent state
# corruption).
# bump when the payload encoding changes: keyed_state then rejects old state
_LAYOUT_VERSION = 1


def _new_conv() -> list:
    return [0, None, None, None, None, {}, 0, 0, 0, 0, 0]


def _enc(st: list, gap_us: int) -> tuple[str, int]:
    """State vector → (payload, deadline_us): the close time for an active
    conversation, the retention expiry for a tombstone."""
    active = st[6] > 0 or st[5]
    due = st[10] + (gap_us if active else RETENTION_GAPS * gap_us)
    tool = st[2] or ""
    if FLD_SEP in tool or SEG_SEP in tool:
        raise ValueError(
            "tool contains \\x1e or \\x1f — sanitize tool names upstream "
            "(cep state uses them as separators)"
        )
    return FLD_SEP.join(
        (
            str(st[0]),
            st[1] or "",
            tool,
            "" if st[3] is None else str(st[3]),
            "" if st[4] is None else str(st[4]),
            str(st[6]),
            str(st[7]),
            str(st[8]),
            str(st[9]),
            str(st[10]),
            json.dumps(st[5]) if st[5] else "",
        )
    ), due


def _dec(payload: str) -> list:
    """Payload → working state vector (see layout above)."""
    p = payload.split(FLD_SEP)
    pending = (
        {int(k): tuple(v) for k, v in json.loads(p[10]).items()} if p[10] else {}
    )
    return [
        int(p[0]),
        p[1] or None,
        p[2] or None,
        int(p[3]) if p[3] else None,
        int(p[4]) if p[4] else None,
        pending,
        int(p[5]),
        int(p[6]),
        int(p[7]),
        int(p[8]),
        int(p[9]),
    ]


def _conv_step(conv_id: str, st: list, arrivals: list, out: list) -> None:
    """Buffer arrivals, then consume the contiguous prefix — the one copy of
    the FSM transition (parity target: the batch operator pair
    operators/cep.py role_violations + tool_pairing). The transition is
    inlined in the loop: at ~10us/turn total budget a call per turn costs a
    measured ~30% at local[8] (537k vs 790k turns/s on the 13.7M-turn
    bench)."""
    pending = st[5]
    for turn_idx, role, tool, has_call, ts_us in arrivals:
        if turn_idx < st[0]:
            continue  # stale duplicate of an already-consumed turn
        pending[turn_idx] = (role, tool, has_call, ts_us)
        if ts_us > st[10]:
            st[10] = ts_us
    append = out.append
    while st[0] in pending:
        role, tool, has_call, ts_us = pending.pop(st[0])
        idx = st[0]
        ts = pd.Timestamp(ts_us, unit="us")
        st[6] += 1
        if st[2] is not None:
            if role == "tool" and tool == st[2]:
                append((conv_id, "tool_paired", st[3], st[2], ts))
                st[8] += 1
            else:
                append(
                    (conv_id, "tool_unpaired", st[3], st[2],
                     pd.Timestamp(st[4], unit="us"))
                )
                st[9] += 1
            st[2] = st[3] = st[4] = None
        if role in ("user", "assistant"):
            if st[1] == role:
                append((conv_id, "role_violation", idx, role, ts))
                st[7] += 1
            st[1] = role
        if has_call and role == "assistant" and tool:
            st[2], st[3], st[4] = tool, idx, ts_us
        st[0] = idx + 1


def _conv_close(conv_id: str, st: list, out: list) -> None:
    """Close IN PLACE: flush the pending buffer through the FSM in ascending
    turn order (gap-skip — detections among buffered turns match the batch
    oracle), resolve a still-open tool call as unpaired (the close gap is the
    effective pairing latency), emit the summary, then collapse to a
    tombstone (counters reset; next_idx/last_ua_role kept for resume)."""
    while st[5]:  # gap-skip: resume the consume loop at the next buffered turn
        st[0] = min(st[5])
        _conv_step(conv_id, st, (), out)
    if st[2] is not None:
        out.append(
            (conv_id, "tool_unpaired", st[3], st[2], pd.Timestamp(st[4], unit="us"))
        )
        st[9] += 1
        st[2] = st[3] = st[4] = None
    out.append(
        (
            conv_id,
            "conv_summary",
            st[0],
            json.dumps(
                {
                    "n_turns": st[6],
                    "n_violations": st[7],
                    "n_paired": st[8],
                    "n_unpaired": st[9],
                    "n_pending": 0,  # flushed above
                },
                sort_keys=True,
            ),
            pd.Timestamp(st[10], unit="us"),
        )
    )
    st[6] = st[7] = st[8] = st[9] = 0  # counters restart for a resume epoch


# Arrow-lean turn encoding for the bucketed path (r4): one LONG packs
# turn_idx<<4 | role_code<<1 | has_call — replacing three columns
# (int turn_idx + role string avg ~13B + bool) with 8 bytes. Roles outside
# the known set decode to None: the FSM only ever compares against
# user/assistant/tool, so unknown roles behave identically to the batch
# operators (string equality never matches). Event time stays a TIMESTAMP
# column: it carries the watermark tag the analyzer requires inside the
# stateful operator (see the select below) and is 8 bytes either way.
# Rationale: the r3 4-executor scaling run put bucketed CEP at 0.312 —
# BELOW the memory-bandwidth ceiling band — and jobs ranked exactly by
# Arrow/state bytes moved per turn; single-JVM wall is insensitive to these
# bytes (measured), concurrent-JVM throughput is what they throttle.
_ROLE_CODE_OF = {"user": 0, "assistant": 1, "tool": 2, "system": 3}
_ROLE_NAMES = np.array(["user", "assistant", "tool", "system", None], dtype=object)


def _role_code(col):
    from pyspark.sql import functions as F

    c = F.lit(len(_ROLE_CODE_OF))  # unknown → 4
    for name, code in _ROLE_CODE_OF.items():
        c = F.when(col == name, code).otherwise(c)
    return c


def cep_stream(
    turns: DataFrame, close_gap: str = "30 minutes", buckets: int = 64
) -> DataFrame:
    """turns (streaming, watermarked on ts) → detection event stream.

    The per-conversation FSMs live in keyed_state: the state key is
    hash(conv_id) % buckets, so each micro-batch pays the Python round trip
    per bucket, not per conversation. Measured on the 151k-turn CEP
    benchmark drain at local[4] with 4 shuffle partitions (two seeds each):
    16 buckets 25.4-26.9k turns/s, 64 23.0-23.6k, 256 20.8-26.1k, 1,024
    14.8-16.0k. The default 64 sits in that flat middle while keeping each
    bucket's blob small. The bucket count is part of the state layout:
    resuming with another ``buckets`` raises keyed_state.StateLayoutError.
    A conversation's deadline is its close time while active and its
    retention expiry as a tombstone."""
    from pyspark.sql import functions as F

    gap_us = _parse_gap_us(close_gap)
    retention_us = RETENTION_GAPS * gap_us

    def decode(pdf):
        meta = pdf["meta"].to_numpy()
        ts_us = pdf["ts"].to_numpy().astype("datetime64[us]").astype("int64")
        return zip(
            (meta >> 4).tolist(),  # vectorized unpack of the lean encoding
            _ROLE_NAMES[((meta >> 1) & 7).astype(np.intp)].tolist(),
            [t if isinstance(t, str) else None for t in pdf["tool"].tolist()],
            (meta & 1).astype(bool).tolist(),
            ts_us.tolist(),
        )

    def step(cid, payload, rows, out):
        st = _new_conv() if payload is None else _dec(payload)
        _conv_step(cid, st, rows, out)
        return _enc(st, gap_us)

    def close(cid, payload, wm_us, out):
        st = _dec(payload)
        if st[6] > 0 or st[5]:
            _conv_close(cid, st, out)  # collapses to a tombstone in place
        # a tombstone whose retention is ALREADY behind the watermark drops
        # in the same sweep — on big watermark jumps (large micro-batches),
        # closing-then-retaining would serialize every dead conversation for
        # one extra batch (measured ~20% on the 13.7M-turn bench)
        if st[10] + retention_us < wm_us:
            return None
        return _enc(st, gap_us)

    # NULL-tolerant packing: text is nullable in real corpora and rlike(NULL)
    # is NULL — an un-coalesced NULL meta arrives in pandas as float64 NaN
    # and the vectorized `meta >> 4` unpack raises TypeError, killing the
    # query. NULL text packs has_call=0; NULL turn_idx packs 0.
    meta = (
        F.coalesce(F.col("turn_idx").cast("long"), F.lit(0)) * 16
        + _role_code(F.col("role")).cast("long") * 2
        + F.coalesce(_has_call(F.col("text")).cast("long"), F.lit(0))
    )
    return keyed_state_stream(
        # ts stays a timestamp: it carries the watermark tag the analyzer
        # requires inside the stateful operator (event-time timeout); it is
        # 8 bytes either way and decodes vectorized on the Python side
        turns.select("conv_id", meta.alias("meta"), "tool", "ts"),
        "conv_id",
        version=_LAYOUT_VERSION,
        buckets=buckets,
        decode=decode,
        step=step,
        close=close,
        output_schema=OUTPUT_SCHEMA,
    )


def _parse_gap_us(gap: str) -> int:
    n, unit = gap.split()
    mult = {
        "second": 1, "seconds": 1,
        "minute": 60, "minutes": 60,
        "hour": 3600, "hours": 3600,
    }[unit]
    return int(n) * mult * 1_000_000
