"""Bucketed keyed state — the one way a streaming operator holds Python state.

``applyInPandasWithState`` pays a Python/Arrow/GroupState round trip per
group (~10 ms regardless of group size), so one group per key leaves a
high-cardinality stage mostly fixed cost. ``keyed_state_stream`` instead
groups the stream on ``pmod(xxhash64(key), buckets)`` and keeps every key of
a bucket inside that bucket's state value ``(blob, layout_version,
layout_buckets)``.

The blob is ``\\x1e``-joined segments, one per key::

    key \\x1f deadline_us \\x1f payload

The payload is the operator's own string; the helper never parses it. Per
invocation (data or timeout):

* a key with arrivals calls ``step(key, payload | None, rows, out)``;
* a key without arrivals whose deadline the watermark has passed calls
  ``close(key, payload, wm_us, out)``;
* every other segment is carried through verbatim — no decode, no encode.

``step`` and ``close`` append output tuples to ``out`` and return the key's
new ``(payload, deadline_us)``, or ``None`` to drop the key. A key whose
deadline is already behind the watermark after ``step`` is closed in the
same invocation. The bucket keeps one event-time timer, at its minimum
deadline, so quiet buckets still close their keys.

``buckets`` and the operator's ``version`` are part of the layout: a
different ``buckets`` would place keys in other groups and silently restart
them, so resuming with either changed raises ``StateLayoutError``.
"""

from __future__ import annotations

from collections import defaultdict
from collections.abc import Callable, Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

SEG_SEP = "\x1e"
FLD_SEP = "\x1f"
# a NULL key is stored as this marker; non-NULL keys may not contain it
_NULL_KEY = "\x00"
_RESERVED = (SEG_SEP, FLD_SEP, _NULL_KEY)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("blob", T.StringType()),
        T.StructField("layout_version", T.IntegerType()),
        T.StructField("layout_buckets", T.IntegerType()),
    ]
)


class StateLayoutError(RuntimeError):
    """The checkpoint's state was written with another payload version or
    bucket count than the resuming query's."""


def _enc_key(key: str | None) -> str:
    if key is None:
        return _NULL_KEY
    if any(c in key for c in _RESERVED):
        raise ValueError(
            f"state key {key!r} contains \\x00, \\x1e or \\x1f — sanitize "
            "keys upstream (keyed state uses them as separators)"
        )
    return key


def _dec_key(k: str) -> str | None:
    return None if k == _NULL_KEY else k


def bucket_fn(
    key_col: str,
    version: int,
    buckets: int,
    decode: Callable[[pd.DataFrame], Iterable],
    step: Callable,
    close: Callable,
    columns: list[str],
):
    """The per-bucket state function ``keyed_state_stream`` hands to
    ``applyInPandasWithState`` (separate so tests can drive it with a fake
    GroupState)."""

    def fn(_bucket, pdf_iter, state: GroupState):
        wm_ms = state.getCurrentWatermarkMs()
        wm_us = wm_ms * 1000
        arrivals: dict[str | None, list] = defaultdict(list)
        for pdf in pdf_iter:
            for k, row in zip(pdf[key_col].tolist(), decode(pdf)):
                arrivals[k].append(row)

        blob = ""
        if state.exists:
            blob, got_version, got_buckets = state.get
            if (got_version, got_buckets) != (version, buckets):
                raise StateLayoutError(
                    f"state layout is version {got_version} in {got_buckets} "
                    f"buckets, this query's is version {version} in {buckets}: "
                    "resume with the same buckets or start a fresh checkpoint"
                )

        out: list = []
        segs: list[str] = []
        min_due = None

        def keep(k: str | None, kept) -> None:
            nonlocal min_due
            if kept is not None and kept[1] < wm_us:
                kept = close(k, kept[0], wm_us, out)
            if kept is None:
                return
            payload, due = kept
            segs.append(f"{_enc_key(k)}{FLD_SEP}{due}{FLD_SEP}{payload}")
            if min_due is None or due < min_due:
                min_due = due

        for seg in blob.split(SEG_SEP) if blob else ():
            a = seg.index(FLD_SEP)
            b = seg.index(FLD_SEP, a + 1)
            k = _dec_key(seg[:a])
            rows = arrivals.pop(k, None)
            if rows is not None:
                keep(k, step(k, seg[b + 1:], rows, out))
                continue
            due = int(seg[a + 1 : b])
            if due < wm_us:
                keep(k, close(k, seg[b + 1:], wm_us, out))
                continue
            segs.append(seg)
            if min_due is None or due < min_due:
                min_due = due
        for k, rows in arrivals.items():
            keep(k, step(k, None, rows, out))

        if segs:
            state.update((SEG_SEP.join(segs), version, buckets))
            # event-time timeouts must lie beyond the current watermark
            state.setTimeoutTimestamp(max(min_due // 1000, wm_ms + 1000))
        elif state.exists:
            state.remove()
        if out:  # skipping the empty frame saves a pandas alloc per quiet bucket
            yield pd.DataFrame(out, columns=columns)

    return fn


def keyed_state_stream(
    df: DataFrame,
    key_col: str,
    *,
    version: int,
    buckets: int,
    decode: Callable[[pd.DataFrame], Iterable],
    step: Callable,
    close: Callable,
    output_schema: T.StructType,
) -> DataFrame:
    """Run ``step``/``close`` per key of ``df`` (streaming, watermarked) with
    the keys bucketed as described in the module docstring.

    ``df`` carries ``key_col`` plus the columns ``decode`` reads;
    ``decode(pdf)`` returns one row object per frame row, in frame order,
    and each key's ``step`` receives its rows in that order."""
    return (
        df.withColumn(
            "_bucket", F.pmod(F.xxhash64(key_col), F.lit(buckets)).cast("int")
        )
        .groupBy("_bucket")
        .applyInPandasWithState(
            bucket_fn(key_col, version, buckets, decode, step, close,
                      output_schema.fieldNames()),
            outputStructType=output_schema,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
