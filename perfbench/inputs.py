"""Seeded stream input for the benchmark workloads.

Rows come from ``datagen.transcripts`` (the engine's own generator). They are
written as parquet files in event-time order, so a file-source stream sees
every row before the watermark passes it:

* each row gets an arrival time ``ts + U(0, JITTER_S)``; files hold
  consecutive arrival ranges and their mtimes follow arrival order, which is
  the order the file source reads them in;
* a share ``REPLAY_SHARE`` of ``(conv_id, turn_idx)`` rows is re-emitted
  byte-identical with an extra arrival delay ``U(0, REPLAY_DELAY_S)``, so
  exact dedup removes real duplicates;
* ``JITTER_S + REPLAY_DELAY_S`` stays below the pipelines' 10-minute
  watermark, so no row (original or replay) is ever late;
* the last file holds one far-future sentinel row, so the final watermark
  closes every conversation (CEP emits its trailing events).

Generated files are cached under the work directory per (seed, size).
``build`` runs in a process of its own, before the measured one starts;
the measured process only loads. The value hash of each workload's batch
form over an input is cached with it, per digest of the code that computed
it.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

JITTER_S = 240
REPLAY_SHARE = 0.02
REPLAY_DELAY_S = 240
SENTINEL_CONV = "conv-sentinel"

_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)


class StreamInput:
    """A directory of arrival-ordered parquet files plus its counts."""

    def __init__(self, path: str, meta: dict):
        self.path = path
        self.meta = meta

    @property
    def files(self) -> list[str]:
        return [os.path.join(self.path, n) for n in self.meta["files"]]

    @property
    def rows(self) -> int:
        return self.meta["rows"]

    @property
    def replays(self) -> int:
        return self.meta["replays"]


def _arrival_order(pdf, seed: int):
    """Append replays, assign arrival times, return rows in arrival order
    (plus the number of replays)."""
    rng = np.random.default_rng(seed)
    if pdf["ts"].dt.tz is None:
        # toPandas renders timestamps in the session time zone (UTC)
        pdf["ts"] = pdf["ts"].dt.tz_localize("UTC")
    ts_s = (pdf["ts"] - pd.Timestamp(0, tz="UTC")).dt.total_seconds().to_numpy()
    arrival = ts_s + rng.uniform(0, JITTER_S, len(pdf))
    n_rep = int(len(pdf) * REPLAY_SHARE)
    rep_idx = np.sort(rng.choice(len(pdf), n_rep, replace=False))
    rep = pdf.iloc[rep_idx]
    rep_arrival = arrival[rep_idx] + rng.uniform(0, REPLAY_DELAY_S, n_rep)
    both = pd.concat([pdf, rep], ignore_index=True)
    order = np.argsort(np.concatenate([arrival, rep_arrival]), kind="stable")
    return both.iloc[order].reset_index(drop=True), n_rep


def _path(root: str, seed: int, n_convs: int, n_files: int) -> str:
    return os.path.join(root, f"seed{seed}-c{n_convs}-f{n_files}")


def cached(root: str, seed: int, n_convs: int, n_files: int) -> bool:
    return os.path.exists(os.path.join(_path(root, seed, n_convs, n_files), "_input.json"))


def load(root: str, seed: int, n_convs: int, n_files: int) -> StreamInput:
    """A generated input; ``build`` must have made it."""
    path = _path(root, seed, n_convs, n_files)
    with open(os.path.join(path, "_input.json")) as f:
        return StreamInput(path, json.load(f))


def _expected_file(inp: StreamInput, workload: str, digest: str) -> str:
    # a leading "_" keeps the file source from reading it as input
    return os.path.join(inp.path, f"_expected-{workload}-{digest}.json")


def has_expected(inp: StreamInput, workload: str, digest: str) -> bool:
    return os.path.exists(_expected_file(inp, workload, digest))


def load_expected(inp: StreamInput, workload: str, digest: str) -> dict:
    """The batch form's columns and value hash over ``inp``."""
    with open(_expected_file(inp, workload, digest)) as f:
        return json.load(f)


def save_expected(inp: StreamInput, workload: str, digest: str, exp: dict) -> None:
    path = _expected_file(inp, workload, digest)
    with open(path + ".tmp", "w") as f:
        json.dump(exp, f)
    os.rename(path + ".tmp", path)


def build(spark, root: str, seed: int, n_convs: int, n_files: int) -> None:
    """Generate the input for one (seed, n_convs, n_files)."""
    from dataflow_mm_spark.datagen import transcripts

    path = _path(root, seed, n_convs, n_files)
    shutil.rmtree(path, ignore_errors=True)
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)

    pdf = transcripts(spark, n_convs=n_convs, seed=seed).toPandas()
    rows, n_rep = _arrival_order(pdf, seed)
    table = pa.Table.from_pandas(rows, schema=_SCHEMA, preserve_index=False)
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    names = []
    for i in range(n_files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        if i == n_files - 1:
            sentinel_ts = rows["ts"].max() + np.timedelta64(2, "h")
            sent = pa.Table.from_pydict(
                {
                    "conv_id": [SENTINEL_CONV],
                    "turn_idx": [0],
                    "role": ["user"],
                    "text": ["sentinel push watermark"],
                    "tool": [None],
                    "ts": [sentinel_ts],
                },
                schema=_SCHEMA,
            )
            part = pa.concat_tables([part, sent])
        name = f"part-{i:05d}.parquet"
        pq.write_table(part, os.path.join(tmp, name))
        names.append(name)
    # the file source orders a listing by modification time: make it the
    # arrival order, one second apart
    base = os.path.getmtime(os.path.join(tmp, names[0]))
    for i, name in enumerate(names):
        os.utime(os.path.join(tmp, name), (base + i, base + i))
    meta = {
        "seed": seed,
        "n_convs": n_convs,
        "files": names,
        "rows": table.num_rows + 1,
        "replays": n_rep,
    }
    with open(os.path.join(tmp, "_input.json"), "w") as f:
        json.dump(meta, f)
    os.rename(tmp, path)
