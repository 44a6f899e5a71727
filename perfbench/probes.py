"""Measurement probes that sit outside the engine.

* ``ProcSampler`` — peak resident memory and CPU time of the driver JVM and
  its Python workers, and the host's steal time, read from ``/proc``;
* ``batches`` / ``layer_totals`` — per-micro-batch layer times, state-store
  and observed metrics, read from Spark's own ``StreamingQueryProgress``;
* ``Tracer`` — in-memory spans (workload → drain → micro-batch →
  ``sink.foreach_batch``), written out once at the end.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from datetime import datetime

_TICK = os.sysconf("SC_CLK_TCK")

# durationMs parts that make up one trigger, in execution order
TRIGGER_PARTS = (
    "latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit",
    "commitOffsets",
)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _proc_stat(pid: int) -> tuple[str, float] | None:
    """(command name, CPU seconds) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1: raw.rindex(")")]
    fields = raw.rsplit(")", 1)[1].split()
    return comm, (int(fields[11]) + int(fields[12])) / _TICK


def _host_cpu() -> list[int]:
    """Host CPU ticks: user nice system idle iowait irq softirq steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def _pss_bytes(pid: int) -> int:
    """Proportional set size: pages shared after the Python worker daemon
    forks are split between the sharers instead of counted once each."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class ProcSampler:
    """Samples every descendant of this process: the JVM (``java``) and the
    Python workers it forks. ``start``/``stop`` bracket one measured
    section; CPU is the sum of per-process deltas, memory the peak of the
    summed proportional resident set."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self._cpu0: dict[int, float] = {}
        self._cpu: dict[int, tuple[str, float]] = {}
        self.peak_rss = 0
        self._t0 = 0.0
        self.wall_s = 0.0

    def _sample(self) -> None:
        kids = _children()
        todo, rss = list(kids.get(os.getpid(), [])), 0
        while todo:
            pid = todo.pop()
            todo.extend(kids.get(pid, []))
            st = _proc_stat(pid)
            if st is None:
                continue
            rss += _pss_bytes(pid)
            self._cpu[pid] = st
        self.peak_rss = max(self.peak_rss, rss)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def start(self) -> None:
        self._sample()
        self._cpu0 = {pid: cpu for pid, (_, cpu) in self._cpu.items()}
        self._cpu0[os.getpid()] = _proc_stat(os.getpid())[1]
        self.peak_rss = 0
        self._host0 = _host_cpu()
        self._t0 = time.perf_counter()
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self) -> dict:
        self._stop.set()
        self._thread.join()
        self._sample()
        self.wall_s = time.perf_counter() - self._t0
        jvm = py = 0.0
        for pid, (comm, cpu) in self._cpu.items():
            used = cpu - self._cpu0.get(pid, 0.0)
            if comm == "java":
                jvm += used
            else:
                py += used
        # the driver's own Python process runs the foreachBatch callbacks
        py += _proc_stat(os.getpid())[1] - self._cpu0[os.getpid()]
        host = [b - a for a, b in zip(self._host0, _host_cpu())]
        return {
            # CPU time the hypervisor gave to other guests: the main source
            # of run-to-run drift on a shared host
            "proc.steal_ratio": host[7] / max(1, sum(host)),
            "proc.jvm_cpu_s": jvm,
            "proc.python_cpu_s": py,
            "proc.cpu_busy_ratio": (jvm + py) / (self.wall_s * (os.cpu_count() or 1)),
            "peak_rss_mb": self.peak_rss / 2**20,
        }


def _epoch_ms(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp() * 1000


def batches(query) -> list[dict]:
    """One progress record per executed micro-batch (idle triggers, which
    run no addBatch, are skipped)."""
    seen: dict[int, dict] = {}
    for p in query.recentProgress:
        rec = json.loads(p.json)
        if "addBatch" in rec.get("durationMs", {}):
            seen[rec["batchId"]] = rec
    return [seen[b] for b in sorted(seen)]


def _state_ops(rec: dict, kind: str) -> list[dict]:
    return [s for s in rec.get("stateOperators", []) if kind in s["operatorName"]]


def layer_totals(progress: list[dict]) -> dict:
    """Per-layer sums over the given micro-batches, named by module."""
    d = lambda rec, k: rec["durationMs"].get(k, 0)  # noqa: E731
    trig = [d(r, "triggerExecution") for r in progress]
    parts = [sum(d(r, k) for k in TRIGGER_PARTS) for r in progress]
    out = {
        "source.latest_offset_ms": sum(d(r, "latestOffset") for r in progress),
        "source.get_batch_ms": sum(d(r, "getBatch") for r in progress),
        "source.input_rows": sum(r["numInputRows"] for r in progress),
        "jobs.batches": len(progress),
        "jobs.trigger_p50_ms": statistics.median(trig) if trig else 0,
        "jobs.trigger_total_ms": sum(trig),
        "jobs.query_planning_ms": sum(d(r, "queryPlanning") for r in progress),
        "jobs.add_batch_ms": sum(d(r, "addBatch") for r in progress),
        "jobs.wal_commit_ms": sum(d(r, "walCommit") for r in progress),
        "jobs.commit_offsets_ms": sum(d(r, "commitOffsets") for r in progress),
        # |sum of the trigger's parts - triggerExecution| / triggerExecution
        "jobs.reconcile_err": (
            sum(abs(p - t) for p, t in zip(parts, trig)) / sum(trig) if sum(trig) else 0
        ),
    }
    # operator names: dedupeWithinWatermark, applyInPandasWithState
    for layer, kind in (("dedup", "dedupe"), ("cep", "WithState")):
        ops = [s for r in progress for s in _state_ops(r, kind)]
        out[f"{layer}.state_update_ms"] = sum(
            s["allUpdatesTimeMs"] + s.get("allRemovalsTimeMs", 0) for s in ops
        )
        out[f"{layer}.state_commit_ms"] = sum(s["commitTimeMs"] for s in ops)
        out[f"{layer}.state_rows"] = max((s["numRowsTotal"] for s in ops), default=0)
        out[f"{layer}.state_mem_bytes"] = max(
            (s["memoryUsedBytes"] for s in ops), default=0
        )
        out[f"{layer}.late_dropped_rows"] = sum(
            s.get("numRowsDroppedByWatermark", 0) for s in ops
        )
    q = [r.get("observedMetrics", {}).get("quality") for r in progress]
    q = [m for m in q if m]
    # an empty batch observes turns_kept = NULL
    out["quality.turns_in"] = sum(m["turns_in"] or 0 for m in q)
    out["quality.turns_kept"] = sum(m["turns_kept"] or 0 for m in q)
    return out


class Tracer:
    """In-memory spans. Each span: id, parent, name, start/end (epoch ms)
    and attributes. ``wrap_sink`` swaps the public
    ``ExactlyOnceParquetSink.foreach_batch`` for a timing wrapper while a
    traced section runs."""

    def __init__(self):
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self.parent: int | None = None

    def add(self, name: str, start_ms: float, end_ms: float,
            parent: int | None = None, **attrs) -> int:
        with self._lock:
            sid = len(self.spans)
            self.spans.append({
                "id": sid, "parent": parent, "name": name,
                "start_ms": start_ms, "end_ms": end_ms, **attrs,
            })
        return sid

    def begin(self, name: str, **attrs) -> int:
        return self.add(name, time.time() * 1000, None, self.parent, **attrs)

    def end(self, sid: int, **attrs) -> None:
        with self._lock:
            self.spans[sid]["end_ms"] = time.time() * 1000
            self.spans[sid].update(attrs)

    def add_batches(self, drain_sid: int, progress: list[dict]) -> list[int]:
        """Micro-batch spans from progress; returns their ids."""
        ids = []
        for rec in progress:
            start = _epoch_ms(rec["timestamp"])
            ids.append(self.add(
                "micro_batch", start, start + rec["durationMs"]["triggerExecution"],
                drain_sid, batch_id=rec["batchId"],
                duration_ms=rec["durationMs"], input_rows=rec["numInputRows"],
            ))
        return ids

    def sink_calls(self) -> list[dict]:
        return [s for s in self.spans if s["name"] == "sink.foreach_batch"]

    def wrap_sink(self):
        """Context manager timing every ``foreach_batch`` call."""
        from dataflow_mm_spark.streaming.sink import ExactlyOnceParquetSink

        tracer = self
        orig = ExactlyOnceParquetSink.foreach_batch

        def timed(sink, df, batch_id):
            t0 = time.time() * 1000
            try:
                return orig(sink, df, batch_id)
            finally:
                tracer.add("sink.foreach_batch", t0, time.time() * 1000,
                           None, batch_id=batch_id, out_dir=sink.out_dir)

        @contextmanager
        def cm():
            ExactlyOnceParquetSink.foreach_batch = timed
            try:
                yield
            finally:
                ExactlyOnceParquetSink.foreach_batch = orig

        return cm()

    def link_sink_calls(self, batch_spans: dict[tuple[str, int], int]) -> None:
        """Parent each sink span under the micro-batch span that ran it."""
        for s in self.sink_calls():
            if s["parent"] is None:
                s["parent"] = batch_spans.get((s["out_dir"], s["batch_id"]))

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)
