"""The benchmark workloads and their correctness checks.

Every workload runs in one driver process at ``local[<cores>]``, one
streaming query at a time, through the engine's public entry points only:
``session.get_spark``, ``streaming.jobs.turns_pipeline`` /
``cep_pipeline`` / ``drain_resumable`` / ``enrich_turns``,
``streaming.sink.ExactlyOnceParquetSink`` and ``datagen.transcripts``.

* ``turns_drain`` — exact dedup → 15-rule quality enrich/filter →
  exactly-once sink, availableNow, drained again over fresh checkpoints;
* ``cep_drain`` — bucketed CEP (``applyInPandasWithState``) over the same
  input.

The inputs are generated beforehand in a process of their own (see
``run.py``), so the measured process does the same work before and during
its timed section on every run.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import statistics
import sys
import time

from pyspark.sql import functions as F

from . import inputs
from .probes import ProcSampler, Tracer, batches, layer_totals

# Both drain workloads read the same input; the warm-up drain reads a tiny
# one, one file per micro-batch, and a traced run drains it again to measure
# the per-batch floor. The drain input is large enough that per-row work
# (dedup state, the quality and extraction kernels, the CEP state updates,
# the sink write) is most of a drain rather than per-batch fixed costs.
WARMUP = {"n_convs": 150, "n_files": 3}
DRAIN_INPUT = {"n_convs": 13000, "n_files": 100}
# Files per micro-batch: 4 batches of input plus the sentinel's watermark
# batch per drain.
MAX_FILES = 25
DRAIN_TIMEOUT_S = 120
CEP_KINDS = ("role_violation", "tool_paired", "tool_unpaired")

# metric name -> unit
END_TO_END = {"setup_s": "s", "turns_per_s": "turns/s", "peak_rss_mb": "MB"}
PER_LAYER = {
    "session.get_spark_s": "s",
    "source.latest_offset_ms": "ms", "source.get_batch_ms": "ms",
    "source.input_rows": "count",
    "jobs.batches": "count", "jobs.trigger_p50_ms": "ms",
    "jobs.query_planning_ms": "ms", "jobs.add_batch_ms": "ms",
    "jobs.wal_commit_ms": "ms", "jobs.commit_offsets_ms": "ms",
    "jobs.add_batch_floor_ms": "ms", "jobs.per_row_share": "ratio",
    "jobs.reconcile_err": "ratio", "jobs.local1_turns_per_s": "turns/s",
    "jobs.parallel_speedup": "ratio",
    "dedup.state_update_ms": "ms", "dedup.state_commit_ms": "ms",
    "dedup.state_rows": "count", "dedup.state_mem_bytes": "bytes",
    "dedup.late_dropped_rows": "count", "dedup.removed_ratio": "ratio",
    "cep.state_update_ms": "ms", "cep.state_commit_ms": "ms",
    "cep.state_rows": "count", "cep.state_mem_bytes": "bytes",
    "cep.late_dropped_rows": "count", "cep.events_out": "count",
    "quality.kept_ratio": "ratio", "quality.kernel_turns_per_s": "turns/s",
    "sink.foreach_batch_ms": "ms", "sink.rows": "count", "sink.bytes": "bytes",
    "sink.files": "count",
    "proc.jvm_cpu_s": "s", "proc.python_cpu_s": "s", "proc.cpu_busy_ratio": "ratio",
    "proc.steal_ratio": "ratio",
    "failed_ratio": "ratio", "trace.overhead_ratio": "ratio",
}


def log(msg: str) -> None:
    print(f"perfbench {time.strftime('%H:%M:%S')} {msg}", file=sys.stderr, flush=True)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def process_age_s() -> float:
    with open("/proc/self/stat") as f:
        start = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        up = float(f.read().split()[0])
    return up - start / os.sysconf("SC_CLK_TCK")


def value_hash(df, cols: list[str]):
    """Order-insensitive (rows, distinct keys, hash) of ``cols``."""
    keys = [c for c in ("conv_id", "turn_idx", "kind") if c in cols]
    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct(*keys).alias("keys"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
    ).first()
    return r["n"], r["keys"], str(r["h"])


def batch_form(spark, inp, workload: str):
    """Batch form of the workload's query over the same input: what its
    drain must commit."""
    from dataflow_mm_spark.schema import TRANSCRIPT_SCHEMA

    src = (spark.read.schema(TRANSCRIPT_SCHEMA).parquet(inp.path)
           .dropDuplicates(["conv_id", "turn_idx"]))
    if workload != "cep_drain":
        from dataflow_mm_spark.streaming.jobs import enrich_turns

        return enrich_turns(src).filter(F.col("quality.pass"))
    from dataflow_mm_spark.operators import cep as batch_cep

    src = src.filter(F.col("conv_id") != inputs.SENTINEL_CONV)
    viol = batch_cep.role_violations(src).select(
        "conv_id", F.col("turn_idx").cast("long").alias("turn_idx"),
        F.lit("role_violation").alias("kind"))
    pairs = batch_cep.tool_pairing(src).select(
        "conv_id", F.col("turn_idx").cast("long").alias("turn_idx"),
        F.when(F.col("paired"), "tool_paired").otherwise("tool_unpaired").alias("kind"))
    return viol.unionByName(pairs)


def expected_hash(spark, inp, workload: str) -> dict:
    df = batch_form(spark, inp, workload)
    return {"cols": df.columns, "hash": list(value_hash(df, df.columns))}


def code_digest(root: str) -> str:
    """Digest of the engine's and the benchmark's sources. The batch form's
    value hash is cached under it, so any change to either recomputes it."""
    h = hashlib.sha256()
    for top in ("dataflow_mm_spark", "perfbench"):
        for d, dirs, names in os.walk(os.path.join(root, top)):
            dirs[:] = sorted(x for x in dirs if x != "__pycache__")
            for name in sorted(names):
                path = os.path.join(d, name)
                h.update(os.path.relpath(path, root).encode() + b"\0")
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


class Drain:
    """One availableNow drain and its results."""

    def __init__(self, query, sink, start_ms: float, end_ms: float, retries: int):
        self.sink = sink
        self.start_ms, self.end_ms = start_ms, end_ms
        self.retries = retries
        self.progress = batches(query)

    @property
    def wall_s(self) -> float:
        return (self.end_ms - self.start_ms) / 1000

    def sink_files(self) -> tuple[int, int]:
        n = size = 0
        for d, _, names in os.walk(self.sink.out_dir):
            for name in names:
                if name.endswith(".parquet"):
                    n += 1
                    size += os.path.getsize(os.path.join(d, name))
        return n, size


class Run:
    """State of one measured process: one workload at one ``master``."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool,
                 work: str, master: str):
        self.workload, self.seed, self.seconds, self.trace = (
            workload, seed, seconds, trace)
        self.master = master
        self.cache = os.path.join(work, "inputs")
        self.scratch = os.path.join(work, "run", f"{workload}-{os.getpid()}")
        self.spark = None
        self.sampler = ProcSampler()
        self.tracer = Tracer()
        self.attempted = self.failed = 0
        self.problems: list[str] = []
        self.e2e: dict[str, float] = {}
        self.layers: dict[str, float] = dict.fromkeys(PER_LAYER, 0)
        self._n = 0
        self.digest = code_digest(os.path.dirname(os.path.abspath(work)))

    # -- session and set-up ------------------------------------------------
    def setup(self) -> None:
        """``setup_s``: process start (JVM launch, ``get_spark`` with its
        warm-up) plus one warm-up drain of the workload's own pipeline."""
        from dataflow_mm_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            f"perfbench-{self.workload}", master=self.master,
            extra_conf={"spark.ui.showConsoleProgress": "false"},
        )
        self.layers["session.get_spark_s"] = time.perf_counter() - t0
        ready = process_age_s()
        warm = self._warm_input()
        t0 = time.perf_counter()
        self.drain(warm, 1, count=False)
        self.e2e["setup_s"] = ready + time.perf_counter() - t0
        log(f"set-up {self.e2e['setup_s']:.2f} s")

    def _warm_input(self):
        return inputs.load(self.cache, 0, **WARMUP)

    def _pipeline(self):
        from dataflow_mm_spark.streaming import jobs

        return jobs.cep_pipeline if self.workload == "cep_drain" else jobs.turns_pipeline

    def _dirs(self) -> tuple[str, str]:
        self._n += 1
        d = os.path.join(self.scratch, f"drain{self._n}")
        return os.path.join(d, "out"), os.path.join(d, "ck")

    # -- drains -----------------------------------------------------------
    def drain(self, inp, max_files: int, count: bool = True) -> Drain:
        from dataflow_mm_spark.streaming.jobs import drain_resumable

        pipeline = self._pipeline()
        out, ck = self._dirs()
        started = []

        def start():
            q, sink = pipeline(self.spark, inp.path, out, ck,
                               max_files_per_trigger=max_files)
            started.append(q)
            return q, sink

        t0 = time.time() * 1000
        try:
            sink = drain_resumable(start, attempts=2, timeout_s=DRAIN_TIMEOUT_S)
        except Exception:
            if count:
                self.attempted += 1
                self.failed += 1
            raise
        d = Drain(started[-1], sink, t0, time.time() * 1000, len(started) - 1)
        if count:
            self.attempted += 1
            if d.retries:
                self.failed += 1
                self.problems.append(f"drain retried {d.retries}x")
        return d

    def drain_section(self, inp, plan: list[bool]) -> list[tuple[bool, Drain, dict]]:
        """One drain per ``plan`` entry (True: traced), then more untraced
        drains while an untraced run has drained for less than ``seconds``.
        Returns (traced, drain, /proc figures) per drain."""
        out: list[tuple[bool, Drain, dict]] = []
        plan = list(plan)
        while plan or (not self.trace
                       and sum(d.wall_s for _, d, _ in out) < self.seconds):
            traced = plan.pop(0) if plan else False
            self.sampler.start()
            if traced:
                sid = self.tracer.begin("drain")
                with self.tracer.wrap_sink():
                    d = self.drain(inp, MAX_FILES)
                self.tracer.end(sid, input_rows=inp.rows)
                self._link(sid, d)
            else:
                d = self.drain(inp, MAX_FILES)
            out.append((traced, d, self.sampler.stop()))
            log(f"drain {d.wall_s:.2f} s, {len(d.progress)} batches, traced={traced}")
        return out

    def _link(self, drain_sid: int, d: Drain) -> None:
        ids = self.tracer.add_batches(drain_sid, d.progress)
        self.tracer.link_sink_calls(
            {(d.sink.out_dir, rec["batchId"]): i for rec, i in zip(d.progress, ids)}
        )

    # -- correctness ------------------------------------------------------
    def committed(self, d: Drain):
        """The drain's committed rows, in the batch form's shape."""
        got = d.sink.read_committed(self.spark)
        if self.workload == "cep_drain":
            got = got.filter(
                (F.col("conv_id") != inputs.SENTINEL_CONV) & F.col("kind").isin(*CEP_KINDS)
            ).select("conv_id", F.col("turn_idx").cast("long").alias("turn_idx"), "kind")
        cols = [c for c in got.columns if not c.startswith("_")]
        return got.select(*cols), cols

    def expected(self, inp) -> dict:
        """Columns and value hash of the batch form over ``inp``. Computed
        after the timed section and cached with the input, per digest of
        the code, so later runs and the ``local[1]`` process reuse it."""
        if not inputs.has_expected(inp, self.workload, self.digest):
            inputs.save_expected(inp, self.workload, self.digest,
                                 expected_hash(self.spark, inp, self.workload))
        return inputs.load_expected(inp, self.workload, self.digest)

    def check(self, d: Drain, inp) -> None:
        """No duplicate keys, manifest rows == committed rows, and the value
        hash equals the batch form's."""
        problems = []
        got, cols = self.committed(d)
        n, keys, h = value_hash(got, cols)
        if keys != n:
            problems.append(f"{n - keys} duplicate keys")
        manifest_rows = sum(m["rows"] for m in d.sink.manifests(self.spark).values())
        if manifest_rows != d.sink.read_committed(self.spark).count():
            problems.append("manifest rows != committed rows")
        exp = self.expected(inp)
        if cols != exp["cols"]:
            problems.append(f"columns {cols} differ from batch form {exp['cols']}")
        elif [n, keys, h] != exp["hash"]:
            problems.append(f"value hash differs from batch form ({n} rows)")
        if problems:
            self.failed += 1
            self.problems.extend(problems)

    # -- metrics ----------------------------------------------------------
    def section_layers(self, drains: list[Drain], procs: list[dict],
                       replays: int) -> dict:
        """Per-layer numbers of measured drains: per-drain sums and /proc
        figures, median over the drains."""
        per = [layer_totals(d.progress) | p for d, p in zip(drains, procs)]
        out = {k: statistics.median(p[k] for p in per) for k in per[0]}
        if self.workload != "cep_drain":
            # dedup output rows are the rows quality observes
            out["dedup.removed_ratio"] = (
                out["source.input_rows"] - out["quality.turns_in"]) / replays
            out["quality.kept_ratio"] = out["quality.turns_kept"] / out["quality.turns_in"]
        rows = [sum(m["rows"] for m in d.sink.manifests(self.spark).values())
                for d in drains]
        files = [d.sink_files() for d in drains]
        out["sink.rows"] = statistics.median(rows)
        out["sink.files"] = statistics.median(f[0] for f in files)
        out["sink.bytes"] = statistics.median(f[1] for f in files)
        if self.workload == "cep_drain":
            out["cep.events_out"] = out["sink.rows"]
        calls = self.tracer.sink_calls()
        if calls:
            out["sink.foreach_batch_ms"] = (
                sum(c["end_ms"] - c["start_ms"] for c in calls) / len(drains))
        return out

    def check_layers(self, lay: dict, traced: bool) -> None:
        """Honest-input invariants: nothing late, every replay removed; in
        a traced section, the trigger's parts add up to its wall time."""
        if traced and lay["jobs.reconcile_err"] > 0.10:
            self.problems.append(f"jobs.reconcile_err = {lay['jobs.reconcile_err']}")
            self.failed += 1
        for k in ("dedup.late_dropped_rows", "cep.late_dropped_rows"):
            if lay.get(k):
                self.problems.append(f"{k} = {lay[k]}")
                self.failed += 1
        if self.workload != "cep_drain" and lay.get("dedup.removed_ratio") != 1:
            self.problems.append(f"dedup.removed_ratio = {lay.get('dedup.removed_ratio')}")
            self.failed += 1

    def batch_floor(self, lay: dict, drains: list[Drain]) -> None:
        """Drain the warm-up input again, one file (a few hundred rows) per
        micro-batch: its median addBatch is the per-batch floor.
        ``jobs.per_row_share`` is the share of the drain wall time spent in
        addBatch beyond that floor, i.e. the work that grows with rows."""
        d = self.drain(self._warm_input(), 1, count=False)
        floor = statistics.median(r["durationMs"]["addBatch"] for r in d.progress)
        wall_ms = statistics.median(x.wall_s for x in drains) * 1000
        lay["jobs.add_batch_floor_ms"] = floor
        lay["jobs.per_row_share"] = (
            lay["jobs.add_batch_ms"] - lay["jobs.batches"] * floor) / wall_ms

    # -- workload ---------------------------------------------------------
    def drain_workload(self) -> None:
        inp = inputs.load(self.cache, self.seed, **DRAIN_INPUT)
        log(f"input {inp.rows} rows")
        plan = [False]
        if self.trace:
            # traced first, so the per-layer numbers describe the same
            # drain an untraced run times (the first after set-up). The JVM
            # is still warming up then, so trace.overhead_ratio, against
            # the second drain, is an upper bound.
            plan = [True, False]
        runs = self.drain_section(inp, plan)
        untraced = [(d, p) for t, d, p in runs if not t]
        traced = [(d, p) for t, d, p in runs if t]
        self.e2e["turns_per_s"] = statistics.median(inp.rows / d.wall_s for d, _ in untraced)
        self.e2e["peak_rss_mb"] = max(p["peak_rss_mb"] for _, p in untraced)
        measured = traced or untraced
        lay = self.section_layers([d for d, _ in measured], [p for _, p in measured],
                                  inp.replays)
        if self.trace:
            tps = statistics.median(inp.rows / d.wall_s for d, _ in traced)
            self.e2e["traced_turns_per_s"] = tps
            lay["trace.overhead_ratio"] = self.e2e["turns_per_s"] / tps - 1
            self.batch_floor(lay, [d for d, _ in measured])
            if self.workload == "turns_drain":
                self.kernel_pass(inp)
        self.layers.update(lay)
        # checks last: a run that finds the batch form's hash cached and one
        # that computes it differ only from here on
        for _, d, _ in runs:
            self.check(d, inp)
        self.check_layers(lay, bool(traced))
        log("checked")

    def kernel_pass(self, inp) -> None:
        """Batch noop pass of ``jobs.enrich_turns`` over the same input,
        code generation for the batch plan included."""
        from dataflow_mm_spark.schema import TRANSCRIPT_SCHEMA
        from dataflow_mm_spark.streaming.jobs import enrich_turns

        df = enrich_turns(self.spark.read.schema(TRANSCRIPT_SCHEMA).parquet(inp.path))
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        self.layers["quality.kernel_turns_per_s"] = inp.rows / (time.perf_counter() - t0)

    def run(self) -> None:
        root = self.tracer.begin("workload", workload=self.workload, seed=self.seed)
        self.tracer.parent = root
        self.setup()
        self.drain_workload()
        self.tracer.end(root)
        self.layers["failed_ratio"] = self.failed / max(1, self.attempted)

    def close(self) -> None:
        shutil.rmtree(self.scratch, ignore_errors=True)


WORKLOADS = ("turns_drain", "cep_drain")
