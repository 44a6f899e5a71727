"""Benchmark entry point.

    python3 perfbench/run.py --workload turns_drain --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. This process starts no JVM itself;
it runs, one after another and each in a process of its own:

1. ``--role prepare`` (only if the inputs for ``--seed`` are not cached
   yet): generates the stream inputs, so the measured process does the same
   work before and during its timed section whether the cache hits or not;
2. ``--role measure``: the workload, one driver JVM at ``local[<cores>]``;
3. with ``--trace 1`` on ``turns_drain`` only: ``--role measure`` again at
   ``local[1]``, with its own set-up and warm-up, for the parallel speedup.

Every file a run writes stays under ``.perfbench_work/`` in the checkout.
The last stdout line is one JSON object ``{"correct", "attempted",
"failed", "metrics"}``: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``. The full record (both metric sets,
set-up times, provenance) goes to ``.perfbench_work/results/``; a traced
run also writes its spans and a per-layer table there.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import subprocess
import sys
import tempfile
import time
import traceback

# a run must end within 180 s; children are killed past this
RUN_TIMEOUT_S = 175


def _prepare_env(root: str, work: str) -> None:
    """Keep every file the run writes inside ``work`` and let Python
    workers import the package from the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    os.environ["SPARK_GRAFT_GC_OPTS"] = (
        f"-XX:+UseParallelGC -Xms2g -XX:-UsePerfData -Djava.io.tmpdir={tmp}")
    sys.path.insert(0, root)


def _provenance(spark) -> dict:
    from dataflow_mm_spark.session import runtime_gc

    from perfbench.workloads import cores

    return {
        "nproc": cores(),
        "spark": spark.version,
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        "python": sys.version.split()[0],
        "runtime_gc": runtime_gc(spark),
    }


def _stop_jvm() -> None:
    """Stop the session and the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:  # never leave the JVM behind
            proc.kill()
            proc.wait()


# -- child processes --------------------------------------------------------
def prepare(args, work: str) -> None:
    """Generate the inputs ``--seed`` needs (no warm-up: nothing is timed)."""
    from perfbench import inputs
    from perfbench.workloads import cores

    os.environ["SPARK_GRAFT_WARM"] = "0"
    from dataflow_mm_spark.session import get_spark

    spark = get_spark("perfbench-inputs", master=f"local[{cores()}]",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    try:
        for seed, size in _inputs_of(args.seed):
            if not inputs.cached(os.path.join(work, "inputs"), seed, **size):
                inputs.build(spark, os.path.join(work, "inputs"), seed, **size)
    finally:
        _stop_jvm()


def _inputs_of(seed: int):
    from perfbench.workloads import DRAIN_INPUT, WARMUP

    return [(0, WARMUP), (seed, DRAIN_INPUT)]


def measure(args, work: str) -> None:
    """Run the workload in this process and write its record to ``--out``."""
    from perfbench.workloads import Run

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), work,
              args.master)
    try:
        run.run()
        prov = _provenance(run.spark)
    finally:
        try:
            _stop_jvm()
        finally:
            run.close()
    with open(args.out, "w") as f:
        json.dump({
            "master": args.master, "provenance": prov,
            "end_to_end": run.e2e, "per_layer": run.layers,
            "problems": run.problems, "attempted": run.attempted,
            "failed": run.failed, "spans": run.tracer.spans,
        }, f)


# -- orchestration ----------------------------------------------------------
def _group_alive(pgid: int) -> list[int]:
    alive = []
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[2]) == pgid and fields[0] != "Z":
                alive.append(int(name))
    return alive


def _reap_group(pgid: int) -> None:
    """Kill whatever is left of a child's process group (the JVM, Python
    workers) and wait until it is gone."""
    deadline = time.time() + 30
    while _group_alive(pgid) and time.time() < deadline:
        try:
            os.killpg(pgid, signal.SIGKILL)
        except ProcessLookupError:
            break
        time.sleep(0.1)


def _child(root: str, role_args: list[str], deadline: float, **env: str) -> None:
    p = subprocess.Popen([sys.executable, os.path.abspath(__file__), *role_args],
                         cwd=root, start_new_session=True, env=os.environ | env)
    try:
        rc = p.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        rc = None
        p.kill()
        p.wait()
    finally:
        _reap_group(p.pid)
    if rc != 0:
        raise RuntimeError(f"{role_args[:2]} {'timed out' if rc is None else f'exited {rc}'}")


def _layer_table(layers: dict, units: dict) -> str:
    lines = ["| layer metric | value | unit |", "| --- | --- | --- |"]
    lines += [f"| {k} | {v:.6g} | {units.get(k, '')} |" for k, v in layers.items()]
    return "\n".join(lines) + "\n"


def orchestrate(args, root: str, work: str) -> int:
    from perfbench import inputs
    from perfbench.workloads import END_TO_END, PER_LAYER, WORKLOADS, cores

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload}; one of {WORKLOADS}",
              file=sys.stderr)
        return 2
    deadline = time.time() + RUN_TIMEOUT_S
    common = ["--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds)]
    cache = os.path.join(work, "inputs")
    if not all(inputs.cached(cache, s, **size) for s, size in _inputs_of(args.seed)):
        _child(root, ["--role", "prepare", *common], deadline)

    name = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    results = os.path.join(work, "results")
    os.makedirs(results, exist_ok=True)
    part = os.path.join(results, name + ".part.json")
    _child(root, ["--role", "measure", *common, "--trace", str(args.trace),
                  "--master", f"local[{cores()}]", "--out", part], deadline)
    with open(part) as f:
        rec = json.load(f)
    os.remove(part)
    spans = rec.pop("spans")
    if args.trace and args.workload == "turns_drain":
        # one drain at local[1], in its own process, checked against the
        # batch form the run above cached. The speedup compares
        # it with the traced drain: both are the first drain after a
        # warm-up drain. get_spark's own session warm-up (about 10 s) is
        # skipped there so that a traced run stays well inside its time
        # limit.
        _child(root, ["--role", "measure", *common[:4], "--seconds", "0",
                      "--trace", "0", "--master", "local[1]", "--out", part],
               deadline, SPARK_GRAFT_WARM="0")
        with open(part) as f:
            one = json.load(f)
        os.remove(part)
        tps1 = one["end_to_end"]["turns_per_s"]
        rec["per_layer"]["jobs.local1_turns_per_s"] = tps1
        rec["per_layer"]["jobs.parallel_speedup"] = (
            rec["end_to_end"]["traced_turns_per_s"] / tps1)
        rec["local1"] = {k: one[k] for k in ("provenance", "end_to_end", "problems")}
        rec["problems"] += one["problems"]
        rec["attempted"] += one["attempted"]
        rec["failed"] += one["failed"]
        rec["per_layer"]["failed_ratio"] = rec["failed"] / max(1, rec["attempted"])

    rec.update(workload=args.workload, seed=args.seed, seconds=args.seconds)
    with open(os.path.join(results, name + ".json"), "w") as f:
        json.dump(rec, f, indent=1)
    layers = rec["per_layer"]
    if args.trace:
        with open(os.path.join(results, name + "-spans.json"), "w") as f:
            json.dump(spans, f)
        table = _layer_table(layers, PER_LAYER)
        with open(os.path.join(results, name + "-layers.md"), "w") as f:
            f.write(table)
        print(table)
    units = PER_LAYER if args.trace else END_TO_END
    shown = layers if args.trace else rec["end_to_end"]
    for p in rec["problems"]:
        print(f"perfbench: FAILED CHECK {p}", file=sys.stderr)
    print(json.dumps({
        "correct": not rec["problems"],
        "attempted": rec["attempted"],
        "failed": rec["failed"],
        "metrics": {k: {"value": shown[k], "unit": u} for k, u in units.items()},
    }))
    return 0


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--role", choices=("prepare", "measure"), help=argparse.SUPPRESS)
    ap.add_argument("--master", help=argparse.SUPPRESS)
    ap.add_argument("--out", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "dataflow_mm_spark", "streaming", "jobs.py")):
        print("perfbench: run from the root of a dataflow_mm_spark checkout",
              file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench_work")
    _prepare_env(root, work)
    if args.role == "prepare":
        prepare(args, work)
        return 0
    if args.role == "measure":
        measure(args, work)
        return 0
    return orchestrate(args, root, work)


if __name__ == "__main__":
    try:
        sys.exit(main(sys.argv[1:]))
    except Exception:  # noqa: BLE001 — report, exit non-zero, print no result
        traceback.print_exc()
        sys.exit(1)
