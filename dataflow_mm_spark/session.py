"""SparkSession factory with scale-oriented defaults.

Defaults are tuned for correctness-at-scale first:
* AQE on (runtime re-plan, skew-join splitting, partition coalescing);
* Arrow on for every pandas-UDF exchange;
* session timezone pinned to UTC so event-time semantics are stable and
  DuckDB-oracle comparisons are reproducible;
* the master spark-submit set, else ``local[$SPARK_GRAFT_CPUS]``;
* shuffle partitions = the master's core count (one task wave per stateful
  stage) unless given explicitly or by spark-submit;
* on local masters, Python workers start from ``worker_daemon`` (no per-task
  re-read of Spark's Python archives).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession


def _cores_of(master: str) -> int:
    if master == "local":
        return 1
    m = re.match(r"local\[(\d+|\*)\]", master)
    if not m:
        return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if m.group(1) == "*":
        return os.cpu_count() or 8
    return int(m.group(1))


def _submitted_conf() -> dict[str, str]:
    """The ``spark.*`` settings of a driver JVM that spark-submit started
    before this process; empty when this process launches its own JVM."""
    if "PYSPARK_GATEWAY_PORT" not in os.environ:
        return {}
    from pyspark import SparkConf, SparkContext

    SparkContext._ensure_initialized()
    return dict(SparkConf().getAll())


_PYTHONPATH = "spark.executorEnv.PYTHONPATH"


def _worker_daemon_conf(master: str, pythonpath: str | None) -> dict[str, str]:
    """Settings that start Python workers from ``worker_daemon``; empty for
    non-local masters, whose executors do not share this host's paths.

    The daemon is imported before any task ships ``--py-files``, so the
    package's own import root (its checkout directory, or the zip it was
    imported from) goes first on the workers' ``PYTHONPATH``, ahead of
    ``pythonpath`` (the one the caller already set)."""
    if not re.fullmatch(r"local(\[.*\])?", master):
        return {}
    import dataflow_mm_spark

    root = os.path.dirname(
        os.path.dirname(os.path.abspath(dataflow_mm_spark.__file__))
    )
    paths = [root] + [
        p for p in (pythonpath or "").split(os.pathsep) if p and p != root
    ]
    return {
        "spark.python.daemon.module": "dataflow_mm_spark.worker_daemon",
        _PYTHONPATH: os.pathsep.join(paths),
    }


def get_spark(
    app_name: str = "dataflow-mm-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    submitted = _submitted_conf()
    master = (
        master
        or submitted.get("spark.master")
        or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    )
    cores = _cores_of(master)
    if shuffle_partitions is None:
        # one task wave: every stateful micro-batch stage runs one Python
        # worker round (and one state-store commit) per core, not two.
        # AQE coalesces batch shuffles anyway; a real multi-executor cluster
        # would size this 2-3x total cores through spark-submit.
        shuffle_partitions = int(
            submitted.get("spark.sql.shuffle.partitions", cores)
        )
    extra_conf = extra_conf or {}
    daemon = _worker_daemon_conf(
        master, extra_conf.get(_PYTHONPATH, submitted.get(_PYTHONPATH))
    )
    # the caller may pick another daemon module; PYTHONPATH is merged
    conf = {**daemon, **extra_conf}
    if daemon:
        conf[_PYTHONPATH] = daemon[_PYTHONPATH]

    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # 128MB input splits: at 100TB that is ~800k tasks, fine for a
        # 1000-executor cluster; local tests override nothing.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        # throughput-oriented collector: G1's concurrent cycles inflate
        # state-store commit times 3-10x under wide executors (measured
        # 2026-08-17 on the 13.7M-turn enrich+dedup stream: local[32]
        # sustained 196-303k t/s on G1 with 75-236s total commit, 401-459k
        # t/s on ParallelGC with 34-52s — and run-to-run variance collapsed).
        # ETL/streaming workloads have no latency SLO on the driver, so the
        # stop-the-world throughput collector is the right default; override
        # via extra_conf or SPARK_GRAFT_GC_OPTS.
        .config("spark.driver.extraJavaOptions",
                os.environ.get("SPARK_GRAFT_GC_OPTS", "-XX:+UseParallelGC"))
        # local mode folds executors into the driver JVM; on a real cluster
        # the executor flag is the one that matters
        .config("spark.executor.extraJavaOptions",
                os.environ.get("SPARK_GRAFT_GC_OPTS", "-XX:+UseParallelGC"))
        .config("spark.ui.enabled", "false")
        # Spark 4.1 writes a checksum sidecar for every checkpoint file and
        # BLOCKS each state-store delta close on the async checksum future
        # (thread dumps r6: all 32 task threads parked in
        # ChecksumCancellableFSDataOutputStream.close -> awaitResult inside
        # finalizeDeltaFile; ~0.3-0.7s of summed commit time per partition
        # per batch).  Local/HDFS checkpoints already carry
        # filesystem-level CRCs (ChecksumFileSystem .crc sidecars / HDFS
        # block checksums) — the Spark-level layer targets object stores
        # without native checksums.  Disabling it lifted the sustained
        # enrich+dedup stream 86.7k -> 100.6k turns/s (A/B r6).  Override
        # via extra_conf for object-store deployments.
        .config("spark.sql.streaming.checkpoint.fileChecksum.enabled",
                "false")
        # in-memory provider: right while state fits the heap; use
        # state_store_conf(est_keys, ...) via extra_conf to flip to RocksDB
        # past the measured crossover (BENCH.md §5)
        .config("spark.sql.streaming.stateStore.providerClass", HDFS_PROVIDER)
    )
    for k, v in conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # builder.config only reaches a FRESH driver JVM — with getOrCreate reuse
    # or spark-submit-supplied opts the ParallelGC default is silently
    # ignored, which invalidates streaming-state benchmarks (CLAUDE.md).
    # Detect that: read the ACTUAL collector and warn if it isn't Parallel.
    gc_names = runtime_gc(spark)
    if gc_names and not any(n.startswith("PS ") for n in gc_names):
        import warnings

        warnings.warn(
            f"driver JVM is running GC {gc_names} — the ParallelGC default "
            "did not take effect (pre-existing JVM?); streaming-state "
            "benchmark numbers from this session are not comparable",
            RuntimeWarning,
            stacklevel=2,
        )
    if (
        os.environ.get("SPARK_GRAFT_WARM", "1") != "0"
        and spark.conf.get("spark.dataflow_mm.warmed", None) is None
    ):
        _warm_session(spark)
        spark.conf.set("spark.dataflow_mm.warmed", "true")
    return spark


def _warm_session(spark: SparkSession) -> None:
    """One-time session warmup: compile the whole-stage-codegen, noop-sink,
    parquet writer/reader and hash-aggregate code paths on throwaway data so
    the FIRST real query does not absorb JVM/janino initialization
    (measured r6: the first registry query over parquet pays ~3.5 s of
    pure warmup at local[32]; after this warmup it runs at its steady
    ~0.5-1.3 s).  Standard practice for a long-lived session factory —
    no user data or query results are involved.  Skippable via
    SPARK_GRAFT_WARM=0 (e.g. for session-startup micro-benchmarks)."""
    import shutil
    import tempfile

    try:
        spark.range(100_000).selectExpr(
            "sum(id) a", "count(distinct id % 7) b"
        ).write.format("noop").mode("overwrite").save()
        # spawn + warm the reused Python workers (numpy/pandas import costs
        # ~1-2 s per worker, otherwise absorbed by the first pandas-UDF
        # query of the session — measured r6: first mapInPandas query
        # 5.9 s cold vs 4.6 s after this 1.8 s one-time pass)
        import pandas as _pd

        def _gen(it):
            import numpy as _np

            for pdf in it:
                yield _pd.DataFrame({"x": _np.asarray(pdf["id"]) * 2})

        spark.range(
            100 * spark.sparkContext.defaultParallelism,
            numPartitions=spark.sparkContext.defaultParallelism,
        ).mapInPandas(_gen, "x long").write.format("noop").mode(
            "overwrite"
        ).save()
        d = tempfile.mkdtemp(prefix="dfmm_warm_")
        try:
            spark.range(10_000).selectExpr(
                "id", "cast(id as double) x", "cast(id as string) s"
            ).write.mode("overwrite").parquet(d)
            spark.read.parquet(d).selectExpr(
                "sum(x) a", "count(distinct s) b"
            ).write.format("noop").mode("overwrite").save()
        finally:
            shutil.rmtree(d, ignore_errors=True)
    except Exception:  # noqa: BLE001 — warmup must never fail the session
        pass


HDFS_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
)
ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def state_store_conf(
    est_keys: int,
    executors: int = 1,
    heap_bytes: int = 8 << 30,
    bytes_per_key: int = 150,
) -> dict[str, str]:
    """Pick the state-store provider from the MEASURED crossover
    (BENCH.md §5, r3): the in-memory HDFS-backed provider wins while
    per-executor state fits comfortably in the heap (13.7M dedup keys in 8g:
    HDFS 303k vs RocksDB 196k t/s), and collapses once it does not — at 30M
    keys RocksDB@8g (180k) beats HDFS even with 28g (109k), because the
    versioned in-heap maps turn the throughput collector into full-GC churn.

    Decision rule (conservative fit of both measured regimes): RocksDB when
    per-executor keys exceed 16M OR raw state bytes exceed ~30% of the
    executor heap; HDFS otherwise. Pass the result as ``extra_conf`` to
    :func:`get_spark` — per-query override stays one config line."""
    per_exec = est_keys / max(1, executors)
    if per_exec > 16_000_000 or per_exec * bytes_per_key > 0.30 * heap_bytes:
        provider = ROCKSDB_PROVIDER
    else:
        provider = HDFS_PROVIDER
    return {"spark.sql.streaming.stateStore.providerClass": provider}


def runtime_gc(spark: SparkSession) -> list[str]:
    """Names of the garbage collectors ACTUALLY running in the driver JVM
    (GarbageCollectorMXBean) — ParallelGC reports 'PS Scavenge'/'PS MarkSweep',
    G1 reports 'G1 Young Generation'/'G1 Old Generation'. Bench harnesses
    record this so a silently-ignored GC flag is detectable in the output."""
    try:
        jvm = spark.sparkContext._jvm
        beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return [beans.get(i).getName() for i in range(beans.size())]
    except Exception:  # no py4j gateway (spark-connect) — best-effort probe
        return []
