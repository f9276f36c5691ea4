"""SparkSession factory used by tests, bench, and the driver entry.

local[N] in this sandbox stands in for an N-executor cluster; the code
never assumes single-JVM (no driver-side collects in the hot path, all
partitioning expressed via DataFrame ops), so the same plans run under
spark-submit on a real cluster.

Python workers start from ``tangent_spark._daemon`` instead of
``pyspark.daemon`` (``spark.python.daemon.module``). The stock worker
calls ``importlib.invalidate_caches()`` before every task, and on
CPython 3.11 that re-reads ``pyspark.zip``'s whole directory once per
cached importer, ~230 ms of every Python task; the daemon re-reads an
archive only when its stat changed. It is set for the local master
only: the daemon is imported before any task runs, and a cluster
executor gets the package only through ``--py-files``, which
``setup_spark_files`` adds per task. A daemon module an executor cannot
import would fail every Python task, so clusters keep ``pyspark.daemon``.
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import SparkSession

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """Driver heap when $SPARK_GRAFT_DRIVER_MEM is unset: 48g, capped at
    40% of the host's MemTotal. In local mode the driver JVM also runs
    every task, next to the Python workers, so a heap sized past
    physical memory gets the process OOM-killed instead of collected."""
    cap_mb = 48 * 1024
    try:
        with open(meminfo) as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    cap_mb = min(cap_mb, int(line.split()[1]) * 2 // 5 // 1024)
                    break
    except (OSError, ValueError, IndexError):
        pass  # no /proc/meminfo (non-Linux host): keep the 48g default
    return f"{max(cap_mb, 1024)}m"


def get_spark(
    app: str = "tangent_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Create (or reuse) a SparkSession.

    cpus: parallelism level — local[cpus]; defaults to $SPARK_GRAFT_CPUS or 32.
    Shuffle partitions default to the same value (local rule of thumb:
    ~cores, not the 200 default).

    $SPARK_GRAFT_MASTER (e.g. spark://host:7077) switches to a real
    multi-executor cluster: cpus becomes spark.cores.max (the app's
    total core allowance across executor JVMs), with per-executor
    cores/memory from $SPARK_GRAFT_EXECUTOR_CORES/_MEM. This is the
    spark-submit path the north_rule describes; scripts/run_cluster.py
    drives it against a localhost standalone cluster.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    cluster_master = os.environ.get("SPARK_GRAFT_MASTER")

    # Make the package importable inside Python UDF worker processes.
    if _REPO_ROOT not in sys.path:
        sys.path.insert(0, _REPO_ROOT)
    pp = os.environ.get("PYTHONPATH", "")
    if _REPO_ROOT not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            _REPO_ROOT + (os.pathsep + pp if pp else "")
        )

    builder = (
        SparkSession.builder.master(cluster_master or f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        # 32m scan splits (default 128m): the build's parse/tokenize
        # stages are CPU-bound pandas UDFs, so scans need enough splits
        # to feed every core and absorb stragglers WITHOUT the
        # round-robin repartition fallback (a full shuffle of the text
        # corpus — see functions/util.ensure_parallelism). At cluster
        # scale this is the standard parse-stage tuning; row-group
        # bounds still apply.
        .config("spark.sql.files.maxPartitionBytes", "33554432")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
    )
    if cluster_master:
        builder = (
            builder.config("spark.cores.max", str(cpus))
            .config("spark.executor.cores",
                    os.environ.get("SPARK_GRAFT_EXECUTOR_CORES", "1"))
            .config("spark.executor.memory",
                    os.environ.get("SPARK_GRAFT_EXECUTOR_MEM", "6g"))
        )
    else:
        builder = builder.config("spark.python.daemon.module", "tangent_spark._daemon")
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, str(v))
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
