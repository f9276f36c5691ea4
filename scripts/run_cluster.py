#!/usr/bin/env python
"""REAL multi-executor scaling evidence: a localhost Spark STANDALONE
cluster (master + 8 single-core worker JVMs), the engine submitted via
`spark-submit --py-files` — the exact invocation the north_rule
describes — at N=2 and 4N=8 executors (spark.cores.max caps the app).

Unlike local[N] (one shared JVM), every executor here is its own JVM
with its own heap/GC, talking to the driver over loopback RPC:
serialization, shuffle-file exchange, and broadcast all take the real
cluster code path.

Usage:
    python scripts/run_cluster.py            # bring-up + both levels + report
    CLUSTER_LEVELS=2 CLUSTER_REPEATS=1 python scripts/run_cluster.py   # one level, 2 workers
    SCALING_PAGES=/tmp/scaling_v4/pages python scripts/run_cluster.py

Each run works in its own temporary directory (logs, worker dirs, the
package zip and the per-submit results; under CLUSTER_WORK_DIR when
set) and reports only the results it wrote there. The master and worker
JVMs it starts are stopped when it exits; a master or workers already
running are reused and left running. The directory is removed after a
successful run and kept, with its path printed, after a failed one.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import signal
import subprocess
import sys
import tempfile
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

import pyspark  # noqa: E402

from tangent_spark.session import default_driver_memory  # noqa: E402

SPARK_HOME = os.path.dirname(os.path.abspath(pyspark.__file__))
MASTER_URL = "spark://127.0.0.1:7077"
PAGES = os.environ.get("SCALING_PAGES", "/tmp/scaling_v4/pages")
WORK_PARENT = os.environ.get("CLUSTER_WORK_DIR")  # None: the system temp dir
LEVELS = tuple(int(x) for x in os.environ.get("CLUSTER_LEVELS", "2,8").split(","))
N_WORKERS = max(LEVELS)  # 1-core executors: one worker JVM per core of the widest level
REPEATS = int(os.environ.get("CLUSTER_REPEATS", "2"))
BRINGUP_S = 120  # one deadline for the master and every started worker


def memory_plan(n_workers: int) -> tuple[str, str]:
    """(driver heap, heap of each worker and of its executor): the
    driver takes session.default_driver_memory() — 40% of MemTotal,
    capped at 48g — and the workers split the same share, so the JVMs
    one run starts fit the host together."""
    driver = default_driver_memory()
    share_mb = int(driver.rstrip("m"))
    return driver, f"{max(share_mb // n_workers, 512)}m"


def _spawn(args, log):
    with open(log, "w") as f:
        return subprocess.Popen(
            args, stdout=f, stderr=subprocess.STDOUT, start_new_session=True,
        )


def stop(procs: list[subprocess.Popen]) -> None:
    """SIGTERM each process group this run started, SIGKILL stragglers."""
    for p in procs:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGTERM)
    deadline = time.monotonic() + 30
    for p in procs:
        try:
            p.wait(timeout=max(0.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def _await_line(proc: subprocess.Popen, log: str, marker: str, deadline: float) -> None:
    """Return once `log` holds `marker`; raise if `proc` exits first or
    the deadline passes."""
    while True:
        with open(log, errors="replace") as f:
            if marker in f.read():
                return
        if time.monotonic() > deadline:
            raise RuntimeError(f"cluster bring-up timed out: no {marker!r} in {log}")
        try:
            proc.wait(timeout=0.2)
        except subprocess.TimeoutExpired:
            continue
        raise RuntimeError(f"{log}: process exited before logging {marker!r}")


def ensure_cluster(work: str, procs: list[subprocess.Popen]) -> None:
    """Start whatever part of the cluster is not running yet, appending
    each started process to `procs`, and wait until the started master
    is ALIVE and every started worker has registered with the master."""
    def running(main_class):
        # the command line must START with a java binary: a shell whose
        # own command line merely names the class is not a JVM
        pattern = rf"^\S*java .*{re.escape(main_class)}( |$)"
        return int(subprocess.run(
            ["pgrep", "-fc", pattern], capture_output=True, text=True
        ).stdout.strip() or "0")

    cls = os.path.join(SPARK_HOME, "bin", "spark-class")
    deadline = time.monotonic() + BRINGUP_S
    if not running("org.apache.spark.deploy.master.Master"):
        log = os.path.join(work, "master.log")
        procs.append(_spawn(
            [cls, "org.apache.spark.deploy.master.Master",
             "--host", "127.0.0.1", "--port", "7077", "--webui-port", "8080"],
            log,
        ))
        _await_line(procs[-1], log, "New state: ALIVE", deadline)
    _, worker_mem = memory_plan(N_WORKERS)
    started = []
    n_workers = running("org.apache.spark.deploy.worker.Worker")
    for i in range(n_workers, N_WORKERS):
        log = os.path.join(work, f"worker_{i}.log")
        procs.append(_spawn(
            [cls, "org.apache.spark.deploy.worker.Worker", MASTER_URL,
             "--cores", "1", "--memory", worker_mem, "--port", "0",
             "--webui-port", str(8200 + i),
             "--work-dir", os.path.join(work, f"w{i}")],
            log,
        ))
        started.append((procs[-1], log))
    for proc, log in started:
        _await_line(proc, log, "Successfully registered with master", deadline)


def submit(cores: int, work: str, out: str) -> None:
    driver_mem, executor_mem = memory_plan(N_WORKERS)
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_MASTER=MASTER_URL,
        SPARK_GRAFT_EXECUTOR_CORES="1",
        SPARK_GRAFT_EXECUTOR_MEM=executor_mem,
    )
    zip_path = os.path.join(work, "tangent_spark.zip")
    subprocess.run(
        ["zip", "-qr", zip_path, "tangent_spark"], cwd=_REPO, check=True
    )
    subprocess.run(
        [os.path.join(SPARK_HOME, "bin", "spark-submit"),
         "--master", MASTER_URL, "--driver-memory", driver_mem,
         "--py-files", zip_path,
         os.path.join(_REPO, "scripts", "scaling_bench.py"),
         "--cpus", str(cores), "--pages", PAGES, "--out", out],
        check=True, env=env,
    )


def main() -> None:
    if WORK_PARENT:
        os.makedirs(WORK_PARENT, exist_ok=True)
    work = tempfile.mkdtemp(prefix="tangent_cluster_", dir=WORK_PARENT)
    procs: list[subprocess.Popen] = []
    results = []
    try:
        ensure_cluster(work, procs)
        for cores in LEVELS:
            for rep in range(REPEATS):
                out = os.path.join(work, f"c{cores}_{rep}.json")
                submit(cores, work, out)
                with open(out) as f:
                    results.append(json.load(f))
    finally:
        stop(procs)
        if len(results) == len(LEVELS) * REPEATS:
            shutil.rmtree(work, ignore_errors=True)
        else:
            print(f"run_cluster: failed; logs kept in {work}", file=sys.stderr)

    best: dict[int, dict] = {}
    for r in results:
        c = int(r["cpus"])
        if c not in best or r["build_secs"] < best[c]["build_secs"]:
            best[c] = r
    pairs = {}
    for lo, hi in zip(LEVELS, LEVELS[1:]):
        speedup = best[hi]["docs_per_sec"] / best[lo]["docs_per_sec"]
        pairs[f"{lo}->{hi}"] = {"speedup": round(speedup, 2),
                                "efficiency": round(speedup / (hi / lo), 2)}
    print(json.dumps({
        "mode": "standalone cluster, 1-core executor JVMs, spark-submit --py-files",
        "levels": {str(c): best[c] for c in LEVELS},
        "pairs": pairs,
    }, indent=2))


if __name__ == "__main__":
    main()
