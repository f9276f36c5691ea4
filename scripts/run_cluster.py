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
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

import pyspark  # noqa: E402

SPARK_HOME = os.path.dirname(os.path.abspath(pyspark.__file__))
MASTER_URL = "spark://127.0.0.1:7077"
PAGES = os.environ.get("SCALING_PAGES", "/tmp/scaling_v4/pages")
WORK = os.environ.get("CLUSTER_WORK_DIR", "/tmp/cluster_r2")
LEVELS = tuple(int(x) for x in os.environ.get("CLUSTER_LEVELS", "2,8").split(","))
N_WORKERS = max(LEVELS)  # 1-core executors: one worker JVM per core of the widest level
REPEATS = int(os.environ.get("CLUSTER_REPEATS", "2"))


def _spawn(args, log):
    return subprocess.Popen(
        args, stdout=open(log, "w"), stderr=subprocess.STDOUT,
        start_new_session=True,
    )


def ensure_cluster() -> None:
    def up(pattern):
        return subprocess.run(
            ["pgrep", "-fc", pattern], capture_output=True, text=True
        ).stdout.strip() not in ("", "0")

    cls = os.path.join(SPARK_HOME, "bin", "spark-class")
    if not up("deploy.master.Master"):
        _spawn(
            [cls, "org.apache.spark.deploy.master.Master",
             "--host", "127.0.0.1", "--port", "7077", "--webui-port", "8080"],
            "/tmp/spark_master.log",
        )
        time.sleep(10)
    n_workers = int(
        subprocess.run(["pgrep", "-fc", "deploy.worker.Worker"],
                       capture_output=True, text=True).stdout.strip() or "0"
    )
    for i in range(n_workers, N_WORKERS):
        _spawn(
            [cls, "org.apache.spark.deploy.worker.Worker", MASTER_URL,
             "--cores", "1", "--memory", "12g", "--port", "0",
             "--webui-port", str(8200 + i),
             "--work-dir", f"/tmp/spark_workers/w{i}"],
            f"/tmp/spark_worker_{i}.log",
        )
    time.sleep(15)


def submit(cores: int, out: str) -> None:
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_MASTER=MASTER_URL,
        SPARK_GRAFT_EXECUTOR_CORES="1",
        SPARK_GRAFT_EXECUTOR_MEM="6g",
    )
    zip_path = "/tmp/tangent_spark.zip"
    subprocess.run(
        ["zip", "-qr", zip_path, "tangent_spark"], cwd=_REPO, check=True
    )
    subprocess.run(
        [os.path.join(SPARK_HOME, "bin", "spark-submit"),
         "--master", MASTER_URL, "--driver-memory", "16g",
         "--py-files", zip_path,
         os.path.join(_REPO, "scripts", "scaling_bench.py"),
         "--cpus", str(cores), "--pages", PAGES, "--out", out],
        check=True, env=env,
    )


def main() -> None:
    os.makedirs(WORK, exist_ok=True)
    ensure_cluster()
    for cores in LEVELS:
        for _ in range(REPEATS):
            submit(cores, os.path.join(WORK, f"c{cores}_{int(time.time()*1000)}.json"))

    best: dict[int, dict] = {}
    for path in glob.glob(os.path.join(WORK, "c*_*.json")):
        r = json.load(open(path))
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
