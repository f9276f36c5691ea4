"""The Python-worker daemon (tangent_spark._daemon): workers carry the
stat-guarded zipimporter.invalidate_caches, still see archives added
or changed after they started, and the daemon exits with Spark."""

import json
import os
import subprocess
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from tangent_spark import _daemon

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DAEMON_FILE = os.path.join(REPO, "tangent_spark", "_daemon.py")

local_only = pytest.mark.skipif(
    bool(os.environ.get("SPARK_GRAFT_MASTER")),
    reason="get_spark selects the daemon for the local master only",
)


def _write_zip(path: str, module: str, value: str) -> None:
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{module}.py", f"VALUE = {value!r}\n")


def _run_in_worker(spark, fn, schema: str) -> list:
    """Rows of `fn()` (a dict of scalars) computed in a Python worker."""

    def udf(batches):
        for _ in batches:
            yield pd.DataFrame({k: [v] for k, v in fn().items()})

    return spark.range(1, numPartitions=1).mapInPandas(udf, schema).collect()


guarded_only = pytest.mark.skipif(
    not _daemon.supported(),
    reason="the stat guard is written for CPython 3.11's zipimport",
)


@local_only
def test_worker_carries_stat_guard(spark):
    def probe():
        fn = zipimport.zipimporter.invalidate_caches
        return {"src": fn.__code__.co_filename if hasattr(fn, "__code__") else "",
                "supported": _daemon.supported()}

    (row,) = _run_in_worker(spark, probe, "src string, supported boolean")
    if row["supported"]:
        assert os.path.realpath(row["src"]) == os.path.realpath(DAEMON_FILE)
    else:  # any other interpreter runs the stock daemon, unguarded
        assert os.path.realpath(row["src"]) != os.path.realpath(DAEMON_FILE)


def test_worker_imports_zip_added_after_start(spark, tmp_path):
    _run_in_worker(spark, lambda: {"pid": os.getpid()}, "pid long")  # workers are up
    module = f"tsd_probe_{os.getpid()}"
    path = str(tmp_path / f"{module}.zip")
    _write_zip(path, module, "added late")
    spark.sparkContext.addPyFile(path)

    def probe():
        import importlib

        return {"value": importlib.import_module(module).VALUE}

    assert _run_in_worker(spark, probe, "value string")[0]["value"] == "added late"


@guarded_only
def test_stat_guard_rereads_only_changed_archives(tmp_path, monkeypatch):
    path = str(tmp_path / "guard.zip")
    _write_zip(path, "guard_a", "a")
    importer = zipimport.zipimporter(path)
    reads, reread = [], _daemon._reread
    monkeypatch.setattr(_daemon, "_reread", lambda self: reads.append(1) or reread(self))
    monkeypatch.setattr(_daemon, "_reads", {})

    _daemon.invalidate_caches(importer)
    _daemon.invalidate_caches(importer)
    _daemon.invalidate_caches(zipimport.zipimporter(path))  # a second importer, same archive
    assert len(reads) == 1

    with zipfile.ZipFile(path, "a") as z:  # changes size (and mtime)
        z.writestr("guard_b.py", "VALUE = 'b'\n")
    _daemon.invalidate_caches(importer)
    assert len(reads) == 2
    assert importer.find_spec("guard_b") is not None


@local_only
def test_daemon_exits_when_spark_stops(tmp_path):
    script = """
import json, os, sys, time
import pandas as pd
from tangent_spark.session import get_spark

spark = get_spark(app="daemon_exit", cpus=1)
def udf(batches):
    for _ in batches:
        yield pd.DataFrame({"pid": [os.getppid()]})
pid = spark.range(1, numPartitions=1).mapInPandas(udf, "pid long").collect()[0]["pid"]
with open(f"/proc/{pid}/cmdline") as f:
    cmdline = f.read().replace("\\0", " ")

def alive():
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False

spark.stop()
deadline = time.monotonic() + 10
while alive() and time.monotonic() < deadline:
    time.sleep(0.1)
print(json.dumps({"cmdline": cmdline, "alive": alive()}))
"""
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_MASTER"}
    env.update(SPARK_GRAFT_DRIVER_MEM="1g", SPARK_LOCAL_DIRS=str(tmp_path),
               PYTHONPATH=REPO)
    out = subprocess.run([sys.executable, "-c", script], cwd=REPO, env=env,
                         capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-2000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert "tangent_spark._daemon" in res["cmdline"]
    assert not res["alive"]
