"""Each workload end to end, with a one-second window, through the
command BENCHMARK.json names. Slow: every run starts its own JVM."""

import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench import metrics, run

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _run(cwd, workload, trace, seed=5):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", str(trace)],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=300)


@pytest.mark.parametrize("workload", list(run.WORKLOADS))
def test_workload_end_to_end(workload):
    p = _run(ROOT, workload, 0)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    res = json.loads(lines[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    assert got == metrics.END_TO_END
    assert all(v["value"] > 0 for v in res["metrics"].values())
    info = json.loads(lines[-2])["info"]
    assert info["n_shards"] and info["cpus"] and info["digest"]
    assert not os.path.exists(os.path.join(ROOT, ".perfbench_tmp"))


def test_traced_run_reports_layers():
    p = _run(ROOT, "ingest", 1)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    res = json.loads(lines[-1])
    assert {k: v["unit"] for k, v in res["metrics"].items()} == metrics.PER_LAYER
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert m["dedup.candidate_pairs"] > 0 and m["session.start_s"] > 0
    assert m["incremental.runs_per_term_before"] > m["incremental.runs_per_term_after"] == 1.0
    info = json.loads(lines[-2])["info"]
    trace_file = os.path.join(ROOT, info["trace_file"])
    with open(trace_file) as f:
        spans = json.load(f)["spans"]
    os.remove(trace_file)
    assert any(s["layer"] == "operators.dedup" for s in spans)
    assert all({"name", "start", "end", "parent", "op"} <= set(s) for s in spans)


def test_fails_without_the_library(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = _run(tmp_path, "serve-warm", 0)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
