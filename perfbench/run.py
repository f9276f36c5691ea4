"""Seeded benchmark of tangent_spark, one workload per process.

    python3 perfbench/run.py --workload serve-warm --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The workload's inputs are generated
from --seed; the loop measures for --seconds; results are checked
against plain-Python oracles off the clock. The last stdout line is
one JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones (see perfbench/metrics.py); the line before it carries
run facts (corpus digest, cpus, n_shards, versions, sample counts,
tail percentile). A traced run also writes its spans to
perfbench-trace-<workload>-<seed>.json in the checkout root.

Workloads: serve-warm, serve-cold, ingest.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import importlib  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import metrics  # noqa: E402
from perfbench.harness import Run, median, tail  # noqa: E402

WORKLOADS = {
    "serve-warm": "perfbench.workloads.serve_warm",
    "serve-cold": "perfbench.workloads.serve_cold",
    "ingest": "perfbench.workloads.ingest",
}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # fails here, before any output, where the library is not present
    importlib.import_module("tangent_spark.session")
    module = importlib.import_module(WORKLOADS[args.workload])

    run = Run(args.workload, module.OP_KIND, args.seed, args.seconds, bool(args.trace),
              T_START)
    try:
        e2e = module.run(run)
        op_lat = run.latencies.get(module.OP_KIND, [])
        t = tail(op_lat)
        if t is not None:
            run.info["op_tail"] = {"ms": t[0] * 1e3, "percentile": t[1], "samples": t[2]}
        if run.trace:
            split = run.traced_ops.get(getattr(module, "OVERHEAD_KIND", module.OP_KIND), {})
            if split.get(True) and split.get(False):
                run.layer["trace_overhead_pct"] = (
                    100.0 * (median(split[True]) / median(split[False]) - 1))
        if run.trace and "spark.jobs_per_op" not in run.layer:
            jobs = run.tracer.job_counts(module.OP_KIND)
            run.layer["spark.jobs_per_op"] = median([j for j, _ in jobs])
            run.layer["spark.tasks_per_op"] = median([t for _, t in jobs])
        run.close()
        run.mark("close")
        run.layer["session.peak_rss_mb"] = run.rss.peak_kb / 1024.0
        if run.trace:
            finish_trace(run, module)
            out = {name: (float(run.layer.get(name, 0.0)), unit)
                   for name, unit in metrics.PER_LAYER.items()}
        else:
            out = {name: (float(e2e[name]), unit)
                   for name, unit in metrics.END_TO_END.items()}
        run.emit(out)
    finally:
        run.close()
        run.remove_tmp()
    return 0


def finish_trace(run: Run, module) -> None:
    """Shuffle bytes per op from the event log; spans to a JSON file."""
    from perfbench.trace import shuffle_bytes_by_group

    by_group = shuffle_bytes_by_group(run.events)
    tr = run.tracer

    def per_op(prefix):
        return median([by_group.get(g, 0) for g in tr.groups(prefix)])

    run.layer["spark.shuffle_write_bytes"] = per_op(module.OP_KIND)
    for name, prefix in getattr(module, "SHUFFLE_METRICS", {}).items():
        run.layer[name] = per_op(prefix)
    path = os.path.join(ROOT, f"perfbench-trace-{run.workload}-{run.seed}.json")
    tr.dump(path, {"info": run.info, "layer": run.layer,
                   "shuffle_bytes_by_group": by_group})
    run.info["trace_file"] = os.path.basename(path)


if __name__ == "__main__":
    sys.exit(main())
