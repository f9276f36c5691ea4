"""Spans and Spark counters for the traced run.

A span records one call into a library module from the benchmark's own
code: layer (the module), name, start, end, parent span and op id. Spans
stay in memory and are written out as JSON when the run ends. Each traced
op also gets its own Spark job group, so ``sc.statusTracker()`` can give
its job and task counts, and Spark's event log (enabled for traced runs)
gives its shuffle bytes. With tracing off every method is a cheap no-op
apart from the wall-clock timing the caller needs anyway.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.recording = enabled     # off during the untraced ops of a traced run
        self.spans: list[dict] = []
        self.op_groups: dict[str, list[str]] = defaultdict(list)
        self._stack: list[int] = []
        self._op_id: str | None = None
        self._seq = 0

    @contextmanager
    def op(self, kind: str, traced: bool = True):
        """One closed-loop op, labelled `kind`. When traced, its Spark
        jobs run under a job group named after the op id, and a root
        span covers it."""
        if not self.enabled:
            yield
            return
        if not traced:
            self.recording = False
            try:
                yield
            finally:
                self.recording = True
            return
        self._seq += 1
        op_id = f"{kind}-{self._seq}"
        sc = self.spark.sparkContext
        sc.setJobGroup(op_id, kind)
        self._op_id = op_id
        self.op_groups[kind].append(op_id)
        try:
            with self.span("op", kind):
                yield
        finally:
            self._op_id = None
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    @contextmanager
    def job_group(self, label: str):
        """Run one step of the current op under a job group of its own,
        recorded under `label`, so its jobs can be counted apart."""
        if self._op_id is None:
            yield
            return
        self._seq += 1
        group = f"{label}-{self._seq}"
        sc = self.spark.sparkContext
        sc.setJobGroup(group, label)
        self.op_groups[label].append(group)
        try:
            yield
        finally:
            sc.setJobGroup(self._op_id, self._op_id.rsplit("-", 1)[0])

    @contextmanager
    def span(self, layer: str, name: str):
        """A call into `layer`; outside ops (set-up, count passes) its op
        is None."""
        if not self.recording:
            yield
            return
        rec = {
            "id": len(self.spans),
            "layer": layer,
            "name": name,
            "op": self._op_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def call(self, layer: str, name: str, fn, *args, **kwargs):
        with self.span(layer, name):
            return fn(*args, **kwargs)

    # -- read-outs -----------------------------------------------------------
    def groups(self, prefix: str) -> list[str]:
        """Job groups of the traced ops whose label starts with prefix."""
        return [g for label, gs in self.op_groups.items()
                if label.startswith(prefix) for g in gs]

    def job_counts(self, prefix: str) -> list[tuple[int, int]]:
        """(jobs, tasks) per traced op whose label starts with prefix,
        from the status tracker. Read after the loop, when the listener
        has caught up."""
        st = self.spark.sparkContext.statusTracker()
        out = []
        for g in self.groups(prefix):
            jobs = st.getJobIdsForGroup(g)
            tasks = 0
            for j in jobs:
                info = st.getJobInfo(j)
                for s in (info.stageIds if info else []):
                    si = st.getStageInfo(s)
                    tasks += si.numCompletedTasks if si else 0
            out.append((len(jobs), tasks))
        return out

    def self_ms(self) -> dict[str, float]:
        """Total self time per layer: span duration minus the part its
        child spans cover."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out = defaultdict(float)
        for s in self.spans:
            if s["end"] is not None:
                out[s["layer"]] += (s["end"] - s["start"] - child[s["id"]]) * 1e3
        return dict(out)

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_ms": self.self_ms(), **extra}, f)


def shuffle_bytes_by_group(event_dir: str) -> dict[str, int]:
    """Shuffle bytes written per job group, from Spark's JSON event log
    (read after the context stops, when the log is complete)."""
    stage_group: dict[int, str] = {}
    out: dict[str, int] = defaultdict(int)
    paths = sorted(p for p in glob.glob(os.path.join(event_dir, "**"), recursive=True)
                   if os.path.isfile(p))
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if g:
                        for s in ev.get("Stage IDs", []):
                            stage_group[s] = g
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev.get("Stage ID"))
                    m = (ev.get("Task Metrics") or {}).get("Shuffle Write Metrics") or {}
                    if g:
                        out[g] += int(m.get("Shuffle Bytes Written", 0))
    return dict(out)
