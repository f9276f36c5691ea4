"""Run scaffolding shared by the workloads.

A ``Run`` owns everything one benchmark process creates: a private temp
directory inside the checkout (Spark local dirs, event log, indexes),
the pinned environment, the Spark session and its JVM, a sampler of
peak RSS over this process and its descendants, the op latencies and
failure counts, and the result lines. ``close`` stops Spark and waits
for the JVM and its Python workers to exit; ``remove_tmp`` deletes the
temp directory.
"""

from __future__ import annotations

import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TMP_PARENT = os.path.join(ROOT, ".perfbench_tmp")
N_SHARDS = 4
BLOCK_SIZE = 64
DRIVER_MEM = "2g"


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def tail(xs) -> tuple[float, float, int] | None:
    """(value, percentile, n): the highest-ranked sample with at least
    ten samples above it, and its percentile rank. None if n <= 10."""
    s = sorted(xs)
    n = len(s)
    if n <= 10:
        return None
    r = n - 10  # 1-based rank; exactly ten samples rank above it
    return s[r - 1], round(100.0 * r / n, 1), n


# -- peak RSS from /proc (psutil is not installed) ----------------------------

def _descendants(root_pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], list(children.get(root_pid, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _cpu_times() -> list[int]:
    """The aggregate cpu line of /proc/stat (user .. steal, in ticks)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


class RssSampler:
    """Samples the summed RSS of this process tree (driver JVM and
    Python workers included) every `period` seconds; keeps the peak."""

    def __init__(self, period: float = 0.5):
        self.period = period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> None:
        self._thread.start()

    def _loop(self) -> None:
        while not self._stop.is_set():
            me = os.getpid()
            total = sum(_rss_kb(p) for p in [me, *_descendants(me)])
            self.peak_kb = max(self.peak_kb, total)
            self._stop.wait(self.period)

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


# -- the run ------------------------------------------------------------------

class Run:
    def __init__(self, workload: str, op_kind: str, seed: int, seconds: float,
                 trace: bool, t_start: float):
        self.workload = workload
        self.op_kind = op_kind          # the op a user waits on
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.t_start = t_start          # process start, before pyspark import
        os.makedirs(TMP_PARENT, exist_ok=True)
        self.tmp = tempfile.mkdtemp(prefix=f"{workload}-", dir=TMP_PARENT)
        self.events = os.path.join(self.tmp, "events")
        self.attempted = 0
        self.failed = 0
        self.latencies: dict[str, list[float]] = {}
        # op latencies by kind, split into traced and untraced ops
        self.traced_ops: dict[str, dict[bool, list[float]]] = {}
        self.cycle_rates: list[float] = []
        self.layer: dict[str, float] = {}
        self.info: dict = {"workload": workload, "seed": seed}
        self.spark = None
        self.tracer = None
        self.rss = RssSampler()
        self._cpu0 = _cpu_times()
        self._last_mark = t_start
        self._pin_env()

    def mark(self, part: str) -> None:
        """Record the seconds since the previous mark (or process start)
        as a named part of the run, in the info line."""
        now = time.perf_counter()
        self.info.setdefault("parts_s", {})[part] = round(now - self._last_mark, 3)
        self._last_mark = now

    def _pin_env(self) -> None:
        cpus = host_cpus()
        local = os.path.join(self.tmp, "spark-local")
        scratch = os.path.join(self.tmp, "tmp")
        os.makedirs(local)
        os.makedirs(scratch)
        os.environ.pop("SPARK_GRAFT_MASTER", None)
        os.environ.update({
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_LOCAL_DIRS": local,
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "TMPDIR": scratch,
            # every JVM (the launcher's too) keeps its temp files in the
            # checkout and writes no perf-data file under the system /tmp
            "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={scratch}",
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
        })
        tempfile.tempdir = scratch
        self.cpus = cpus

    def start_spark(self):
        """Start the JVM and session; the time is session.start_s."""
        self.rss.start()
        t0 = time.perf_counter()
        from tangent_spark.session import get_spark

        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.tmp, "warehouse"),
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            os.makedirs(self.events)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.events,
                "spark.eventLog.compress": "false",
            })
        self.spark = get_spark(app=f"perfbench-{self.workload}", cpus=self.cpus,
                               extra_conf=conf)
        self.layer["session.start_s"] = time.perf_counter() - t0
        from perfbench.trace import Tracer

        self.tracer = Tracer(self.spark, self.trace)
        import pandas
        import pyarrow
        import pyspark

        self.info.update({
            "cpus": self.cpus, "n_shards": N_SHARDS, "block_size": BLOCK_SIZE,
            "driver_mem": DRIVER_MEM, "spark": pyspark.__version__,
            "pyarrow": pyarrow.__version__, "pandas": pandas.__version__,
            "python": platform.python_version(),
        })
        return self.spark

    def op(self, kind: str, fn, traced: bool = True, label: str | None = None):
        """Run one op, time it under `kind`, count it; an exception
        counts as a failed op and returns None. `label` names the op in
        the trace (default: kind). In a traced run, ops with traced=False
        run without spans or job groups, which gives the tracing
        overhead."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.tracer.op(label or kind, traced):
                out = fn()
        except Exception:  # the loop must go on; the failure is counted
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            return None
        dt = time.perf_counter() - t0
        self.latencies.setdefault(kind, []).append(dt)
        self.traced_ops.setdefault(kind, {True: [], False: []})[traced].append(dt)
        return out

    def timed_cycles(self, cycle, prepare=None, min_cycles: int = 1):
        """The closed loop: run `cycle()` (which returns how many ops it
        completed) until the cycles have taken --seconds, and at least
        `min_cycles` times, reading the clock only between cycles. With
        `prepare`, each cycle is `cycle(prepare())`: prepare makes the
        cycle's input off the clock. Returns ops per second as the median
        over cycles, so one slow stretch of the host moves it less than a
        total."""
        measured = 0.0
        while measured < self.seconds or len(self.cycle_rates) < min_cycles:
            args = () if prepare is None else (prepare(),)
            t0 = time.perf_counter()
            n = cycle(*args)
            dt = time.perf_counter() - t0
            measured += dt
            self.cycle_rates.append(n / dt)
        self.mark("window")
        return median(self.cycle_rates)

    def check(self, what: str, ok: bool) -> None:
        """An op whose result was wrong counts as failed."""
        if not ok:
            self.failed += 1
            print(f"perfbench: wrong result: {what}", file=sys.stderr)

    def close(self) -> None:
        """Stop Spark, then wait for the JVM and every process under it
        (Python workers) to exit; whatever is left after 30 s is killed."""
        if self.spark is not None:
            from pyspark import SparkContext

            started = _descendants(os.getpid())
            gw = SparkContext._gateway
            self.spark.stop()
            self.spark = None
            proc = getattr(gw, "proc", None) if gw is not None else None
            if gw is not None:
                gw.shutdown()
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()  # the gateway JVM exits on EOF
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)
            deadline = time.monotonic() + 30
            while any(map(_alive, started)) and time.monotonic() < deadline:
                time.sleep(0.1)
            for pid in filter(_alive, started):
                os.kill(pid, signal.SIGKILL)
        self.rss.stop()

    def remove_tmp(self) -> None:
        shutil.rmtree(self.tmp, ignore_errors=True)
        try:
            os.rmdir(TMP_PARENT)
        except OSError:
            pass

    def emit(self, metrics: dict[str, tuple[float, str]]) -> None:
        """Print the info line, then the result as the last line. The
        info line carries the host's CPU steal over the run: a run that
        lost much of its CPU to other guests measured the host, not the
        program."""
        delta = [b - a for a, b in zip(self._cpu0, _cpu_times())]
        self.info["cpu_steal_pct"] = round(100.0 * delta[7] / max(sum(delta), 1), 1)
        self.info["latency_ms"] = {
            k: {"n": len(v), "p50": round(median(v) * 1e3, 1)}
            for k, v in self.latencies.items()}
        print(json.dumps({"info": self.info}), flush=True)
        print(json.dumps({
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }), flush=True)
