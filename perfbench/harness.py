"""Shared machinery for the perfbench workloads.

Everything here runs in the benchmark's own process: the Spark session at
``local[nproc-1]``, the process-tree RSS sampler, the host-drift
calibration loop, the SQL status-store reader that supplies per-operator
metrics, span recording for traced runs, and the result line.
"""

from __future__ import annotations

import ctypes
import json
import math
import os
import re
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback

# The repo root (the checkout the benchmark runs from) and the scratch
# directory every run writes into; both are fixed by this file's place.
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
DATA = os.path.join(ROOT, "perfbench", "data")


def task_slots() -> int:
    """nproc - 1 task slots: one core stays free for the driver, the
    JVM's JIT/GC threads and the Python workers' parent daemon."""
    return max(1, len(os.sched_getaffinity(0)) - 1)


def confine_to_checkout() -> None:
    """Point every temp/scratch location at WORK before Spark or
    tempfile is first used (the package zip, Spark's block manager and
    the JVM's java.io.tmpdir would otherwise land in /tmp)."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")


#: prctl option that makes this process the reaper of its orphaned descendants
_PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the reaper of every process it starts, directly
    or not. A process whose parent exits first (the launcher subshell of
    ``spark-class``, a Python worker whose daemon died, a JVM-spawned
    helper) is re-parented here instead of to init, so ``stop_children``
    can stop it and wait for it."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def stop_children(grace: float = 10.0) -> None:
    """Stop every child of this process, adopted orphans included, and
    wait until each has ended: SIGTERM first, SIGKILL after ``grace``
    seconds. Returns once this process has no child left, zombies
    included. Call it last: it reaps children that ``subprocess`` may
    still be tracking."""
    me, signalled = os.getpid(), set()
    deadline = time.monotonic() + grace
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            return
        sig = signal.SIGTERM if time.monotonic() < deadline else signal.SIGKILL
        for pid in _parents().get(me, []):
            if (pid, sig) not in signalled:
                signalled.add((pid, sig))
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def start_spark():
    from orthority_spark.session import get_spark

    slots = task_slots()
    tmp = os.environ["TMPDIR"]
    spark = get_spark(
        master=f"local[{slots}]",
        app_name="perfbench",
        shuffle_partitions=2 * slots,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
            # a pinned, pre-touched heap, so the JVM's share of peak
            # memory does not depend on when GC decides to grow the heap
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -Xms2g -XX:+AlwaysPreTouch",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------

def median(values: list[float]) -> float:
    return float(statistics.median(values))


def upper_percentile(values: list[float], q: float = 0.9) -> tuple[float, float]:
    """(value, percentile used): nearest-rank ``q`` when at least ten
    samples lie beyond it, else the highest percentile that keeps ten
    beyond; with fewer than 20 samples no such percentile exists and the
    median is reported (percentile 0.5)."""
    n = len(values)
    if n < 20:
        return median(values), 0.5
    q = min(q, (n - 10) / n)
    return float(sorted(values)[math.ceil(q * n) - 1]), q


# ---------------------------------------------------------------------------
# process-tree peak resident memory (driver Python + JVM + Python workers)
# ---------------------------------------------------------------------------

def _parents() -> dict[int, list[int]]:
    """parent pid -> pids of its children, from /proc."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(name))
    return children


def _tree_pss_bytes(root: int) -> int:
    """Resident memory of ``root`` and its descendants, each process's
    proportional set size summed: pages that forked Python workers share
    with their daemon count once, where summing RSS would count them per
    worker."""
    children = _parents()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total


class RssSampler:
    """Samples the resident memory of this process tree every
    ``interval`` seconds on a daemon thread; ``peak_mb`` is the maximum."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_pss_bytes(root))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


#: a fixed md5 chain that prints its own seconds, run in child interpreters
_MD5_CHAIN = """
import hashlib, time
t0 = time.perf_counter()
h = b"perfbench"
for _ in range({iterations}):
    h = hashlib.md5(h).digest()
print(time.perf_counter() - t0)
"""


def calibrate_cpu(iterations: int = 200_000) -> dict[str, float]:
    """Seconds for a fixed md5 chain in one process, and the slowest of
    ``task_slots()`` copies run at once in child processes. A drifting
    host window shows in the first; vCPUs that are contended (not
    stolen) show only in the second. Recorded, not gated."""
    code = _MD5_CHAIN.format(iterations=iterations)
    single = float(subprocess.run([sys.executable, "-c", code], check=True,
                                  capture_output=True, text=True).stdout)
    procs = [subprocess.Popen([sys.executable, "-c", code], stdout=subprocess.PIPE,
                              text=True) for _ in range(task_slots())]
    parallel = max(float(p.communicate()[0]) for p in procs)
    return {"calibration_s": single, "calibration_parallel_s": parallel}


# ---------------------------------------------------------------------------
# operations, failures and spans
# ---------------------------------------------------------------------------

class Run:
    """Counts attempted/failed operations, records spans and counts for
    traced runs, and collects the detail that goes into the artifact."""

    def __init__(self, workload: str, seed: int, trace: bool):
        self.workload = workload
        self.seed = seed
        self.trace = trace
        self.attempted = 0
        self.failed = 0
        self.spans: list[dict] = []
        self.counts: dict[str, float] = {}
        self.detail: dict = {}
        self._t0 = time.perf_counter()
        self._stack: list[int] = []

    def op(self, name: str, fn, *args, **kwargs):
        """Run one operation; a raise counts as a failed operation and
        returns None (the traceback goes to stderr)."""
        self.attempted += 1
        try:
            return fn(*args, **kwargs)
        except Exception:
            self.failed += 1
            print(f"perfbench: operation {name} raised", file=sys.stderr)
            traceback.print_exc()
            return None

    def check(self, name: str, ok: bool) -> bool:
        """An output check; a mismatch counts as a failed operation."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: check {name} failed", file=sys.stderr)
        return ok

    def span(self, name: str):
        return _Span(self, name)


class _Span:
    def __init__(self, run: Run, name: str):
        self.run, self.name = run, name

    def __enter__(self) -> "_Span":
        run = self.run
        self.index = len(run.spans)
        run.spans.append({
            "name": self.name,
            "start": time.perf_counter() - run._t0,
            "end": None,
            "parent": run._stack[-1] if run._stack else None,
        })
        run._stack.append(self.index)
        self._t = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.seconds = time.perf_counter() - self._t
        self.run.spans[self.index]["end"] = time.perf_counter() - self.run._t0
        self.run._stack.pop()


def timed(fn, *args, **kwargs):
    t0 = time.perf_counter()
    out = fn(*args, **kwargs)
    return time.perf_counter() - t0, out


# ---------------------------------------------------------------------------
# Spark SQL status store: per-operator metrics with the UI off
# ---------------------------------------------------------------------------

_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40, "PiB": 2**50}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_NUM = re.compile(r"^-?[\d,]+(\.\d+)?$")
#: a node's label in ``SparkPlanGraph.makeDotFile``: "<b>name</b><br><br>"
#: then metric entries joined by "<br>" (Java-escaped text)
_DOT_LABEL = re.compile(r'label="((?:[^"\\]|\\.)*)"')
_DOT_NODE = re.compile(r"(?:<br>)?<b>(.*?)</b><br><br>(.*)$")


def parse_metric(text: str) -> float:
    """Spark's formatted SQL metric value ('12.3 KiB', '694 ms', '1,659',
    or a per-task total such as '864.0 B (267.0 B, ...)') -> bytes /
    seconds / count."""
    value = text.split(" (")[0].strip()
    if _NUM.match(value):
        return float(value.replace(",", ""))
    number, unit = value.rsplit(" ", 1)
    number = float(number.replace(",", ""))
    if unit in _SIZE:
        return number * _SIZE[unit]
    return number * _TIME[unit]


#: per-operator metric name -> layer counter it is summed into
LAYER_METRICS = {
    "time to run Python workers": "boundary.py_run_s",
    "time to start Python workers": "boundary.py_init_s",
    "time to initialize Python workers": "boundary.py_init_s",
    "data sent to Python workers": "boundary.sent_mb",
    "data returned from Python workers": "boundary.returned_mb",
    "shuffle bytes written": "exchange.shuffle_mb",
    "shuffle write time": "exchange.shuffle_write_s",
    "fetch wait time": "exchange.fetch_wait_s",
    "spill size": "exchange.spill_mb",
}
_MB = {"boundary.sent_mb", "boundary.returned_mb", "exchange.shuffle_mb",
       "exchange.spill_mb"}


class StatusStore:
    """Reads finished SQL executions from Spark's SQL status store (kept
    with ``spark.ui.enabled=false``). Each execution's plan graph and
    metric values cross py4j once, as the DOT text Spark renders for its
    UI, instead of one call per node and metric."""

    def __init__(self, spark):
        self._store = spark._jsparkSession.sharedState().statusStore()
        self._conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
        #: wall time spent reading the store: the tracing overhead
        self.seconds = 0.0

    def mark(self) -> int:
        t0 = time.perf_counter()
        n = int(self._store.executionsCount())
        self.seconds += time.perf_counter() - t0
        return n

    def executions_since(self, mark: int) -> list[int]:
        t0 = time.perf_counter()
        n = int(self._store.executionsCount()) - mark
        rows = self._conv.asJava(self._store.executionsList(mark, n)) if n > 0 else []
        ids = [int(e.executionId()) for e in rows]
        self.seconds += time.perf_counter() - t0
        return ids

    def node_metrics(self, execution_id: int, names):
        """Yield (node name, metric name, parsed value) for the metrics of
        one execution whose name is in ``names``."""
        store = self._store
        dot = store.planGraph(execution_id).makeDotFile(
            store.executionMetrics(execution_id)
        )
        for label in _DOT_LABEL.findall(dot):
            node = _DOT_NODE.match(label)
            if node is None:
                continue
            entries = iter(node.group(2).split("<br>"))
            for entry in entries:
                if " total (min, med, max" in entry:
                    # a per-task metric: "<name> total (min, med, ...)" and
                    # its values on the next line
                    metric, text = entry.split(" total (")[0], next(entries, "")
                else:
                    metric, _, text = entry.partition(": ")
                if metric in names:
                    yield node.group(1), metric, parse_metric(text)

    def layers_since(self, mark: int) -> dict[str, float]:
        """Boundary and exchange layer totals over executions after ``mark``,
        plus ``driver.executions``."""
        ids = self.executions_since(mark)
        t0 = time.perf_counter()
        out = {name: 0.0 for name in set(LAYER_METRICS.values())}
        for eid in ids:
            for _node, metric, value in self.node_metrics(eid, LAYER_METRICS):
                layer = LAYER_METRICS[metric]
                out[layer] += value / 1e6 if layer in _MB else value
        out["driver.executions"] = float(len(ids))
        self.seconds += time.perf_counter() - t0
        return out


# ---------------------------------------------------------------------------
# result
# ---------------------------------------------------------------------------

def emit(run: Run, metrics: dict[str, tuple[float, str]]) -> None:
    """Write the artifact JSON, then print the result line last."""
    out_dir = os.path.join(WORK, "runs")
    os.makedirs(out_dir, exist_ok=True)
    artifact = {
        "workload": run.workload,
        "seed": run.seed,
        "trace": run.trace,
        "task_slots": task_slots(),
        "metrics": {k: v for k, (v, _u) in metrics.items()},
        "detail": run.detail,
        "spans": run.spans,
        "counts": run.counts,
    }
    name = f"{run.workload}-seed{run.seed}-trace{int(run.trace)}.json"
    with open(os.path.join(out_dir, name), "w") as f:
        json.dump(artifact, f, indent=1, default=float)
    print("perfbench detail:", json.dumps(run.detail, default=float), flush=True)
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result), flush=True)
