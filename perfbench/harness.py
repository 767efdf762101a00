"""Run isolation, host-noise canaries, memory sampling, latency
statistics and the result line shared by every workload."""

from __future__ import annotations

import json
import math
import os
import re
import shutil
import statistics
import subprocess
import threading
import time
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUNS_DIR = os.path.join(ROOT, ".perfbench_runs")
#: repetitions of a workload's set-up step whose median is reported
#: (the session itself starts once per process)
SETUP_REPS = 3
OUT_DIR = os.path.join(ROOT, ".perfbench_out")
#: set by ``isolate``: where the Spark JVM logs its heap address range
HEAP_LOG = ""


def host_cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


@dataclass
class RunDirs:
    """Fresh per-run directories under the checkout; removed on close."""

    root: str
    data: str = ""
    lake: str = ""
    work: str = ""
    tmp: str = ""

    def __post_init__(self) -> None:
        self.data = os.path.join(self.root, "data")
        self.lake = os.path.join(self.root, "lake")
        self.work = os.path.join(self.root, "work")
        self.tmp = os.path.join(self.root, "tmp")
        for d in (self.data, self.lake, self.work, self.tmp):
            os.makedirs(d, exist_ok=True)

    def close(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)


def isolate(workload: str, seed: int) -> RunDirs:
    """Point every directory Spark, the engine and Python write to at a
    fresh per-run tree, and size the session to this host."""
    dirs = RunDirs(os.path.join(RUNS_DIR, f"{workload}-s{seed}-p{os.getpid()}"))
    local = os.path.join(dirs.tmp, "spark-local")
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(host_cpus())
    os.environ["SPARK_GRAFT_LAKE_DIR"] = dirs.lake
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = dirs.tmp
    # the JVM keeps the heap settings the engine's session ships; it
    # only logs where its heap lies, for the memory sampler
    global HEAP_LOG
    HEAP_LOG = os.path.join(dirs.tmp, "jvm-heap.log")
    java_opts = f"-Djava.io.tmpdir={dirs.tmp} -XX:-UsePerfData -Xlog:gc+heap+coops=debug:file={HEAP_LOG}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.sql.warehouse.dir={os.path.join(dirs.tmp, 'warehouse')} "
        f"--conf spark.local.dir={local} "
        f'--driver-java-options "{java_opts}" pyspark-shell'
    )
    import tempfile

    tempfile.tempdir = dirs.tmp
    return dirs


def start_session():
    """The engine's tuned session (``session.get_spark``) on this host's
    cores; returns (spark, seconds)."""
    t0 = time.perf_counter()
    from hyperion_history_api_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("OFF")
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM it launched, and every process
    the JVM started (PySpark workers), has exited."""
    from pyspark import SparkContext

    started = set(_descendants(_proc_tree())) - {os.getpid()}
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    wait_gone(started)


def wait_gone(pids: set[int], timeout: float = 20.0) -> None:
    """Wait for ``pids`` to exit; kill any still alive at the deadline."""
    import signal

    deadline = time.monotonic() + timeout
    while True:
        alive = {p for p in pids if os.path.exists(f"/proc/{p}") and not _zombie(p)}
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 5
        time.sleep(0.05)


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return True
    return s[s.rindex(")") + 2] == "Z"


# -- host-noise canaries (the same probes bench.py records) -------------


def load_sentinel() -> float:
    """Seconds for a fixed pure-Python busy loop (~0.2 s on a quiet
    host): a host-load canary, independent of Spark."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc = (acc + i * i) % 1_000_003
    assert acc >= 0
    return time.perf_counter() - t0


def _proc_tree() -> dict[int, list[int]]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                s = f.read()
        except OSError:
            continue
        rest = s[s.rindex(")") + 2 :].split()
        children.setdefault(int(rest[1]), []).append(int(d))
    return children


def _descendants(children: dict[int, list[int]]) -> list[int]:
    out, stack = [], [os.getpid()]
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(children.get(p, ()))
    return out


def cpu_snapshot() -> tuple[int, int]:
    """(whole-machine busy jiffies, this process tree's jiffies): the
    difference over a window is CPU burned by other tenants."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    total_busy = sum(v) - v[3] - (v[4] if len(v) > 4 else 0)
    tree = 0
    for pid in _descendants(_proc_tree()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                s = f.read()
        except OSError:
            continue
        rest = s[s.rindex(")") + 2 :].split()
        tree += sum(int(x) for x in rest[11:15])
    return total_busy, tree


def external_cores(snap0: tuple[int, int], snap1: tuple[int, int], wall: float) -> float:
    hz = os.sysconf("SC_CLK_TCK")
    busy = (snap1[0] - snap0[0]) - (snap1[1] - snap0[1])
    return max(0.0, busy / hz / max(wall, 1e-9))


def _pss_kb(pid: int) -> int:
    """Proportional resident set (Pss) of one process. Forked PySpark
    workers share most pages with their parent, so each process counts
    its share; plain RSS would count shared pages once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _pss_split_kb(pid: int, lo: int, hi: int) -> tuple[int, int]:
    """(Pss of one process, its Pss outside the address range [lo, hi))."""
    total = outside = 0
    inside = False
    try:
        with open(f"/proc/{pid}/smaps") as f:
            for line in f:
                if line.startswith("Pss:"):
                    kb = int(line.split()[1])
                    total += kb
                    outside += 0 if inside else kb
                elif line[0] in "0123456789abcdef":
                    a, b = (int(x, 16) for x in line.split(" ", 1)[0].split("-"))
                    inside = a >= lo and b <= hi
    except OSError:
        pass
    return total, outside


_HEAP_LINE = re.compile(r"Heap address: (0x[0-9a-f]+), size: (\d+) MB")


def java_heap_range() -> tuple[int, int] | None:
    """Address range the Spark JVM reserved for its Java heap, from the
    start-up line ``isolate`` has it log; None if it was not logged."""
    try:
        with open(HEAP_LOG) as f:
            m = _HEAP_LINE.search(f.read())
    except OSError:
        return None
    if m is None:
        return None
    lo = int(m.group(1), 16)
    return lo, lo + int(m.group(2)) * 2**20


class MemorySampler:
    """Peak memory of this process and its descendants (the JVM and
    PySpark workers), sampled on a background thread.

    ``peak_mb`` counts the Java heap at its size after the latest
    collection (the data the engine keeps) and every other page at its
    Pss, so it does not depend on how far the collector let garbage grow
    the heap between collections. ``pss_peak_mb`` is the plain Pss
    peak, heap pages included."""

    def __init__(self, interval: float = 0.5) -> None:
        self.interval = interval
        self.peak_kb = 0
        self.pss_peak_kb = 0
        self.heap_live_peak_kb = 0
        self._pools: list[str] = []
        self._collectors: list = []
        self._heap = None
        self.error: BaseException | None = None
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def attach(self, spark) -> None:
        """Start reading the heap after collection once the JVM is up."""
        mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        self._pools = [str(p.getName()) for p in mf.getMemoryPoolMXBeans() if str(p.getType()) == "Heap memory"]
        self._collectors = list(mf.getGarbageCollectorMXBeans())
        self._heap = java_heap_range()

    def _heap_live_kb(self) -> int:
        """Heap in use right after the most recent collection, young or
        old (a pool's own collection usage is not updated by G1's young
        collections, so the collectors' last-collection records are read)."""
        last, used = -1, 0
        for gc in self._collectors:
            info = gc.getLastGcInfo()
            if info is not None and info.getEndTime() > last:
                last = info.getEndTime()
                after = info.getMemoryUsageAfterGc()
                used = sum(after.get(name).getUsed() for name in self._pools)
        return used // 1024

    def _sample(self) -> None:
        live = self._heap_live_kb() if self._heap is not None else 0
        pss = other = 0
        for pid in _descendants(_proc_tree()):
            if self._heap is not None and _comm(pid) == "java":
                whole, outside = _pss_split_kb(pid, *self._heap)
            else:
                whole = outside = _pss_kb(pid)
            pss += whole
            other += outside
        self.pss_peak_kb = max(self.pss_peak_kb, pss)
        self.heap_live_peak_kb = max(self.heap_live_peak_kb, live)
        # without the heap range every page counts at its Pss
        self.peak_kb = max(self.peak_kb, other + live if self._heap is not None else pss)

    def _run(self) -> None:
        try:
            while not self._stop.is_set():
                self._sample()
                self._stop.wait(self.interval)
        except Exception as e:  # noqa: BLE001 — the JVM went away under a failing run
            self.error = e

    def start(self) -> MemorySampler:
        self._thread.start()
        return self

    def stop(self) -> None:
        """Take a last sample and stop; call before the session stops."""
        self._stop.set()
        self._thread.join(timeout=5)
        if self.error is not None:
            raise RuntimeError("memory sampling failed") from self.error
        self._sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0

    @property
    def pss_peak_mb(self) -> float:
        return self.pss_peak_kb / 1024.0

    @property
    def heap_live_peak_mb(self) -> float:
        return self.heap_live_peak_kb / 1024.0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


# -- statistics -----------------------------------------------------------


def quantile(values: list[float], q: float) -> float:
    """Harrell-Davis estimate of the q-quantile (q in 0..1) of a
    non-empty list: a mean of all order statistics weighted by the
    Beta((n+1)q, (n+1)(1-q)) distribution. A tail quantile then does not
    hinge on a single sample, which keeps it steadier from run to run
    than the nearest-rank order statistic."""
    import numpy as np

    x = np.sort(np.asarray(values, dtype=float))
    n = len(x)
    if n == 1:
        return float(x[0])
    a, b = q * (n + 1), (1 - q) * (n + 1)
    # the Beta CDF at i/n by a midpoint sum over a grid of `per` cells per sample
    per = 200
    mid = (np.arange(per * n) + 0.5) / (per * n)
    logpdf = (a - 1) * np.log(mid) + (b - 1) * np.log1p(-mid)
    cdf = np.concatenate([[0.0], np.cumsum(np.exp(logpdf - logpdf.max()))])
    weights = np.diff(cdf[::per] / cdf[-1])
    return float(weights @ x)


def median(values: list[float]) -> float:
    return statistics.median(values)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


# -- checks and the result line -----------------------------------------


@dataclass
class Checks:
    """Correctness tally: every operation attempted, every operation
    that failed or returned a wrong answer, and what was verified."""

    attempted: int = 0
    failed: int = 0
    checked: dict[str, int] = field(default_factory=dict)
    errors: list[str] = field(default_factory=list)

    def verify(self, kind: str, errs: list[str]) -> None:
        """Record one verified output; ``errs`` empty means it matched."""
        self.checked[kind] = self.checked.get(kind, 0) + 1
        if errs:
            self.failed += 1
            self.errors.extend(f"{kind}: {e}" for e in errs[:3])

    def ratio(self) -> float:
        return self.failed / max(self.attempted, 1)


def emit(checks: Checks, metrics: dict[str, tuple[float, str]], extra: dict) -> None:
    """Print the human summary, then the one-line result as the last
    line of standard output."""
    summary = {
        "failed_ratio": round(checks.ratio(), 6),
        "checked": checks.checked,
        "errors": checks.errors[:10],
        **extra,
    }
    print("perfbench summary " + json.dumps(summary, default=str), flush=True)
    print(
        json.dumps(
            {
                "correct": checks.failed == 0 and checks.attempted > 0,
                "attempted": max(checks.attempted, 1),
                "failed": checks.failed if checks.attempted else 1,
                "metrics": {
                    name: {"value": float(v), "unit": unit}
                    for name, (v, unit) in metrics.items()
                },
            }
        ),
        flush=True,
    )


@dataclass
class Outcome:
    """What a workload hands back to the entry point."""

    e2e: dict[str, float]
    layer: dict[str, float]
    checks: Checks
    setup_metric: str  # per-layer name of the repeated set-up step
    setup_walls: list[float]  # one wall time per repetition
    warm_s: float
    extra: dict = field(default_factory=dict)
    setup_once: dict[str, float] = field(default_factory=dict)  # single-shot set-up steps
