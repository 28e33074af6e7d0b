"""Shared machinery for the benchmark workloads: the work directory inside
the checkout, the Spark session, latency statistics, peak-RSS sampling and
the calibration probes from ``bench.py``.

Nothing here runs at import time except path constants; ``prepare_env``
must be called before pyspark is imported so every scratch file the JVM,
Spark and the Python workers write lands inside the checkout.
"""

from __future__ import annotations

import math
import os
import shlex
import shutil
import statistics
import sys
import threading
import time

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
CPUS = 4  # one local[4] executor pool: the benchmark host has 4 cores
DRIVER_MEM = "1g"


def prepare_env() -> None:
    """Point every scratch location of the driver, the JVM and the Python
    workers into ``WORK`` (emptied of an earlier run's scratch) and make the
    repo importable."""
    for sub in ("tmp", "spark-local", "warehouse"):
        shutil.rmtree(os.path.join(WORK, sub), ignore_errors=True)
        os.makedirs(os.path.join(WORK, sub))
    tmp = os.path.join(WORK, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # -XX:-UsePerfData: no hsperfdata file under the system /tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(
        [
            "--conf", "spark.ui.showConsoleProgress=false",
            "--conf", f"spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
            "--conf",
            f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "pyspark-shell",
        ]
    )
    import tempfile

    tempfile.tempdir = tmp
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_session(ui: bool):
    from incubator_horaedb_spark.session import get_spark

    spark = get_spark("perfbench", cpus=CPUS, ui=ui)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then end the gateway JVM (it exits when its stdin
    closes) and wait for it, so no process of the run outlives it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.close()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


# ---------------------------------------------------------- timed window --


class Window:
    """One timed window: the latency in ms of every op it ran, by kind, the
    share of CPU time stolen by the hypervisor while each ran, and the
    window's wall.  A unit of a workload (a ``tsdb_mixed`` cycle, a
    ``curation`` pass) runs each of its op kinds once."""

    def __init__(self):
        self.ms: dict[str, list[float]] = {}
        self.steal: dict[str, list[float]] = {}
        self.wall_s = 0.0

    @property
    def n_ops(self) -> int:
        return sum(len(xs) for xs in self.ms.values())

    def run(self, kind: str, op) -> None:
        """Runs ``op`` (it returns its latency in ms) and records it with
        the steal share while it ran."""
        ticks = cpu_ticks()
        self.ms.setdefault(kind, []).append(op())
        self.steal.setdefault(kind, []).append(steal_pct(ticks, cpu_ticks()))

    def _unit_ops_per_s(self, latency) -> float:
        unit_ms = sum(
            statistics.median(latency(ms, st) for ms, st in zip(self.ms[k], self.steal[k]))
            for k in self.ms
        )
        return len(self.ms) * 1000.0 / unit_ms

    def ops_per_s(self) -> float:
        """Completed ops ÷ wall of one unit, with each op taken at the
        median steal-adjusted latency of its kind over the window.  A
        stall that slows a few ops moves the median by no more than one
        sample of each kind it hits."""
        return self._unit_ops_per_s(steal_adjusted)

    def raw_ops_per_s(self) -> float:
        """``ops_per_s`` without the steal adjustment."""
        return self._unit_ops_per_s(lambda ms, _st: ms)

    def detail(self) -> dict:
        return {
            "n_ops": self.n_ops,
            "wall_s": self.wall_s,
            "samples": {k: len(xs) for k, xs in self.ms.items()},
            "ms": self.ms,
            "steal_pct": self.steal,
        }


def run_window(steps, seconds: float, unit_s: float) -> Window:
    """Runs ``steps`` (one unit's ``(kind, op)`` pairs; ``op()`` returns its
    latency in ms) as whole units, as many as the nominal ``unit_s`` fits
    into ``seconds``, at least one: every run does the same work."""
    w = Window()
    t0 = time.perf_counter()
    for _ in range(max(1, round(seconds / unit_s))):
        for kind, op in steps:
            w.run(kind, op)
    w.wall_s = time.perf_counter() - t0
    return w


# ------------------------------------------------------------- statistics --

TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    k = (len(xs) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail(values: list[float]) -> tuple[float, str]:
    """The highest candidate percentile with at least ten samples beyond
    it, with its label.  Below 20 samples no candidate qualifies; the
    maximum is reported then and labelled ``max``, so a reader sees that
    the tail rests on fewer samples than the rule asks for."""
    n = len(values)
    for p in TAIL_CANDIDATES:
        if n * (100.0 - p) / 100.0 >= 10:
            return percentile(values, p), f"p{p:g}"
    return max(values), "max"


def summarize(values: list[float]) -> dict:
    if not values:
        return {"n": 0}
    t, label = tail(values)
    return {
        "n": len(values),
        "p50": statistics.median(values),
        "tail": t,
        "tail_pct": label,
    }


# -------------------------------------------------------------- peak RSS --


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; the ppid follows its ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_rss_mb(root_pid: int) -> dict[str, float]:
    """RSS in MB of ``root_pid`` and every descendant, by command name: the
    Python driver, the driver JVM it launched and the JVM's Python
    workers."""
    kids = _children_map()
    out: dict[str, float] = {}
    stack = [root_pid]
    while stack:
        pid = stack.pop()
        try:
            with open(f"/proc/{pid}/comm") as f:
                name = f.read().strip()
        except OSError:
            name = "?"
        out[name] = out.get(name, 0.0) + _rss_kb(pid) / 1024.0
        stack.extend(kids.get(pid, ()))
    return out


class RssSampler:
    """Samples the process tree's summed RSS on a background thread; the
    peak is the largest sample, ``peak_by_name`` its split by command."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self.peak_by_name: dict[str, float] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        by_name = tree_rss_mb(os.getpid())
        total = sum(by_name.values())
        if total > self.peak_mb:
            self.peak_mb, self.peak_by_name = total, by_name

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()


# ---------------------------------------------------------- calibration --


def calibration(spark) -> dict:
    """``bench._jvm_spin_sec``, a fixed JVM codegen aggregation (CPU
    speed), recorded so a throttled VM window is visible next to the
    metrics.  ``bench._py_spin_sec`` (3-4 s) and
    ``bench._driver_roundtrip_sec`` (2-3.5 s) are left out: they do not
    fit the benchmark's time envelope, and the steal share of each op
    shows a contended host more directly."""
    import bench

    return {"jvm_spin_s": bench._jvm_spin_sec(spark)}


def cpu_ticks() -> tuple[int, int]:
    """(stolen, wanted) CPU ticks of the machine so far, from
    ``/proc/stat``: ``wanted`` is every tick a CPU was busy or runnable
    (user, nice, system, irq, softirq, steal), ``stolen`` the part the
    hypervisor ran other guests instead."""
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq, steal = (
            int(x) for x in f.readline().split()[1:9]
        )
    return steal, user + nice + system + irq + softirq + steal


# Op latency against the steal share ``s`` while the op ran, fitted within
# each op kind over 325 ops of 40 sizing runs on the 4-core host:
# log(latency) rises 1.6x as fast as -log(1 - s) (1.62 on tsdb_mixed, 1.59
# on curation, 1.3-2.1 by op kind).  One power is the time the VM was not
# given; the rest is the slower running of the time it was given while the
# neighbours that take it share the machine's cores and caches.
STEAL_EXPONENT = 1.6


def steal_adjusted(value: float, steal: float) -> float:
    """A time measured while ``steal`` percent of the wanted CPU time was
    stolen, brought to what it would read on an uncontended host."""
    return value * (1.0 - steal / 100.0) ** STEAL_EXPONENT


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of the CPU time wanted in between that the hypervisor gave to
    other guests: high values mark a window the host was contended."""
    wanted = after[1] - before[1]
    return 100.0 * (after[0] - before[0]) / wanted if wanted else 0.0


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total
