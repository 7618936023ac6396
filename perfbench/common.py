"""Shared helpers: process environment, statistics, memory, Spark set-up."""

from __future__ import annotations

import os
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


@dataclass
class Context:
    """One benchmark run: its arguments, scratch directory and tallies."""

    workload: str
    seed: int
    seconds: float
    trace: bool
    work: str
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    report: dict = field(default_factory=dict)

    def fail(self, what: str) -> None:
        self.failed += 1
        self.failures.append(what)


def configure_env(work: str) -> None:
    """Environment for the engine's processes.

    ``PYTHONPATH`` carries the checkout root: Spark's Python workers are
    fresh interpreters that import ``karna_spark`` by name when an Arrow
    UDF or ``mapInPandas`` body refers to it, and they see only the
    driver's environment, not its ``sys.path``. Spark's and the JVM's
    scratch files go under ``work`` so the run writes nowhere else. The
    driver heap is pinned at 1 GB: sf0.01 needs far less, and a fixed
    heap keeps the JVM's resident size comparable from run to run."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    os.environ["PYTHONUNBUFFERED"] = "1"
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def generate(out_dir: str, seed: int, scale: float, batches: int = 0) -> None:
    """Write the seeded inputs (in a child process, see gen.py)."""
    subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), out_dir,
                    str(seed), str(scale), str(batches)], check=True, timeout=120)


def start_spark(work: str):
    """The engine's session, as the server and CLI build it."""
    from karna_spark.session import get_spark

    return get_spark(app_name="perfbench",
                     extra_confs={"spark.sql.warehouse.dir": os.path.join(work, "warehouse")})


def stop_spark(spark) -> None:
    """Stop the session and the JVM PySpark launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def median(xs: list[float]) -> float:
    return statistics.median(xs)


def percentile(xs: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    s = sorted(xs)
    pos = (len(s) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def _status(pid: int, key: str) -> str | None:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(key + ":"):
                    return line.split(":", 1)[1].strip()
    except OSError:
        return None
    return None


def peak_rss_mb(pid: int) -> float:
    """Peak resident memory (VmHWM) of the Python process ``pid`` plus
    the JVM it launched."""
    total_kb = 0
    for p in [pid] + [c for c in descendants(pid) if _status(c, "Name") == "java"]:
        hwm = _status(p, "VmHWM")
        if hwm:
            total_kb += int(hwm.split()[0])
    return total_kb / 1024.0


def wait_gone(pids: list[int], timeout: float) -> list[int]:
    """Wait until none of ``pids`` exists; return those still alive."""
    def running(pid: int) -> bool:
        state = _status(pid, "State")
        return state is not None and not state.startswith("Z")

    deadline = time.monotonic() + timeout
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if running(p)]
        if alive:
            time.sleep(0.1)
    return alive


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) CPU time of the host so far, from /proc/stat. Steal
    is time a virtual machine's CPUs were runnable but not running, so its
    share over a window tells how far other tenants slowed that run."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def steal_share(start: tuple[int, int]) -> float:
    steal, total = cpu_jiffies()
    return (steal - start[0]) / max(total - start[1], 1)


def persistent_rdds(spark) -> int:
    return int(spark.sparkContext._jsc.getPersistentRDDs().size())


def cached_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / (1 << 20)
