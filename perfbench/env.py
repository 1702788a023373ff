"""Environment sizing, the Spark session, and process-tree sampling.

The session is sized from the host: ``local[nproc]`` and a driver heap
taken from ``/proc/meminfo``. Every directory Spark, the JVM and the
Python workers write to points inside the benchmark's work directory,
and the package is shipped to the workers through ``PYTHONPATH``.
"""

from __future__ import annotations

import os
import platform
import subprocess
import tempfile
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def spark_cores() -> int:
    """Task slots of the local session: half the cores, because a task
    that feeds a Python worker keeps two processes busy, the JVM task
    thread and the worker, and more busy processes than cores would time
    the scheduler."""
    return max(1, nproc() // 2)


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory_mb(total_mb: int) -> int:
    # local mode runs every task in the driver JVM; an eighth of the
    # host, capped, leaves room for the Python workers beside it
    return max(1024, min(total_mb // 8, 2048))


def git_commit(root: str) -> str | None:
    """HEAD of the checkout, read from its own ``.git`` (git itself would
    search the directories above it); None when it is not a git checkout."""
    git = os.path.join(root, ".git")
    try:
        with open(os.path.join(git, "HEAD")) as f:
            head = f.read().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[len("ref: "):]
        if os.path.isfile(os.path.join(git, ref)):
            with open(os.path.join(git, ref)) as f:
                return f.read().strip()
        with open(os.path.join(git, "packed-refs")) as f:
            for line in f:
                sha, _, name = line.strip().partition(" ")
                if name == ref:
                    return sha
    except OSError:
        pass
    return None


def describe(root: str, seed: int) -> dict:
    import numpy
    import pyarrow
    import pyspark

    return {
        "nproc": nproc(),
        "spark_cores": spark_cores(),
        "mem_total_mb": mem_total_mb(),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "commit": git_commit(root),
        "seed": seed,
    }


def start_spark(root: str, work: str, *, event_log: bool):
    """A local[spark_cores()] session whose scratch lives under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # inherited by the JVM and, through it, by every Python worker
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    paths = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p and p != root]
    os.environ["PYTHONPATH"] = os.pathsep.join([root, *paths])
    from pyspark.sql import SparkSession

    cores = spark_cores()
    heap = driver_memory_mb(mem_total_mb())
    # the whole heap is committed and touched at start, so the JVM's
    # resident size does not depend on when the collector grew the heap;
    # no JVM may write outside the checkout: not even hsperfdata in /tmp
    java_opts = (
        f"-Xms{heap}m -XX:+AlwaysPreTouch -XX:-UsePerfData"
        f" -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
    )
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("sketch-benchmark")
        .config("spark.driver.memory", f"{heap}m")
        .config("spark.driver.extraJavaOptions", java_opts)
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if event_log:
        ev = os.path.join(work, "events")
        os.makedirs(ev, exist_ok=True)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", f"file://{ev}")
            .config("spark.eventLog.compress", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark, sampler: "TreeSampler", timeout: float = 60.0) -> None:
    """Stop the session, then wait for the JVM and every process it
    started (the Python daemon and workers) to exit."""
    from pyspark import SparkContext

    from py4j.protocol import Py4JError

    gateway = SparkContext._gateway
    try:
        spark.stop()
    except (Py4JError, ConnectionError):
        pass  # the JVM is already gone; still reap it below
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=timeout)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + timeout
    for pid, started in sampler.seen_pids().items():
        while _alive(pid, started) and time.monotonic() < deadline:
            time.sleep(0.05)
        if _alive(pid, started):
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass


def _stat(pid: int) -> list[str]:
    """Fields of /proc/<pid>/stat after the command name: [0] is the
    state (field 3), [1] the ppid, [11:15] utime..cstime, [19] the start
    time, [21] the resident pages."""
    with open(f"/proc/{pid}/stat") as f:
        return f.read().rsplit(")", 1)[1].split()


def _alive(pid: int, started: str) -> bool:
    """Running and not a recycled pid: its start time still matches."""
    try:
        fields = _stat(pid)
    except (OSError, IndexError):
        return False
    return fields[0] != "Z" and fields[19] == started


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            ppid = int(_stat(int(name))[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _tree(root: int) -> list[int]:
    kids = _children()
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(kids.get(pid, ()))
    return out


class TreeSampler:
    """Samples resident memory and CPU time of this process and every
    descendant (the JVM and the Python workers) from ``/proc``, in a
    background thread; psutil is not required."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_rss = 0
        self._pids: dict[int, str] = {}  # pid -> start time
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> "TreeSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    def sample(self) -> tuple[int, float]:
        rss, cpu = 0, 0.0
        for pid in _tree(os.getpid()):
            try:
                fields = _stat(pid)
            except (OSError, IndexError):
                continue
            rss += int(fields[21]) * _PAGE
            # CPU including reaped children, so exited workers still count
            cpu += sum(int(x) for x in fields[11:15]) / _TICK
            if pid != os.getpid():
                self._pids[pid] = fields[19]
        self.peak_rss = max(self.peak_rss, rss)
        return rss, cpu

    def cpu_seconds(self) -> float:
        return self.sample()[1]

    def seen_pids(self) -> dict[int, str]:
        return dict(self._pids)

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()
