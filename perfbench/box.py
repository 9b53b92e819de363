"""Fit the Spark session to the machine the benchmark runs on, without
editing the package: cores from the CPU affinity mask, driver heap from
the RAM, and every scratch directory (Spark local/shuffle dirs, JVM and
Python temp files, the SQL warehouse) under the benchmark's work
directory. Also reads the process tree for memory and shutdown."""

from __future__ import annotations

import os
import platform
import signal
import subprocess
import threading
import time
from pathlib import Path


def cores() -> int:
    return len(os.sched_getaffinity(0))


def ram_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_heap_mb() -> int:
    """A quarter of the RAM, between 1 GiB and 8 GiB: local mode runs
    the executors inside the driver JVM, and the machine is shared."""
    return max(1024, min(8192, ram_mb() // 4))


def prepare_env(work: Path) -> dict[str, str]:
    """Environment for the JVM and the Python workers (inherited at
    launch) plus the Spark settings that keep their files in `work`."""
    tmp = work / "tmp"
    local = work / "spark-local"
    for d in (tmp, local):
        d.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["SPARK_DRIVER_MEM"] = f"{driver_heap_mb()}m"
    return {
        "spark.local.dir": str(local),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        # -XX:-UsePerfData keeps the JVM out of /tmp/hsperfdata_*
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
        # the tracer reads per-job counters from the status store
        "spark.ui.retainedJobs": "20000",
        "spark.ui.retainedStages": "20000",
        "spark.ui.retainedTasks": "200000",
    }


def start_session(extra: dict[str, str]):
    from yacy_grid_crawler_spark.session import get_spark

    return get_spark(app="perfbench", cores=cores(), extra=extra)


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
    kids = _children()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(key):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssPeak:
    """Peak resident memory, sampled every `interval` seconds by a daemon
    thread between `start` and `stop`: `engine_mb` is the largest sum of
    VmRSS over this process's descendants (the Spark JVM and its Python
    workers), `driver_mb` that of this process, which also holds the
    benchmark's generated inputs and check data."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.engine_kb = 0
        self.driver_kb = 0
        self._done = threading.Event()
        self._thread: threading.Thread | None = None

    def sample(self) -> None:
        engine = sum(_status_kb(p, "VmRSS:") for p in descendants(os.getpid()))
        self.engine_kb = max(self.engine_kb, engine)
        self.driver_kb = max(self.driver_kb, _status_kb(os.getpid(), "VmRSS:"))

    def _loop(self) -> None:
        while not self._done.wait(self.interval):
            self.sample()

    def start(self) -> None:
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._done.set()
        self._thread.join(timeout=10)
        self.sample()

    @property
    def engine_mb(self) -> float:
        return self.engine_kb / 1024.0

    @property
    def driver_mb(self) -> float:
        return self.driver_kb / 1024.0


def cpu_ticks() -> list[int]:
    """The machine-wide CPU counters of /proc/stat: user, nice, system,
    idle, iowait, irq, softirq, steal."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def describe(spark, ticks0: list[int]) -> dict:
    """The machine and its state; `steal` is the share of CPU time the
    hypervisor took from this machine since `ticks0` were read."""
    import pyspark

    delta = [b - a for a, b in zip(ticks0, cpu_ticks())]
    return {
        "nproc": cores(),
        "ram_mb": ram_mb(),
        "driver_heap_mb": driver_heap_mb(),
        "loadavg": list(os.getloadavg()),
        "steal": delta[7] / max(sum(delta), 1),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
    }


def shutdown(spark) -> None:
    """Stop Spark, close the JVM and wait until every descendant has
    ended; whatever is still alive after the grace period is killed."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if spark is not None:
        spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    for attempt in range(2):
        deadline = time.time() + 15
        while time.time() < deadline:
            _reap()
            left = descendants(os.getpid())
            if not left:
                return
            time.sleep(0.2)
        for p in left:
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass


def _reap() -> None:
    """Collect exit statuses of direct children that have ended."""
    try:
        while os.waitpid(-1, os.WNOHANG)[0] > 0:
            pass
    except ChildProcessError:
        pass
