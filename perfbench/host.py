"""Host sizing, session set-up, memory sampling and the health stamp.

Every session of the benchmark is sized from the host it runs on:
``local[min(nproc, 4)]``, a JVM heap of an eighth of RAM (1-4 GiB),
console progress off, and temporary space under the benchmark's own work
directory. ``PYTHONPATH`` is exported first, because the Python workers
Spark forks must import ``chronominer_spark`` too.
"""

from __future__ import annotations

import os
import subprocess
import sys
import threading
import time

import pandas as pd


def cores() -> int:
    return min(os.cpu_count() or 1, 4)


def heap_mb() -> int:
    with open("/proc/meminfo", encoding="ascii") as f:
        total_kb = next(int(line.split()[1]) for line in f
                        if line.startswith("MemTotal:"))
    return max(1024, min(4096, total_kb // 8192))


def export_pythonpath(root: str) -> None:
    if root not in sys.path:
        sys.path.insert(0, root)
    parts = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
             if p]
    if root not in parts:
        os.environ["PYTHONPATH"] = os.pathsep.join([root, *parts])
    os.environ["PYSPARK_PYTHON"] = sys.executable


def session_conf(work: str, event_log: str | None = None) -> dict:
    conf = {
        "spark.driver.memory": f"{heap_mb()}m",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        # the JVM's default collector, as build_session leaves it; no
        # perf-data file in the system temporary directory
        "spark.driver.extraJavaOptions":
            f"-Dderby.system.home={os.path.join(work, 'derby')} "
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
            "-XX:-UsePerfData",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + event_log,
                     "spark.eventLog.rolling.enabled": "false",
                     "spark.eventLog.compress": "false"})
    return conf


def _first_udf_job(spark) -> None:
    from pyspark.sql import functions as F

    @F.pandas_udf("long")
    def plus_one(s: pd.Series) -> pd.Series:
        return s + 1

    spark.range(8).select(plus_one("id")).collect()


def set_up(work: str, event_log: str | None = None):
    """Build the session and run the first trivial pandas-UDF job: what
    a user of the engine waits for once per process (JVM launch, context,
    Python worker start). Returns the session, the build seconds and
    the first-job seconds."""
    from chronominer_spark.session import build_session

    t0 = time.perf_counter()
    spark = build_session("perfbench", master=f"local[{cores()}]",
                          shuffle_partitions=cores(),
                          extra_conf=session_conf(work, event_log))
    t1 = time.perf_counter()
    _first_udf_job(spark)
    t2 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    return spark, t1 - t0, t2 - t1


def tear_down(spark) -> None:
    """Stop the session and wait until its JVM has exited: the JVM exits
    when the pipe PySpark holds to its stdin closes, and takes the
    Python workers it forked with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


# ------------------------------------------------------------- memory
def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_rss_mb(root_pid: int) -> float:
    """Resident memory of a process and all its descendants (the Spark
    JVM and the Python workers it forks), in MB. Pages shared between
    forked workers are counted once (proportional set size)."""
    kids = _children()
    total_kb, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/smaps_rollup", encoding="ascii") as f:
                total_kb += next((int(line.split()[1]) for line in f
                                  if line.startswith("Pss:")), 0)
        except OSError:
            continue
    return total_kb / 1024


class PeakRss:
    """Samples :func:`tree_rss_mb` of this process every ``interval``
    seconds on a daemon thread while the context is open."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while True:
            self.peak_mb = max(self.peak_mb, tree_rss_mb(pid))
            if self._stop.wait(self.interval):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_mb = max(self.peak_mb, tree_rss_mb(os.getpid()))


# ------------------------------------------------------------- health
def host_health() -> dict:
    """``bench._host_health`` with probes sized for a 4-core host."""
    import bench

    return bench._host_health(hash_mib=32, write_mib=32)
