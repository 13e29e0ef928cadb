"""Host fitting, session lifecycle, calibration and memory sampling.

Everything here is benchmark-side: the program is driven only through
``pdf_toolkit_spark.spark.session.get_spark`` with extra conf, and the
JVM it launches is stopped and reaped by :meth:`Session.close`.
"""

from __future__ import annotations

import hashlib
import os
import sys
import threading
import time
from pathlib import Path

#: Share of MemTotal given to the driver heap. In local mode the driver
#: JVM is also the executor; the rest of the box stays for the Python
#: workers (one per task), the page cache and co-tenants.
HEAP_SHARE = 0.2
HEAP_MIN_MB = 1024
HEAP_MAX_MB = 80 * 1024


def mem_total_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_heap() -> str:
    mb = int(mem_total_mb() * HEAP_SHARE)
    return f"{max(HEAP_MIN_MB, min(HEAP_MAX_MB, mb))}m"


def prepare_env(root: Path, work: Path) -> None:
    """Process environment the JVM and its forked Python workers inherit:
    the checkout on PYTHONPATH (workers import the package by name, from
    whatever cwd the JVM gives them) and temp files under ``work``."""

    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    paths = [str(root)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ.pop("SPARK_GRAFT_DRIVER_MEM", None)
    if str(root) not in sys.path:
        sys.path.insert(0, str(root))


def calibrate() -> dict[str, float]:
    """bench.py's calibration probe (same two fixed workloads), so results
    taken at different times can be normalised for ambient load."""

    t0 = time.perf_counter()
    x = 0
    for i in range(10_000_000):
        x += i
    cpu_ms = (time.perf_counter() - t0) * 1000
    blk = b"\x00" * (1 << 20)
    t0 = time.perf_counter()
    h = hashlib.md5()
    for _ in range(64):
        h.update(blk)
    md5_ms = (time.perf_counter() - t0) * 1000
    return {"cpu_ms": cpu_ms, "md5_ms": md5_ms}


class Session:
    """One SparkSession at a time on local[cores], restartable in the
    same JVM, with optional uncompressed event logging."""

    def __init__(self, work: Path, cores: int) -> None:
        self.work = work
        self.cores = cores
        self.spark = None
        self.event_dir = work / "eventlog"
        self.event_dir.mkdir(parents=True, exist_ok=True)

    def conf(self, event_log: bool) -> dict[str, str]:
        tmp = self.work / "tmp"
        conf = {
            "spark.driver.memory": driver_heap(),
            "spark.local.dir": str(self.work / "spark-local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.eventLog.enabled": "true" if event_log else "false",
        }
        if event_log:
            # reading back zstd (the default codec) would need the zstandard
            # package; plain JSON lines are read back by eventlog.py.
            conf.update({
                "spark.eventLog.dir": self.event_dir.as_uri(),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",  # one plain file per app
                "spark.eventLog.logBlockUpdates.enabled": "true",  # cached bytes
            })
        return conf

    def start(self, event_log: bool = False):
        from pdf_toolkit_spark.spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark(app_name="perfbench", cores=self.cores,
                               extra_conf=self.conf(event_log))
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def effective_conf(self) -> dict[str, str]:
        keep = ("spark.master", "spark.driver.memory", "spark.sql.shuffle.partitions",
                "spark.default.parallelism", "spark.local.dir",
                "spark.python.worker.reuse", "spark.sql.adaptive.enabled",
                "spark.sql.execution.arrow.maxRecordsPerBatch",
                "spark.eventLog.enabled", "spark.eventLog.compress")
        pairs = dict(self.spark.sparkContext.getConf().getAll())
        pairs["spark.default.parallelism"] = str(self.spark.sparkContext.defaultParallelism)
        return {k: pairs[k] for k in keep if k in pairs}

    def jvm_pid(self) -> int:
        return self.spark.sparkContext._gateway.proc.pid

    def close(self) -> None:
        """Stop Spark, then end the gateway JVM and wait for it to exit."""

        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None


def _tree_rss_kb(root_pid: int) -> int:
    """RSS of a process and all its descendants, from /proc."""

    total, stack = 0, [root_pid]
    while stack:
        pid = stack.pop()
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1])
                        break
            for task in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{task}/children") as fh:
                    stack.extend(int(c) for c in fh.read().split())
        except (FileNotFoundError, ProcessLookupError):
            continue
    return total


class PeakRss:
    """Samples the RSS of a process tree every ``interval`` seconds while
    used as a context manager; ``peak_mb`` is the largest sum seen."""

    def __init__(self, pid: int, interval: float = 0.05) -> None:
        self.pid = pid
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(self.pid))
            self._stop.wait(self.interval)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_kb = max(self.peak_kb, _tree_rss_kb(self.pid))

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024
