"""Host facts, host-sized Spark sessions, and process-tree RSS sampling.

Everything host-dependent is derived here from the machine the
benchmark runs on: the core count (CPU affinity), driver memory
(an eighth of MemTotal, 1 to 8 GiB), and shuffle partitions
(one per core).
"""

from __future__ import annotations

import hashlib
import importlib.metadata
import os
import subprocess
import threading
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def cores() -> int:
    return len(os.sched_getaffinity(0))


def meminfo_kb(key: str) -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    raise KeyError(key)


def driver_memory_mb() -> int:
    # MemTotal, not MemAvailable: the heap size must not drift with
    # whatever else the host is doing between runs
    return max(1024, min(meminfo_kb("MemTotal") // 8 // 1024, 8192))


def loadavg_1m() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def _version(dist: str) -> str | None:
    try:
        return importlib.metadata.version(dist)
    except importlib.metadata.PackageNotFoundError:
        return None


def _git_commit() -> str | None:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=REPO,
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    if out.returncode != 0:
        return None
    return out.stdout.strip() or None


def source_sha() -> str:
    """Content hash of the program's and the benchmark's Python sources:
    identifies the code under test when the checkout is not a git
    repository."""
    h = hashlib.sha256()
    for p in sorted([*(REPO / "python_mecab_ner_spark").rglob("*.py"),
                     *(REPO / "perfbench").glob("*.py")]):
        h.update(p.relative_to(REPO).as_posix().encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def facts() -> dict:
    return {
        "cores": cores(),
        "mem_total_mb": meminfo_kb("MemTotal") // 1024,
        "driver_memory_mb": driver_memory_mb(),
        "loadavg_1m_start": loadavg_1m(),
        "spark": _version("pyspark"),
        "pyarrow": _version("pyarrow"),
        "duckdb": _version("duckdb"),
        "pandas": _version("pandas"),
        "git_commit": _git_commit(),
        "source_sha": source_sha(),
    }


def confine_to(work: Path) -> None:
    """Point every scratch location Spark and Python use at `work`, so
    the run reads and writes only inside the checkout.  Must run before
    the JVM starts."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # Python workers import the program from the checkout root
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(REPO), os.environ.get("PYTHONPATH")) if p)
    import tempfile
    tempfile.tempdir = None  # re-read TMPDIR


def spark_session(work: Path, event_log: Path | None = None):
    """A local[cores] session sized from the host.  With event_log, an
    uncompressed, non-rolling Spark event log is written there."""
    from pyspark.sql import SparkSession
    n = cores()
    b = (SparkSession.builder.master(f"local[{n}]")
         .appName("perfbench")
         .config("spark.driver.memory", f"{driver_memory_mb()}m")
         .config("spark.driver.extraJavaOptions",
                 f"-Djava.io.tmpdir={work / 'tmp'}")
         .config("spark.local.dir", str(work / "spark-local"))
         .config("spark.sql.warehouse.dir", str(work / "warehouse"))
         .config("spark.sql.shuffle.partitions", str(n))
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.eventLog.enabled", str(event_log is not None).lower()))
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        b = (b.config("spark.eventLog.dir", str(event_log))
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false")
             # the AQE plan-update events carry whole plan strings
             # (MBs each); cap them so the log stays small to write
             .config("spark.sql.maxPlanStringLength", "2000"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop the Py4J gateway JVM this process launched (if any) and wait
    for it to exit; its Python workers end with it."""
    from pyspark import SparkContext
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.terminate()
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_rss_mb() -> float:
    """RSS of this process plus all its descendants: the driver JVM and
    the Python workers are children of this one."""
    kids = _children()
    todo, total = [os.getpid()], 0
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1])
        except (OSError, IndexError, ValueError):
            continue
    return total * os.sysconf("SC_PAGE_SIZE") / 2**20


class RssSampler:
    """Background thread recording the peak tree RSS while active."""

    def __init__(self, period_s: float = 1.0):
        self.period_s = period_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            self._stop.wait(self.period_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_mb = max(self.peak_mb, tree_rss_mb())


def control_sec() -> float:
    """Zero-Spark host-speed probe (bench._control_sec): the kernel
    pipeline over a process pool of one worker per core.  A ratio far
    from 1.0 between the probes before and after a run marks a noisy
    window."""
    import bench
    n = cores()
    return bench._control_sec(docs=200 * n, procs=n)
