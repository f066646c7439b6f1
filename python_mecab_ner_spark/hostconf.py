"""Spark session sizing derived from the host the job runs on."""

from __future__ import annotations


def driver_memory() -> str:
    """spark.driver.memory: an eighth of MemTotal, clamped to 1-8 GiB
    (e.g. "1920m" on a 15 GB host).  MemTotal, not MemAvailable, so
    the heap does not drift with whatever else the host is doing."""
    with open("/proc/meminfo") as fh:
        kb = next(int(line.split()[1]) for line in fh
                  if line.startswith("MemTotal:"))
    return f"{max(1024, min(kb // 8 // 1024, 8192))}m"
