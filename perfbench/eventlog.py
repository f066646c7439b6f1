"""Read Spark's own event log into per-job-group layer totals.

The benchmark tags every layer call with ``setJobGroup(<layer>, ...)``,
so each job's group id names the layer that caused it.  This module
folds the uncompressed JSON-lines log Spark writes under
``spark.eventLog.dir`` into, per group:

    jobs, stages, tasks, failed_tasks, task_s, cpu_s, gc_s,
    shuffle_read_bytes, shuffle_write_bytes, spill_bytes,
    busy intervals (job submit -> end)

plus the SQL metrics Spark attaches to stage accumulables (scan time,
Python worker start/init/run time, bytes to/from Python workers).
"""

from __future__ import annotations

import json
from collections import defaultdict
from pathlib import Path

# stage accumulable name -> (our key, scale to seconds/bytes)
_SQL_METRICS = {
    "scan time": ("scan_s", 1e-3),
    "time to start Python workers": ("py_start_s", 1e-3),
    "time to initialize Python workers": ("py_init_s", 1e-3),
    "time to run Python workers": ("py_run_s", 1e-3),
    "data sent to Python workers": ("bytes_to_py", 1),
    "data returned from Python workers": ("bytes_from_py", 1),
}

_COUNTERS = ("jobs", "stages", "tasks", "failed_tasks", "task_s", "cpu_s",
             "gc_s", "shuffle_read_bytes", "shuffle_write_bytes",
             "spill_bytes",
             *(k for k, _ in _SQL_METRICS.values()))


_WANTED = tuple('{"Event":"SparkListener%s"' % k for k in
                ("JobStart", "JobEnd", "StageCompleted", "TaskEnd"))


class GroupTotals:
    """Counters plus the wall intervals covered by one group's jobs."""

    def __init__(self):
        self.c = dict.fromkeys(_COUNTERS, 0.0)
        self.intervals: list[tuple[float, float]] = []

    def __getitem__(self, key):
        return self.c[key]


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def read_event_log(log_dir: str | Path) -> dict[str, GroupTotals]:
    """Fold every event file under log_dir; groups keyed by job group
    id ('' for untagged jobs).  Call after the SparkContext stopped so
    the log is flushed and complete."""
    groups: dict[str, GroupTotals] = defaultdict(GroupTotals)
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    files = [p for p in sorted(Path(log_dir).rglob("*"))
             if p.is_file() and not p.name.startswith((".", "appstatus"))]
    for path in files:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                # the SQL plan events are most of the bytes; skip them
                # before paying for a JSON parse
                if not line.startswith(_WANTED):
                    continue
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    jid = ev["Job ID"]
                    job_group[jid] = g
                    job_start[jid] = ev["Submission Time"] / 1e3
                    groups[g].c["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = g
                elif kind == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    g = job_group.get(jid, "")
                    groups[g].intervals.append(
                        (job_start.get(jid, ev["Completion Time"] / 1e3),
                         ev["Completion Time"] / 1e3))
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    g = stage_group.get(info["Stage ID"], "")
                    tot = groups[g].c
                    tot["stages"] += 1
                    for acc in info.get("Accumulables", []):
                        m = _SQL_METRICS.get(acc.get("Name"))
                        if m:
                            tot[m[0]] += _num(acc.get("Value")) * m[1]
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev["Stage ID"], "")
                    tot = groups[g].c
                    info = ev.get("Task Info") or {}
                    tot["tasks"] += 1
                    if info.get("Failed"):
                        tot["failed_tasks"] += 1
                    tm = ev.get("Task Metrics") or {}
                    tot["task_s"] += _num(tm.get("Executor Run Time")) / 1e3
                    tot["cpu_s"] += _num(tm.get("Executor CPU Time")) / 1e9
                    tot["gc_s"] += _num(tm.get("JVM GC Time")) / 1e3
                    tot["spill_bytes"] += (_num(tm.get("Memory Bytes Spilled"))
                                           + _num(tm.get("Disk Bytes Spilled")))
                    sr = tm.get("Shuffle Read Metrics") or {}
                    tot["shuffle_read_bytes"] += (
                        _num(sr.get("Remote Bytes Read"))
                        + _num(sr.get("Local Bytes Read")))
                    sw = tm.get("Shuffle Write Metrics") or {}
                    tot["shuffle_write_bytes"] += _num(sw.get("Shuffle Bytes Written"))
    return dict(groups)


def covered_s(intervals, lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of intervals."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def merged(groups: dict[str, GroupTotals], names) -> GroupTotals:
    """Sum of the named groups (missing names count as zero)."""
    out = GroupTotals()
    for n in names:
        g = groups.get(n)
        if g is None:
            continue
        for k, v in g.c.items():
            out.c[k] += v
        out.intervals.extend(g.intervals)
    return out
