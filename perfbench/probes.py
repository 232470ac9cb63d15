"""Process-tree CPU/memory readers and the Spark event-log reader.

The engine runs as one driver process, its JVM, and the JVM's Python
workers (children of the PySpark daemon).  ``tree_cpu_s`` and
``tree_memory_bytes`` walk that tree through ``/proc/<pid>/task/*/children``
so work done in a worker counts the same as work done in the driver.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
from collections import defaultdict
from typing import Dict, Iterable, List, Optional

_TICK = os.sysconf("SC_CLK_TCK")


def _children(pid: int) -> List[int]:
    out: List[int] = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out.extend(int(c) for c in fh.read().split())
        except OSError:
            continue
    return out


def process_tree(root: int) -> List[int]:
    """``root`` and every live descendant."""
    seen, todo = [], [root]
    while todo:
        pid = todo.pop()
        seen.append(pid)
        todo.extend(_children(pid))
    return seen


def _cpu_ticks(pid: int) -> int:
    """utime+stime of the process plus cutime+cstime of its reaped
    children, so a worker that exits inside the tree is still counted."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            rest = fh.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return 0
    return sum(int(x) for x in rest[11:15])


def tree_cpu_s(root: Optional[int] = None) -> float:
    """User+system CPU seconds of the whole process tree under ``root``."""
    return sum(_cpu_ticks(p) for p in process_tree(root or os.getpid())) / _TICK


def _pss(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, ValueError):
        pass
    return 0


def tree_memory_bytes(root: Optional[int] = None) -> int:
    """Summed proportional resident set (PSS) of the process tree under
    ``root``.  PSS splits a page shared by n processes n ways, so a
    forked child (a Python worker forked from the PySpark daemon, or a
    JVM child between fork and exec) adds only the memory it owns."""
    return sum(_pss(p) for p in process_tree(root or os.getpid()))


class PeakMemory:
    """Samples ``tree_memory_bytes`` on a background thread until stopped."""

    def __init__(self, interval_s: float = 0.2, root: Optional[int] = None):
        self.interval_s = interval_s
        self.root = root or os.getpid()
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, tree_memory_bytes(self.root))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "PeakMemory":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, tree_memory_bytes(self.root))


# -- Spark event log ---------------------------------------------------------


def _task_metrics(tm: dict) -> Dict[str, float]:
    sr = tm.get("Shuffle Read Metrics", {})
    sw = tm.get("Shuffle Write Metrics", {})
    return {
        "executor_cpu_s": tm.get("Executor CPU Time", 0) / 1e9,
        "executor_run_s": tm.get("Executor Run Time", 0) / 1e3,
        "jvm_gc_s": tm.get("JVM GC Time", 0) / 1e3,
        "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
        "shuffle_read_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "spill_bytes": tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0),
        "peak_exec_mem_bytes": tm.get("Peak Execution Memory", 0),
    }


def read_event_log(lines: Iterable[str]) -> Dict[str, Dict[str, float]]:
    """Aggregate task metrics per job group (``SparkContext.setJobGroup``).

    Per group: executor CPU/run/GC seconds, shuffle read/write and spill
    bytes (summed over tasks), the largest task peak execution memory,
    the task count, and ``task_skew`` — max over median task duration in
    the group's busiest stage (the stage with the most executor run time,
    the mapInArrow stage for an extraction job)."""
    stage_group: Dict[int, str] = {}
    tasks: Dict[str, list] = defaultdict(list)
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group:
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = group
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev.get("Stage ID"))
            if group is None or not ev.get("Task Metrics"):
                continue
            info = ev["Task Info"]
            tasks[group].append(
                (ev["Stage ID"], info["Finish Time"] - info["Launch Time"],
                 _task_metrics(ev["Task Metrics"]))
            )
    out: Dict[str, Dict[str, float]] = {}
    for group, rows in tasks.items():
        agg: Dict[str, float] = defaultdict(float)
        run_by_stage: Dict[int, float] = defaultdict(float)
        for stage, _, m in rows:
            run_by_stage[stage] += m["executor_run_s"]
            for k, v in m.items():
                if k == "peak_exec_mem_bytes":
                    agg[k] = max(agg[k], v)
                else:
                    agg[k] += v
        busiest = max(run_by_stage, key=run_by_stage.get)
        durations = [d for s, d, _ in rows if s == busiest]
        agg["tasks"] = len(rows)
        agg["task_skew"] = max(durations) / max(statistics.median(durations), 1)
        out[group] = dict(agg)
    return out


def _event_files(app_dir: str) -> List[str]:
    """The ``events_<n>_<app>`` parts of a rolling (v2) log, in order."""
    parts = [n for n in os.listdir(app_dir) if n.startswith("events_")]
    parts.sort(key=lambda n: int(n.split("_")[1]))
    return [os.path.join(app_dir, n) for n in parts]


def event_log_metrics(log_dir: str) -> Dict[str, Dict[str, float]]:
    """Read every uncompressed application log in ``log_dir``, whether a
    single file or a rolling ``eventlog_v2_*`` directory."""
    out: Dict[str, Dict[str, float]] = {}
    for name in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, name)
        files = _event_files(path) if os.path.isdir(path) else [path]

        def lines():
            for f in files:
                with open(f) as fh:
                    yield from fh

        out.update(read_event_log(lines()))
    return out
