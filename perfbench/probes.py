"""Measurements taken from outside the program: process-tree RSS, warehouse
stage spans and Spark's event log."""

from __future__ import annotations

import json
import os
import threading
import time
from collections import defaultdict

_PAGE = os.sysconf("SC_PAGE_SIZE")
_CLK_TCK = os.sysconf("SC_CLK_TCK")
_RSS_INTERVAL_S = 0.1


def _tree_pids(root: int) -> list[int]:
    """``root`` and all its descendants, from /proc/<pid>/stat."""
    children = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:  # the process ended while we listed /proc
            continue
        # the command name sits in parentheses and may contain spaces
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children[ppid].append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def children_pids() -> list[int]:
    """This process's descendants."""
    return _tree_pids(os.getpid())[1:]


def wait_ended(pids: list[int], timeout_s: float) -> bool:
    """Wait until none of ``pids`` runs any more (zombies count as ended);
    False when some still run after ``timeout_s``."""
    deadline = time.monotonic() + timeout_s
    while True:
        alive = []
        for pid in pids:
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    if fh.read().rsplit(")", 1)[1].split()[0] != "Z":
                        alive.append(pid)
            except OSError:
                pass
        if not alive:
            return True
        if time.monotonic() > deadline:
            return False
        time.sleep(0.1)


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants,
    counting descendants that already ended and were waited for."""
    ticks = 0
    for pid in _tree_pids(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # utime, stime, cutime, cstime: fields 14-17 of stat(5)
        ticks += sum(int(f) for f in fields[11:15])
    return ticks / _CLK_TCK


def tree_rss_bytes(root: int) -> int:
    total = 0
    for pid in _tree_pids(root):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except OSError:
            continue
    return total


class PeakRss:
    """Samples the summed RSS of this process and its descendants (the
    driver JVM and the Python workers); use as a context manager around the
    measured work."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while True:
            self.peak = max(self.peak, tree_rss_bytes(me))
            if self._stop.wait(_RSS_INTERVAL_S):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


class StageSpans:
    """A ``sources.io.stage_observer``: records the wall span of each
    warehouse stage and runs the stage's Spark jobs under a job group unique
    to (job, stage), so the event log can attribute jobs and tasks to it."""

    def __init__(self, spark, job_group: str):
        self.sc = spark.sparkContext
        self.job_group = job_group
        self.spans: dict[str, float] = {}
        self._start: dict[str, float] = {}

    def group(self, stage: str) -> str:
        return f"{self.job_group}/{stage}"

    def __call__(self, stage: str, event: str) -> None:
        if event == "start":
            self.sc.setJobGroup(self.group(stage), f"warehouse stage: {stage}")
            self._start[stage] = time.monotonic()
        else:
            self.spans[stage] = time.monotonic() - self._start.pop(stage)
            self.sc.setJobGroup(self.job_group, "")


def event_log_counts(log_dir: str) -> dict[str, dict]:
    """Per job group: jobs, task attempts, failed task attempts and shuffle
    bytes written, read from the JSON event log Spark writes with
    ``spark.eventLog.enabled``."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = defaultdict(
        lambda: {"jobs": 0, "tasks": 0, "failed_tasks": 0, "shuffle_bytes": 0}
    )
    # Spark 4 writes a directory per application holding ``events_<n>_<app>``
    # files (rolled in order of n) beside an empty ``appstatus_<app>`` marker
    logs = [
        (dirpath, int(f.split("_")[1]), f)
        for dirpath, _dirs, files in os.walk(log_dir)
        for f in files
        if f.startswith("events_")
    ]
    for dirpath, _n, name in sorted(logs):
        with open(os.path.join(dirpath, name)) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    out[group]["jobs"] += 1
                    for sid in ev["Stage IDs"]:
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev["Stage ID"])
                    if group is None:
                        continue
                    c = out[group]
                    c["tasks"] += 1
                    if ev["Task Info"].get("Failed"):
                        c["failed_tasks"] += 1
                    shuffle = (ev.get("Task Metrics") or {}).get("Shuffle Write Metrics") or {}
                    c["shuffle_bytes"] += shuffle.get("Shuffle Bytes Written", 0)
    return dict(out)


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total
