"""Spans, Spark job attribution and process-tree memory for the benchmark.

A span is recorded around every call the benchmark makes into one
engine layer: name, start, end and parent, in memory, written out when
the run ends. In a traced run each span also becomes the Spark job
group of the jobs it starts, and a Spark event log (enabled at submit
time, outside the engine) gives the jobs, tasks, executor time,
shuffle and spill of each span.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager

GROUP_PREFIX = "perfbench-span-"


def seconds_since_process_start() -> float:
    """Wall time since this process started, from /proc (10 ms ticks)."""
    with open("/proc/self/stat") as f:
        # the command name (field 2) may hold spaces: split after it
        fields = f.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process ended while we listed it
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass  # the process ended
    return 0


class TreeMemory:
    """Resident memory of this process and its descendants (driver,
    JVM, Python workers), as the largest sum over samples of their
    proportional set sizes: pages the forked Python workers share with
    their parent count once, so the figure does not grow with how many
    idle workers Spark happens to keep."""

    def __init__(self) -> None:
        self.peak_kb = 0

    def sample(self) -> None:
        total = sum(_pss_kb(pid) for pid in _tree_pids(os.getpid()))
        self.peak_kb = max(self.peak_kb, total)

    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


class Tracer:
    """Records spans; with ``traced`` also tags Spark jobs per span."""

    def __init__(self, traced: bool):
        self.traced = traced
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._sc = None
        self.phase = "setup"  # then "warmup", then "timed"

    def attach(self, sc) -> None:
        """Start tagging jobs once a SparkContext exists."""
        self._sc = sc

    def _set_group(self, sid: int | None) -> None:
        if not (self.traced and self._sc is not None):
            return
        if sid is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self._sc.setJobGroup(f"{GROUP_PREFIX}{sid}", self.spans[sid]["name"])

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "phase": self.phase,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_group(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def durations(self, name: str, phase: str | None = None) -> list[float]:
        """Durations of the spans called ``name`` (of one phase if given)."""
        return [
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name and phase in (None, s["phase"])
        ]

    def write(self, path: str, origin: float) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(
                    json.dumps(
                        {**s, "start": s["start"] - origin, "end": s["end"] - origin}
                    )
                    + "\n"
                )


def empty_stats() -> dict:
    return {
        "jobs": 0,
        "tasks": 0,
        "executor_run_s": 0.0,
        "shuffle_write_mb": 0.0,
        "spill_mb": 0.0,
    }


def span_job_stats(event_dir: str) -> dict[int, dict]:
    """Per span id: Spark jobs started under it, and the tasks, executor
    run time, shuffle bytes written and bytes spilled of those jobs,
    read from the event log the traced run wrote into ``event_dir``."""
    files = glob.glob(os.path.join(event_dir, "*"))
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {event_dir}, found {files}")
    stage_span: dict[int, int] = {}
    stats: dict[int, dict] = {}
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                if not group.startswith(GROUP_PREFIX):
                    continue
                sid = int(group[len(GROUP_PREFIX):])
                stats.setdefault(sid, empty_stats())["jobs"] += 1
                for st in ev.get("Stage IDs", ()):
                    stage_span.setdefault(st, sid)
            elif kind == "SparkListenerTaskEnd":
                sid = stage_span.get(ev.get("Stage ID"))
                m = ev.get("Task Metrics")
                if sid is None or not m:
                    continue
                s = stats[sid]
                s["tasks"] += 1
                s["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
                sw = m.get("Shuffle Write Metrics") or {}
                s["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
                s["spill_mb"] += (
                    m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                ) / 2**20
    return stats
