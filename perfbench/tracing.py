"""Measurement helpers: percentiles, request spans, the Spark event-log
parser and peak resident memory from /proc.

Spans are recorded by the benchmark's own code around the package's
public calls; they stay in memory until the run ends.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager


def percentile(xs: list[float], q: float) -> float:
    """Linear-interpolated ``q``-th percentile (0..100) of ``xs``."""
    if not xs:
        return 0.0
    s = sorted(xs)
    pos = (len(s) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def median(xs: list[float]) -> float:
    return percentile(xs, 50.0)


class Tracer:
    """In-memory spans ``(request id, name, kind, start, end, parent)``.

    Disabled tracers record nothing, so untraced runs pay one attribute
    test per span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.rid: str | None = None

    @contextmanager
    def span(self, name: str, kind: str | None = None):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append({"rid": self.rid, "name": name, "kind": kind,
                           "start": time.perf_counter(), "end": None,
                           "parent": parent})
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = time.perf_counter()

    def wrap(self, name: str, fn):
        """``fn`` with every call recorded as a span named ``name``."""
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return traced

    def durations(self, name: str) -> list[float]:
        """Durations of the finished ``name`` spans inside timed requests."""
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["rid"] and s["end"] is not None]

    def self_times(self) -> list[float]:
        """Per span: its duration minus the part its children cover."""
        covered = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                covered[s["parent"]] += s["end"] - s["start"]
        return [max(0.0, (s["end"] - s["start"]) - covered[i])
                if s["end"] is not None else 0.0
                for i, s in enumerate(self.spans)]

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as f:
            for s, st in zip(self.spans, selfs):
                f.write(json.dumps(dict(s, self=st)) + "\n")


#: Counters summed per job group from the event log's task metrics.
SPARK_COUNTERS = ("jobs", "tasks", "job_wall_s", "executor_run_ms",
                  "executor_cpu_ms", "gc_ms", "input_bytes",
                  "shuffle_write_bytes", "spill_bytes", "result_bytes")

#: Key for jobs and tasks that ran outside every job group.
UNGROUPED = ""


def parse_event_log(path: str) -> dict[str, dict[str, float]]:
    """Per job group counters from an uncompressed Spark event log.

    Jobs are assigned to the group in their start properties, tasks to
    the group their stage was submitted under (falling back to the
    job that listed the stage). Work outside any group is reported
    under :data:`UNGROUPED`, never dropped."""
    groups: dict[str, dict[str, float]] = defaultdict(
        lambda: dict.fromkeys(SPARK_COUNTERS, 0))
    job_group: dict[int, str] = {}
    job_start: dict[int, int] = {}
    stage_group: dict[int, str] = {}
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            ev = e.get("Event")
            if ev == "SparkListenerJobStart":
                g = (e.get("Properties") or {}).get("spark.jobGroup.id") \
                    or UNGROUPED
                jid = e["Job ID"]
                job_group[jid] = g
                job_start[jid] = e["Submission Time"]
                groups[g]["jobs"] += 1
                for sid in e.get("Stage IDs", []):
                    stage_group.setdefault(sid, g)
            elif ev == "SparkListenerStageSubmitted":
                props = e.get("Properties") or {}
                sid = e["Stage Info"]["Stage ID"]
                stage_group[sid] = props.get("spark.jobGroup.id") or UNGROUPED
            elif ev == "SparkListenerJobEnd":
                jid = e["Job ID"]
                if jid in job_start:
                    groups[job_group[jid]]["job_wall_s"] += (
                        e["Completion Time"] - job_start[jid]) / 1000.0
            elif ev == "SparkListenerTaskEnd":
                g = stage_group.get(e["Stage ID"], UNGROUPED)
                m = e.get("Task Metrics") or {}
                c = groups[g]
                c["tasks"] += 1
                c["executor_run_ms"] += m.get("Executor Run Time", 0)
                c["executor_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                c["gc_ms"] += m.get("JVM GC Time", 0)
                c["input_bytes"] += (m.get("Input Metrics") or {}).get(
                    "Bytes Read", 0)
                c["shuffle_write_bytes"] += (
                    m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                c["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                c["result_bytes"] += m.get("Result Size", 0)
    return dict(groups)


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = defaultdict(list)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # The command name may hold spaces; fields restart after ')'.
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children[ppid].append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def peak_rss_mb() -> float:
    """Sum of VmHWM over this process and all its descendants (the
    JVM and any Python workers), in MiB."""
    return sum(_status_kb(p, "VmHWM") for p in _descendants(os.getpid())) / 1024.0


def tree_bytes(path: str) -> int:
    """Total size of the regular files under ``path``."""
    total = 0
    for d, _, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(d, name))
    return total


def tree_files(path: str) -> int:
    """Number of data files under ``path`` (Spark's ``_SUCCESS`` and
    ``.crc`` side files excluded)."""
    return sum(1 for _, _, files in os.walk(path) for n in files
               if not n.startswith(("_", ".")))
