"""Spans, Spark counters and process probes, all read from outside the engine.

- ``Tracer`` records spans (name, start, end, parent, pass id) in memory.
  When tracing is on, each span also runs its Spark jobs under its own job
  group, so the jobs, stages and tasks it launched can be read back from
  ``SparkContext.statusTracker()`` and from the Spark event log.
- ``proc_*`` helpers read the Spark JVM's peak resident set and the CPU
  time of the Python worker processes from ``/proc``.
- ``StderrLog`` sends this process's stderr (which the JVM inherits) to a
  file, so scheduler ERROR lines can be counted per pass.
"""

from __future__ import annotations

import glob
import json
import os
import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_CLK_TCK = os.sysconf("SC_CLK_TCK")


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    pass_id: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Span recorder. With ``enabled`` false it still times spans (the
    untraced run needs op latencies) but sets no job groups."""

    def __init__(self, sc, *, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.overhead_s: dict[str, float] = {}  # pass id -> time spent setting job groups

    def group(self, span: Span) -> str:
        return f"bench-span-{span.id}"

    @contextmanager
    def span(self, name: str, pass_id: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, parent.id if parent else None, pass_id, 0.0, attrs=attrs)
        self.spans.append(sp)
        self._stack.append(sp)
        if self.enabled:
            t = time.perf_counter()
            self.sc.setJobGroup(self.group(sp), name)
            self._charge(pass_id, t)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if self.enabled:
                t = time.perf_counter()
                if parent is not None:
                    self.sc.setJobGroup(self.group(parent), parent.name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                self._charge(pass_id, t)

    def _charge(self, pass_id: str, since: float) -> None:
        self.overhead_s[pass_id] = self.overhead_s.get(pass_id, 0.0) + time.perf_counter() - since

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def self_seconds(self, span: Span) -> float:
        """Duration minus the part covered by child spans (children of one
        span run one after another, so their durations add)."""
        return span.seconds - sum(c.seconds for c in self.children(span))

    def collect_counts(self) -> None:
        """Attach jobs, stages, tasks and failed tasks from the status
        tracker to each span's own job group. Call outside timed regions."""
        if not self.enabled:
            return
        st = self.sc.statusTracker()
        for sp in self.spans:
            jobs = st.getJobIdsForGroup(self.group(sp))
            stage_ids = set()
            for j in jobs:
                info = st.getJobInfo(j)
                if info is not None:
                    stage_ids.update(info.stageIds)
            stages = tasks = failed = 0
            for s in stage_ids:
                info = st.getStageInfo(s)
                if info is None:
                    continue
                ran = info.numCompletedTasks + info.numFailedTasks
                if ran:
                    stages += 1
                    tasks += ran
                    failed += info.numFailedTasks
            sp.attrs.update(jobs=len(jobs), stages=stages, tasks=tasks, failed_tasks=failed)

    def to_json(self) -> list[dict]:
        return [{
            "id": s.id, "name": s.name, "parent": s.parent, "pass": s.pass_id,
            "start": round(s.start, 6), "end": round(s.end, 6), "self_s": round(self.self_seconds(s), 6),
            **s.attrs,
        } for s in self.spans]


# --------------------------------------------------------------------------
# Spark event log
# --------------------------------------------------------------------------

_TASK_FIELDS = ("run_ms", "input_bytes", "output_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
                "spill_bytes")


def read_event_log(log_dir: str) -> dict[str, dict[str, int]]:
    """Sum task metrics per job group over every application log in
    ``log_dir``. Stages are mapped to groups through the properties of
    their StageSubmitted event."""
    per_group: dict[str, dict[str, int]] = {}
    for app in sorted(glob.glob(os.path.join(log_dir, "*"))):
        stage_group: dict[int, str] = {}
        for line in _event_lines(app):
            if '"SparkListenerStageSubmitted"' in line:
                ev = json.loads(line)
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group:
                    stage_group[ev["Stage Info"]["Stage ID"]] = group
            elif '"SparkListenerTaskEnd"' in line:
                ev = json.loads(line)
                group = stage_group.get(ev["Stage ID"])
                m = ev.get("Task Metrics")
                if group is None or not m:
                    continue
                acc = per_group.setdefault(group, dict.fromkeys(_TASK_FIELDS, 0))
                sr = m.get("Shuffle Read Metrics", {})
                acc["run_ms"] += m.get("Executor Run Time", 0)
                acc["input_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
                acc["output_bytes"] += m.get("Output Metrics", {}).get("Bytes Written", 0)
                acc["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                acc["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return per_group


def _event_lines(app: str):
    """Lines of one application's log: a single file, or a rolling-log
    directory of ``events_<n>_<app>`` files read in index order."""
    if os.path.isdir(app):
        parts = glob.glob(os.path.join(app, "events_*"))
        paths = sorted(parts, key=lambda p: int(os.path.basename(p).split("_")[1]))
    else:
        paths = [app]
    for path in paths:
        with open(path) as f:
            yield from f


# --------------------------------------------------------------------------
# /proc probes
# --------------------------------------------------------------------------


def proc_peak_rss_mb(pid: int) -> float:
    """VmHWM (peak resident set) of ``pid`` in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _stat(pid: int) -> tuple[int, float] | None:
    """(ppid, utime+stime+cutime+cstime seconds) from /proc/<pid>/stat."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    fields = raw[raw.rfind(")") + 2:].split()
    ticks = sum(int(x) for x in fields[11:15])
    return int(fields[1]), ticks / _CLK_TCK


def proc_python_worker_cpu_s(jvm_pid: int) -> float:
    """CPU seconds of the JVM's Python worker processes (the pyspark daemon
    and its forked workers), including workers that already exited and were
    reaped by the daemon."""
    parents: dict[int, int] = {}
    cpu: dict[int, float] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        st = _stat(int(entry))
        if st is not None:
            parents[int(entry)], cpu[int(entry)] = st
    total = 0.0
    for pid, ppid in parents.items():
        if ppid != jvm_pid:
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        if b"pyspark" not in cmd:
            continue
        # the daemon's own time covers reaped workers; add its live children
        total += cpu[pid] + sum(c for p, c in cpu.items() if parents.get(p) == pid)
    return total


class StderrLog:
    """Point fd 2 at a file (the JVM inherits it) and count ERROR lines."""

    #: log4j's ``yy/MM/dd HH:mm:ss ERROR`` lines and Python logging's ``ERROR:``
    ERROR_LINE = re.compile(rb"^\d\d/\d\d/\d\d \d\d:\d\d:\d\d ERROR |^ERROR[: ]", re.M)

    def __init__(self, path: str):
        self.path = path
        self.saved = os.dup(2)
        fd = os.open(path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
        os.dup2(fd, 2)
        os.close(fd)

    def offset(self) -> int:
        return os.path.getsize(self.path)

    def count_errors(self, start: int = 0) -> int:
        """ERROR lines written since byte offset ``start``."""
        with open(self.path, "rb") as f:
            f.seek(start)
            return len(self.ERROR_LINE.findall(f.read()))

    def restore(self) -> None:
        os.dup2(self.saved, 2)
        os.close(self.saved)

