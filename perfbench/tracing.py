"""Spans around calls into the program, and a summary of Spark's event log.

A :class:`Tracer` records each span (name, start, end, parent) in memory
and, when the span names a job group, sets that Spark job group for the
calls inside it, so the event log tags every job the call issues.  The
spans are written out once, when the run ends.

:func:`summarize_event_log` reads the JSON-lines event log Spark writes
with ``spark.eventLog.enabled=true`` and ``spark.eventLog.compress=false``
and sums task metrics per job group: jobs, stages, tasks, executor run
time, JVM GC time, shuffle bytes written, bytes spilled, and the pandas-UDF
accumulables ``time to run Python workers`` and ``data sent to`` /
``data returned from Python workers``.
"""

from __future__ import annotations

import json
import os
import re
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

_GROUP_KEY = "spark.jobGroup.id"
_PY_RUN = "time to run Python workers"      # ms per task
_PY_SENT = "data sent to Python workers"    # bytes per task
_PY_BACK = "data returned from Python workers"


@dataclass
class Span:
    name: str
    group: str | None
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory spans; a span with ``group`` runs under that job group."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def _set_group(self, group: str | None) -> None:
        if self.sc is None:
            return
        if group is None:
            self.sc.setLocalProperty(_GROUP_KEY, None)
        else:
            self.sc.setJobGroup(group, group)

    @contextmanager
    def span(self, name: str, group: str | None = None):
        parent = self._stack[-1] if self._stack else None
        outer_group = self.spans[parent].group if parent is not None else None
        rec = Span(name, group or outer_group, parent, time.time())
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        if group is not None:
            self._set_group(group)
        try:
            yield rec
        finally:
            rec.end = time.time()
            self._stack.pop()
            if group is not None:
                self._set_group(outer_group)

    def seconds(self, name: str) -> float:
        """Total wall of every span called ``name``."""
        return sum(s.seconds for s in self.spans if s.name == name)

    def self_seconds(self, index: int) -> float:
        """A span's wall minus the part its direct children cover."""
        span = self.spans[index]
        kids = sum(s.seconds for s in self.spans if s.parent == index)
        return span.seconds - kids

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        rows = [
            dict(asdict(s), id=i, self_s=self.self_seconds(i))
            for i, s in enumerate(self.spans)
        ]
        with open(path, "w") as f:
            json.dump(rows, f, indent=1)


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_s: float = 0.0
    gc_s: float = 0.0
    python_s: float = 0.0
    bytes_to_py: int = 0
    bytes_from_py: int = 0
    shuffle_write: int = 0
    spill: int = 0


def _log_files(log_dir: str) -> list[str]:
    """Event-log files under ``log_dir``, in write order.

    Spark writes either one file per application or, with rolling logs,
    a directory ``eventlog_v2_<app>`` holding ``events_<n>_<app>`` parts.
    """
    found = []
    for root, _dirs, files in os.walk(log_dir):
        for name in files:
            if name.startswith(".") or name.startswith("appstatus"):
                continue
            if name.endswith((".crc", ".inprogress")):
                continue
            m = re.match(r"events_(\d+)_", name)
            found.append((root, int(m.group(1)) if m else 0, name))
    return [os.path.join(r, n) for r, _i, n in sorted(found)]


def read_events(log_dir: str):
    for path in _log_files(log_dir):
        with open(path) as f:
            for line in f:
                line = line.strip()
                if line:
                    yield json.loads(line)


def _accum(task_info: dict) -> dict[str, float]:
    out: dict[str, float] = {}
    for acc in task_info.get("Accumulables", ()):
        name = acc.get("Name")
        if name in (_PY_RUN, _PY_SENT, _PY_BACK):
            out[name] = out.get(name, 0.0) + float(acc.get("Update") or 0)
    return out


def summarize_events(events) -> dict[str, GroupStats]:
    """Per-job-group totals; jobs outside any group land under ``""``."""
    stage_group: dict[int, str] = {}
    stats: dict[str, GroupStats] = {}
    stages_seen: set[tuple[str, int]] = set()

    def get(group: str) -> GroupStats:
        return stats.setdefault(group, GroupStats())

    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get(_GROUP_KEY) or ""
            get(group).jobs += 1
            for sid in ev.get("Stage IDs", ()):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerStageSubmitted":
            sid = ev["Stage Info"]["Stage ID"]
            group = (ev.get("Properties") or {}).get(_GROUP_KEY)
            if group is not None:
                stage_group[sid] = group
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            group = stage_group.get(sid, "")
            st = get(group)
            key = (group, sid)
            if key not in stages_seen:
                stages_seen.add(key)
                st.stages += 1
            st.tasks += 1
            tm = ev.get("Task Metrics") or {}
            st.task_s += tm.get("Executor Run Time", 0) / 1000
            st.gc_s += tm.get("JVM GC Time", 0) / 1000
            st.shuffle_write += (tm.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            st.spill += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
            acc = _accum(ev.get("Task Info") or {})
            st.python_s += acc.get(_PY_RUN, 0.0) / 1000
            st.bytes_to_py += int(acc.get(_PY_SENT, 0))
            st.bytes_from_py += int(acc.get(_PY_BACK, 0))
    return stats


def summarize_event_log(log_dir: str) -> dict[str, GroupStats]:
    return summarize_events(read_events(log_dir))


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Session conf that makes Spark write a plain JSON event log."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.compress": "false",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
    }
