"""Traced-run tooling: job-group spans and a Spark event-log parser.

A span is one layer boundary of a staged pipeline pass. ``Tracer.span``
tags every Spark job started inside it with ``sc.setJobGroup(<span>)``
and records its wall time; after the session stops, ``parse_event_log``
reads the local event log and ``span_counters`` folds the task metrics
of each job group into per-span counters (executor time, shuffle and
spill bytes, task count, task skew).
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

from checks import median

# the counters of every span, with their units
SPAN_COUNTERS = {
    "s": "s", "exec_s": "s", "shuffle_mb": "MB", "spill_mb": "MB",
    "tasks": "count", "task_skew": "ratio",
}


@dataclass
class Span:
    name: str
    parent: str | None
    start: float
    end: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """In-memory span recorder; spans nest through ``parent``."""

    sc: object
    spans: list[Span] = field(default_factory=list)
    _stack: list[str] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, parent, time.perf_counter())
        self._stack.append(name)
        self.sc.setJobGroup(name, name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            outer = self._stack[-1] if self._stack else "untraced"
            self.sc.setJobGroup(outer, outer)
            self.spans.append(sp)

    def seconds(self, name: str) -> float:
        return sum(s.seconds for s in self.spans if s.name == name)

    def to_json(self) -> list[dict]:
        t0 = min((s.start for s in self.spans), default=0.0)
        return [
            {"name": s.name, "parent": s.parent, "start": round(s.start - t0, 4), "end": round(s.end - t0, 4)}
            for s in sorted(self.spans, key=lambda s: s.start)
        ]


@dataclass
class GroupStats:
    jobs: int = 0
    stages: set = field(default_factory=set)
    task_ms: dict = field(default_factory=lambda: defaultdict(list))
    exec_ms: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0

    @property
    def tasks(self) -> int:
        return sum(len(v) for v in self.task_ms.values())

    @property
    def skew(self) -> float:
        """Largest max/median task time over the group's stages that
        ran at least two tasks (1.0 when none did)."""
        worst = 1.0
        for times in self.task_ms.values():
            if len(times) >= 2:
                med = median(times)
                if med > 0:
                    worst = max(worst, max(times) / med)
        return worst


def event_log_files(log_dir: str) -> list[str]:
    return sorted(f for f in glob.glob(os.path.join(log_dir, "*")) if not f.endswith(".inprogress"))


def parse_event_log(path: str) -> dict[str, GroupStats]:
    """Job group -> aggregated task metrics, from one event-log file."""
    stage_group: dict[int, str] = {}
    groups: dict[str, GroupStats] = defaultdict(GroupStats)
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                group = props.get("spark.jobGroup.id") or "untraced"
                groups[group].jobs += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = group
            elif kind == "SparkListenerTaskEnd":
                sid = ev.get("Stage ID")
                g = groups[stage_group.get(sid, "untraced")]
                info = ev.get("Task Info") or {}
                m = ev.get("Task Metrics") or {}
                key = (sid, ev.get("Stage Attempt ID", 0))
                g.stages.add(key)
                g.task_ms[key].append(max(0, info.get("Finish Time", 0) - info.get("Launch Time", 0)))
                g.exec_ms += m.get("Executor Run Time", 0)
                g.shuffle_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                g.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return dict(groups)


def span_counters(name: str, wall_s: float, g: GroupStats | None) -> dict[str, float]:
    """The six counters of one span (zeros for a span that did not run)."""
    g = g or GroupStats()
    return {
        f"{name}.s": wall_s,
        f"{name}.exec_s": g.exec_ms / 1000.0,
        f"{name}.shuffle_mb": g.shuffle_bytes / 1e6,
        f"{name}.spill_mb": g.spill_bytes / 1e6,
        f"{name}.tasks": float(g.tasks),
        f"{name}.task_skew": g.skew if g.tasks else 0.0,
    }
