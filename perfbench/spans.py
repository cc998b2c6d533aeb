"""Tracing for the benchmark's traced run: in-memory spans recorded around
each layer call, and per-op Spark engine metrics read from the event log.

Spans come from the benchmark's own files only. Each op runs under its
own Spark job group, so every Spark job, stage and task in the event log
is attributed to the op that caused it.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    span_id: int
    parent: int | None
    trace_id: int


@dataclass
class Tracer:
    """Records spans in memory; ``dump`` writes them out at the end."""

    enabled: bool = True
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)
    _next: int = 0

    @contextmanager
    def span(self, name: str, trace_id: int):
        if not self.enabled:
            yield
            return
        self._next += 1
        sid = self._next
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            self._stack.pop()
            self.spans.append(Span(name, start, time.perf_counter(), sid, parent, trace_id))

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


@dataclass
class OpEngine:
    """Spark engine counters of one op call (one job group)."""

    jobs: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    shuffle_write_bytes: int = 0
    shuffle_write_records: int = 0
    input_records: int = 0
    spill_bytes: int = 0
    gc_ms: int = 0
    # stage id -> task durations (ms)
    stage_tasks: dict = field(default_factory=lambda: defaultdict(list))

    def task_skew(self) -> float:
        """Slowest task over the median task in the stage with the most
        tasks (ties: the longest total duration); 1.0 with no tasks."""
        if not self.stage_tasks:
            return 1.0
        durs = max(self.stage_tasks.values(), key=lambda d: (len(d), sum(d)))
        med = statistics.median(durs)
        return max(durs) / med if med > 0 else 1.0


def read_event_log(log_dir: str) -> dict[str, OpEngine]:
    """Per job group id, the engine counters of its jobs' tasks."""
    stage_group: dict[int, str] = {}
    by_group: dict[str, OpEngine] = defaultdict(OpEngine)
    # Spark 4 writes one directory per application with numbered files
    paths = sorted(p for p in glob.glob(f"{log_dir}/**/*", recursive=True) if os.path.isfile(p))
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group is None:
                        continue
                    by_group[group].jobs += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    if group is None:
                        continue
                    e = by_group[group]
                    info = ev.get("Task Info", {})
                    e.tasks += 1
                    if info.get("Failed") or info.get("Killed"):
                        e.failed_tasks += 1
                    m = ev.get("Task Metrics") or {}
                    sw = m.get("Shuffle Write Metrics", {})
                    e.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
                    e.shuffle_write_records += sw.get("Shuffle Records Written", 0)
                    e.input_records += m.get("Input Metrics", {}).get("Records Read", 0)
                    e.spill_bytes += m.get("Disk Bytes Spilled", 0)
                    e.gc_ms += m.get("JVM GC Time", 0)
                    e.stage_tasks[ev["Stage ID"]].append(
                        info.get("Finish Time", 0) - info.get("Launch Time", 0)
                    )
    return dict(by_group)
