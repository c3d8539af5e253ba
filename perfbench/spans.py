"""Spans around the benchmark's calls into the engine's layers, and the
Spark work attributed to each span.

A span is opened by the benchmark around a call into a layer's public
function. While it is the innermost open span, its id is the Spark job
group, so ``statusTracker()`` counts the jobs, stages and tasks it started,
and the event log's ``SparkListenerTaskEnd`` records give their executor
time, shuffle bytes, spill and skew. Spans live in memory and are written
out when the run ends.

A span's self time is its duration minus the part of it that its child
spans cover; the self times of all spans of one op add up to the op's root
span.
"""

from __future__ import annotations

import functools
import json
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str  # "<layer>.<call>", e.g. "warehouse.write_table"
    op: int | None
    parent: int | None
    start: float
    end: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def group(self) -> str:
        return f"perfbench-{self.id}"

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans while ``active``; costs one attribute test otherwise.

    ``sc`` is the SparkContext whose job groups and status tracker the
    spans use; with ``sc=None`` the tracer never records."""

    def __init__(self, sc=None):
        self.sc = sc
        self.active = False
        self.op: int | None = None
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, self.op, parent.id if parent else None, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s.group, name)
        try:
            yield s
        finally:
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self._count(s)
            # the span's own bookkeeping is part of it, not of its parent
            s.end = time.perf_counter()

    def _count(self, s: Span) -> None:
        st = self.sc.statusTracker()
        for job in st.getJobIdsForGroup(s.group):
            info = st.getJobInfo(job)
            if info is None:
                continue
            s.jobs += 1
            for sid in info.stageIds:
                stage = st.getStageInfo(sid)
                if stage is not None and stage.numCompletedTasks > 0:
                    s.stages += 1
                    s.tasks += stage.numCompletedTasks

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    @contextmanager
    def patched(self, targets):
        """Wrap ``getattr(module, attr)`` in a span named ``name`` for each
        ``(module, attr, name)`` in ``targets``, restoring them on exit."""
        saved = [(mod, attr, getattr(mod, attr)) for mod, attr, _ in targets]
        for mod, attr, name in targets:
            setattr(mod, attr, self.wrap(name, getattr(mod, attr)))
        try:
            yield
        finally:
            for mod, attr, fn in saved:
                setattr(mod, attr, fn)

    def dump(self, path: str, self_s: dict[int, float]) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**asdict(s), "self_s": self_s.get(s.id, 0.0)}) + "\n")


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the union of its children's intervals
    (clipped to the span)."""
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    out = {}
    for s in spans:
        covered = 0.0
        cur_start = cur_end = None
        for c in sorted(children[s.id], key=lambda c: c.start):
            a, b = max(c.start, s.start), min(c.end, s.end)
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s.id] = s.duration - covered
    return out


@dataclass
class GroupTasks:
    """Task-level totals of one job group, from the event log."""

    executor_run_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    stage_run_ms: dict[int, list[int]] = field(default_factory=lambda: defaultdict(list))

    @property
    def task_skew(self) -> float:
        """Worst stage's max ÷ median task run time (stages of >= 2 tasks);
        1.0 when no stage has two tasks, 0.0 when the group ran none."""
        if not self.stage_run_ms:
            return 0.0
        ratios = [
            max(ms) / max(statistics.median(ms), 1.0)
            for ms in self.stage_run_ms.values()
            if len(ms) >= 2
        ]
        return max(ratios, default=1.0)


def parse_event_log(lines) -> dict[str, GroupTasks]:
    """Job group -> task totals, from an uncompressed Spark event log."""
    stage_group: dict[int, str] = {}
    groups: dict[str, GroupTasks] = defaultdict(GroupTasks)
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group:
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = group
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev["Stage ID"])
            m = ev.get("Task Metrics")
            if group is None or not m:
                continue
            g = groups[group]
            run_ms = m.get("Executor Run Time", 0)
            g.executor_run_s += run_ms / 1000.0
            rd = m.get("Shuffle Read Metrics", {})
            g.shuffle_read_bytes += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            g.shuffle_write_bytes += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            g.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            g.stage_run_ms[ev["Stage ID"]].append(run_ms)
    return dict(groups)
