"""Spans and per-call Spark counters for the traced run (``--trace 1``).

Spans are recorded from the benchmark's own files, around each public
call into a layer: name (``<layer>.<what>``), start, end, parent.  A
traced span may also own a Spark job group: the call's jobs, stages and
tasks are counted with ``statusTracker()`` and its task metrics are
read back from the Spark event log after the session stops.

With tracing off every ``span`` is a no-op context, so the untraced
runs that give the end-to-end numbers pay nothing for it.
"""

from __future__ import annotations

import contextlib
import glob
import itertools
import json
import os
import statistics
import threading
import time
from dataclasses import dataclass, field

_NULL = contextlib.nullcontext()
# the local properties ``setJobGroup`` sets, saved and restored per span
_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    group: str | None = None
    jobs: list = field(default_factory=list)
    tasks: int = 0

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        self._ids = itertools.count()
        self._local = threading.local()
        self._lock = threading.Lock()
        self.sc = None

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def span(self, name: str, group: bool = False):
        """Context manager recording one span; ``group`` also tags the
        Spark jobs started inside it (in this thread) with a job group."""
        if not self.enabled:
            return _NULL
        return self._span(name, group)

    @contextlib.contextmanager
    def _span(self, name, group):
        stack = self._stack()
        sp = Span(next(self._ids), name, 0.0)
        sp.parent = stack[-1].sid if stack else None
        saved = None
        if group and self.sc is not None:
            t = time.perf_counter()
            saved = {k: self.sc.getLocalProperty(k) for k in _GROUP_PROPS}
            sp.group = f"pb{sp.sid}:{name}"
            self.sc.setJobGroup(sp.group, name)
            self.overhead_s += time.perf_counter() - t
        stack.append(sp)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            if saved is not None:
                t = time.perf_counter()
                self._count_jobs(sp)
                for k, v in saved.items():
                    self.sc.setLocalProperty(k, v)
                self.overhead_s += time.perf_counter() - t
            with self._lock:
                self.spans.append(sp)

    def add(self, name: str, start: float, end: float, parent: int | None = None) -> Span:
        """Record a span measured elsewhere (e.g. a streaming trigger
        read back from ``lastProgress``)."""
        sp = Span(next(self._ids), name, start, end, parent)
        with self._lock:
            self.spans.append(sp)
        return sp

    def _count_jobs(self, sp: Span) -> None:
        st = self.sc.statusTracker()
        sp.jobs = sorted(st.getJobIdsForGroup(sp.group))
        for j in sp.jobs:
            info = st.getJobInfo(j)
            if info is None:
                continue
            for s in info.stageIds:
                si = st.getStageInfo(s)
                if si is not None:
                    sp.tasks += si.numTasks

    # ------------------------------------------------------------ queries

    def named(self, name: str, within: Span | None = None) -> list[Span]:
        out = [s for s in self.spans if s.name == name]
        if within is not None:
            out = [s for s in out if s.start >= within.start and s.end <= within.end + 1e-6]
        return sorted(out, key=lambda s: s.start)

    def self_times(self, root: Span) -> dict:
        """Self time per layer inside ``root``: each span's duration
        minus the part of it covered by its children.  The values sum
        to ``root.dur``."""
        inside = [s for s in self.spans if s.start >= root.start - 1e-6 and s.end <= root.end + 1e-6]
        by_parent: dict = {}
        for s in inside:
            by_parent.setdefault(s.parent, []).append(s)
        out: dict = {}
        for s in inside:
            kids = sorted(((k.start, k.end) for k in by_parent.get(s.sid, [])))
            covered, cur_s, cur_e = 0.0, None, None
            for a, b in kids:
                a, b = max(a, s.start), min(b, s.end)
                if b <= a:
                    continue
                if cur_e is None or a > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            if cur_e is not None:
                covered += cur_e - cur_s
            out[s.layer] = out.get(s.layer, 0.0) + max(0.0, s.dur - covered)
        return out


# ------------------------------------------------------------ event log


@dataclass
class GroupMetrics:
    jobs: int = 0
    tasks: int = 0
    run_ms: int = 0
    gc_ms: int = 0
    shuffle_read: int = 0
    shuffle_write: int = 0
    spill: int = 0
    bytes_read: int = 0
    bytes_written: int = 0
    skew: float = 0.0  # max/median task time of the group's heaviest stage


def parse_event_log(log_dir: str) -> tuple[dict, list, dict]:
    """Task metrics per job group, plus (submission ms, group) of every
    job and totals over all tasks."""
    paths = sorted(p for p in glob.glob(os.path.join(log_dir, "**"), recursive=True) if os.path.isfile(p))
    if not paths:
        return {}, [], {}
    stage_group: dict = {}
    jobs: list = []
    stage_tasks: dict = {}
    groups: dict = {}
    totals = {"run_ms": 0, "gc_ms": 0}
    with open(paths[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                jobs.append((ev.get("Submission Time", 0), g))
                gm = groups.setdefault(g, GroupMetrics())
                gm.jobs += 1
                for s in ev.get("Stage IDs", []):
                    stage_group[s] = g
            elif kind == "SparkListenerTaskEnd":
                sid = ev.get("Stage ID")
                g = stage_group.get(sid)
                gm = groups.setdefault(g, GroupMetrics())
                tm = ev.get("Task Metrics") or {}
                ti = ev.get("Task Info") or {}
                run_ms = int(tm.get("Executor Run Time", 0))
                gc_ms = int(tm.get("JVM GC Time", 0))
                sr = tm.get("Shuffle Read Metrics") or {}
                sw = tm.get("Shuffle Write Metrics") or {}
                gm.tasks += 1
                gm.run_ms += run_ms
                gm.gc_ms += gc_ms
                gm.shuffle_read += int(sr.get("Remote Bytes Read", 0)) + int(sr.get("Local Bytes Read", 0))
                gm.shuffle_write += int(sw.get("Shuffle Bytes Written", 0))
                gm.spill += int(tm.get("Memory Bytes Spilled", 0)) + int(tm.get("Disk Bytes Spilled", 0))
                gm.bytes_read += int((tm.get("Input Metrics") or {}).get("Bytes Read", 0))
                gm.bytes_written += int((tm.get("Output Metrics") or {}).get("Bytes Written", 0))
                dur = int(ti.get("Finish Time", 0)) - int(ti.get("Launch Time", 0))
                stage_tasks.setdefault((g, sid), []).append(max(0, dur))
                totals["run_ms"] += run_ms
                totals["gc_ms"] += gc_ms
    by_group: dict = {}
    for (g, _), durs in stage_tasks.items():
        by_group.setdefault(g, []).append(durs)
    for g, stages in by_group.items():
        durs = max(stages, key=sum)
        med = statistics.median(durs)
        groups[g].skew = max(durs) / med if len(durs) >= 2 and med > 0 else 1.0
    return groups, jobs, totals
