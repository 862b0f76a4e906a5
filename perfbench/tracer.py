"""In-memory span tracer for the benchmark's traced runs.

A span has a name, a layer, start and end times, a parent and a trace id
(one trace per workload operation or serving batch). Spans live in memory
and are written out once, at exit (:meth:`Tracer.dump`). Self time is a
span's duration minus the part of it that child spans cover.

Optional probes attribute work to spans:

* :class:`SparkJobs` puts every span in its own Spark job group
  (``sc.setJobGroup``) and counts the jobs, tasks and failed tasks of that
  group through ``statusTracker()`` when the span ends;
* :class:`ProcCpu` reads ``/proc`` for the CPU seconds of the driver
  process, the JVM it launched and the JVM's Python workers.

Job, task and CPU figures on a span are *self* figures — work done while
the span was the innermost one — so they add up over a trace without
double counting; :func:`layer_totals` sums them per layer.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

CPU_KEYS = ("cpu_driver_s", "cpu_jvm_s", "cpu_pyworker_s")


@dataclass
class Span:
    name: str
    layer: str
    span_id: int
    parent_id: "int | None"
    trace_id: int
    start: float
    end: float = 0.0
    jobs: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    cpu: dict = field(default_factory=dict)   # inclusive CPU seconds
    attrs: dict = field(default_factory=dict)
    self_s: float = 0.0

    @property
    def wall_s(self) -> float:
        return self.end - self.start


def covered(intervals) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    """Records spans while ``enabled``; otherwise :meth:`span` is a no-op
    that still yields a scratch :class:`Span` for attributes."""

    def __init__(self, clock=time.perf_counter, cpu: "ProcCpu | None" = None):
        self.clock = clock
        self.jobs: "SparkJobs | None" = None  # attached once a session exists
        self.cpu = cpu
        self.enabled = False
        self.spans: list[Span] = []
        self.traces: dict[int, dict] = {}
        self._stack: list[Span] = []
        self._next_span = 1
        self._next_trace = 1
        self.overhead_s = 0.0  # time spent inside the probes

    @contextmanager
    def trace(self, name: str, kind: str = "op", **attrs):
        """A root span that opens a new trace (one workload operation);
        inside another trace it is an ordinary child span of that trace."""
        if not self.enabled or self._stack:
            with self.span(name, "bench", **attrs) as sp:
                yield sp
            return
        tid = self._next_trace
        self._next_trace += 1
        self.traces[tid] = {"name": name, "kind": kind}
        with self.span(name, "bench", _trace_id=tid, **attrs) as sp:
            yield sp

    @contextmanager
    def span(self, name: str, layer: "str | None" = None, _trace_id=None,
             **attrs):
        if not self.enabled:
            yield Span(name, layer or name, 0, None, 0, 0.0)
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            name=name,
            layer=layer or name.rsplit(".", 1)[0],
            span_id=self._next_span,
            parent_id=parent.span_id if parent else None,
            trace_id=_trace_id if _trace_id is not None else (
                parent.trace_id if parent else 0),
            start=0.0,
            attrs=dict(attrs),
        )
        self._next_span += 1
        t0 = self.clock()
        cpu0 = self.cpu.snapshot() if self.cpu else None
        if self.jobs:
            self.jobs.enter(sp.span_id, name)
        self._stack.append(sp)
        t1 = self.clock()
        self.overhead_s += t1 - t0
        sp.start = t1
        try:
            yield sp
        finally:
            sp.end = self.clock()
            self._stack.pop()
            if self.jobs:
                sp.jobs, sp.tasks, sp.failed_tasks = self.jobs.exit(
                    sp.span_id, parent.span_id if parent else None)
            if self.cpu:
                cpu1 = self.cpu.snapshot()
                sp.cpu = {k: cpu1[k] - cpu0[k] for k in CPU_KEYS}
            self.spans.append(sp)
            self.overhead_s += self.clock() - sp.end

    # -- derived figures ----------------------------------------------------

    def finish(self) -> None:
        """Compute self times (and self CPU) from the recorded tree."""
        children: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent_id is not None:
                children.setdefault(sp.parent_id, []).append(sp)
        for sp in self.spans:
            kids = children.get(sp.span_id, [])
            sp.self_s = sp.wall_s - covered(
                (max(c.start, sp.start), min(c.end, sp.end)) for c in kids
            )
            if sp.cpu:
                sp.attrs["cpu_self"] = {
                    k: sp.cpu[k] - sum(c.cpu.get(k, 0.0) for c in kids)
                    for k in CPU_KEYS
                }

    def to_json(self) -> dict:
        return {
            "traces": self.traces,
            "spans": [
                {
                    "name": s.name, "layer": s.layer, "span_id": s.span_id,
                    "parent_id": s.parent_id, "trace_id": s.trace_id,
                    "start": s.start, "end": s.end, "wall_s": s.wall_s,
                    "self_s": s.self_s, "jobs": s.jobs, "tasks": s.tasks,
                    "failed_tasks": s.failed_tasks, **{
                        k: s.cpu.get(k, 0.0) for k in CPU_KEYS
                    }, "attrs": s.attrs,
                }
                for s in sorted(self.spans, key=lambda s: s.start)
            ],
        }

    def dump(self, path: str, extra: "dict | None" = None) -> None:
        self.finish()
        doc = {**(extra or {}), **self.to_json()}
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        with open(path, "w") as fh:
            json.dump(doc, fh, indent=1, default=str)


def layer_totals(spans) -> dict[str, dict]:
    """Per layer: ``wall_s`` of its outermost spans (a span whose parent is
    in the same layer is not counted twice), and self-attributed
    ``self_s``, jobs, tasks, failed tasks and CPU split."""
    by_id = {s.span_id: s for s in spans}
    out: dict[str, dict] = {}
    for s in spans:
        t = out.setdefault(s.layer, {
            "wall_s": 0.0, "self_s": 0.0, "jobs": 0, "tasks": 0,
            "failed_tasks": 0, **{k: 0.0 for k in CPU_KEYS},
        })
        parent = by_id.get(s.parent_id) if s.parent_id is not None else None
        if parent is None or parent.layer != s.layer:
            t["wall_s"] += s.wall_s
        t["self_s"] += s.self_s
        t["jobs"] += s.jobs
        t["tasks"] += s.tasks
        t["failed_tasks"] += s.failed_tasks
        cpu_self = s.attrs.get("cpu_self", {})
        for k in CPU_KEYS:
            t[k] += cpu_self.get(k, 0.0)
    return out


class SparkJobs:
    """Job-group bookkeeping: each span's own jobs run under the group
    ``"pb-<span id>"``. A stage is counted once, by the first span whose
    job lists it (a reused shuffle stage reappears as skipped)."""

    def __init__(self, sc):
        self.sc = sc
        self.tracker = sc.statusTracker()
        self._seen_stages: set[int] = set()

    def _set(self, span_id, name=""):
        if span_id is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"pb-{span_id}", name)

    def enter(self, span_id: int, name: str) -> None:
        self._set(span_id, name)

    def exit(self, span_id: int, parent_id) -> tuple[int, int, int]:
        jobs = self.tracker.getJobIdsForGroup(f"pb-{span_id}")
        tasks = failed = 0
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            if info is None:
                continue
            for sid in info.stageIds:
                if sid in self._seen_stages:
                    continue
                st = self.tracker.getStageInfo(sid)
                if st is None:
                    continue
                self._seen_stages.add(sid)
                tasks += st.numCompletedTasks
                failed += st.numFailedTasks
        self._set(parent_id)
        return len(jobs), tasks, failed


class ProcCpu:
    """CPU seconds of a process tree read from ``/proc``: the driver (this
    process), the JVM (every other descendant of the driver) and the
    Python workers (every descendant of a JVM). A worker that exits is
    still counted, through its reaper's ``cutime``/``cstime``."""

    def __init__(self):
        self.root = os.getpid()
        self.tick = os.sysconf("SC_CLK_TCK")

    def _stats(self) -> dict[int, tuple]:
        out = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as fh:
                    raw = fh.read()
            except OSError:
                continue
            comm = raw[raw.index("(") + 1:raw.rindex(")")]
            rest = raw[raw.rindex(")") + 2:].split()
            # fields after the command, counted from state = 0: ppid(1),
            # utime(11), stime(12), cutime(13), cstime(14)
            out[int(name)] = (
                int(rest[1]), comm,
                int(rest[11]), int(rest[12]), int(rest[13]), int(rest[14]),
            )
        return out

    def snapshot(self) -> dict[str, float]:
        st = self._stats()
        kids: dict[int, list[int]] = {}
        for pid, row in st.items():
            kids.setdefault(row[0], []).append(pid)
        tot = {k: 0 for k in CPU_KEYS}
        me = st.get(self.root)
        if me:
            tot["cpu_driver_s"] = me[2] + me[3]
        # walk the tree: children of the driver are "jvm" (and its launch
        # helpers); everything below a jvm process is a Python worker
        stack = [(c, "cpu_jvm_s") for c in kids.get(self.root, [])]
        while stack:
            pid, cls = stack.pop()
            row = st.get(pid)
            if row is None:
                continue
            if cls == "cpu_jvm_s":
                tot["cpu_jvm_s"] += row[2] + row[3]
                tot["cpu_pyworker_s"] += row[4] + row[5]  # reaped workers
                nxt = "cpu_pyworker_s" if "java" in row[1] else "cpu_jvm_s"
            else:
                tot["cpu_pyworker_s"] += row[2] + row[3] + row[4] + row[5]
                nxt = "cpu_pyworker_s"
            stack.extend((c, nxt) for c in kids.get(pid, []))
        return {k: v / self.tick for k, v in tot.items()}
