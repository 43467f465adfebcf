"""Tracing from outside the engine: spans around calls into its public
functions, and Spark's own per-job counters.

Spans stay in memory and are written out once, when the run ends.  Each
operation gets its own Spark job group, so the counters of the jobs it
launched attach to its span.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager
from typing import Dict, List, Optional

from py4j.protocol import Py4JJavaError

COUNTERS = ("jobs", "tasks", "input_records", "input_bytes",
            "shuffle_read_bytes", "shuffle_write_bytes", "executor_run_ms",
            "executor_cpu_ns")

_PYTHON_NODE = re.compile(r"InPandas|InArrow|EvalPython|PythonUDF|MapInArrow")
_WINDOW_NODE = re.compile(r"^[\s:+\-|]*Window(GroupLimit)?\b", re.M)


class Span:
    __slots__ = ("name", "op", "parent", "start", "end", "attrs")

    def __init__(self, name: str, op: int, parent: Optional["Span"]):
        self.name = name
        self.op = op
        self.parent = parent
        self.start = time.perf_counter()
        self.end: Optional[float] = None
        self.attrs: Dict[str, float] = {}

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1e3


class Tracer:
    """Records spans while ``active``; otherwise every call is a no-op.

    The root span of each operation carries its op id; children name the
    layer they time (``store.read``, ``query.build``, ...)."""

    def __init__(self):
        self.active = False
        self.spans: List[Span] = []
        self._stack: List[Span] = []

    @contextmanager
    def span(self, name: str, op: int = -1):
        if not self.active:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(name, parent.op if parent else op, parent)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self.spans.append(s)

    def current(self) -> Span:
        return self._stack[-1]

    def self_ms(self) -> Dict[str, List[float]]:
        """Self time of every span, grouped by layer name: its duration
        minus the part of its interval that its children cover."""
        children: Dict[int, List[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(id(s.parent), []).append(s)
        out: Dict[str, List[float]] = {}
        for s in self.spans:
            covered, last = 0.0, s.start
            for c in sorted(children.get(id(s), []), key=lambda c: c.start):
                lo, hi = max(c.start, last), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    last = hi
            out.setdefault(s.name, []).append((s.end - s.start - covered) * 1e3)
        return out

    def dump(self, path: str) -> None:
        ids = {id(s): i for i, s in enumerate(self.spans)}
        with open(path, "w") as fh:
            for i, s in enumerate(self.spans):
                fh.write(json.dumps({
                    "id": i, "op": s.op, "name": s.name,
                    "parent": ids.get(id(s.parent)) if s.parent else None,
                    "start_s": s.start, "end_s": s.end, "attrs": s.attrs,
                }) + "\n")


class SparkCounters:
    """Per-op Spark counters read from the status tracker and the
    application status store, keyed by job group."""

    def __init__(self, sc):
        self.sc = sc
        self.tracker = sc.statusTracker()
        self.store = sc._jsc.sc().statusStore()

    def begin(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def end(self) -> None:
        self.sc.setJobGroup("perfbench-idle", "perfbench-idle")

    def collect(self, groups: List[str], wait_s: float = 5.0) -> Dict[str, float]:
        """Sum the counters of every stage of every job in ``groups``.
        The listener bus updates the store asynchronously, so wait until
        each job has ended before reading; skipped stages count zero."""
        out = dict.fromkeys(COUNTERS, 0)
        job_ids = [j for g in groups for j in self.tracker.getJobIdsForGroup(g)]
        deadline = time.perf_counter() + wait_s
        stage_ids = set()
        for jid in job_ids:
            info = self.tracker.getJobInfo(jid)
            while (info is None or info.status not in ("SUCCEEDED", "FAILED")) \
                    and time.perf_counter() < deadline:
                time.sleep(0.005)
                info = self.tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        out["jobs"] = len(job_ids)
        for sid in stage_ids:
            sd = self._stage(sid, deadline)
            if sd is None or sd.status().toString() == "SKIPPED":
                continue
            out["tasks"] += sd.numTasks()
            out["input_records"] += sd.inputRecords()
            out["input_bytes"] += sd.inputBytes()
            out["shuffle_read_bytes"] += sd.shuffleReadBytes()
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["executor_run_ms"] += sd.executorRunTime()
            out["executor_cpu_ns"] += sd.executorCpuTime()
        return out

    def _stage(self, sid: int, deadline: float):
        while True:
            try:
                sd = self.store.lastStageAttempt(sid)
            except Py4JJavaError:
                sd = None
            done = sd is not None and sd.status().toString() in (
                "COMPLETE", "SKIPPED", "FAILED")
            if done or time.perf_counter() >= deadline:
                return sd
            time.sleep(0.005)


def plan_tiers(df) -> Dict[str, int]:
    """Planner tiers in the executed plan of ``df``: whether it has a
    Python evaluation node (interpreter or vectorized walk), and how many
    Window nodes it has.  Only the final adaptive plan counts."""
    text = df._jdf.queryExecution().executedPlan().toString()
    text = text.split("== Initial Plan ==")[0]
    return {"python": bool(_PYTHON_NODE.search(text)),
            "windows": len(_WINDOW_NODE.findall(text))}
