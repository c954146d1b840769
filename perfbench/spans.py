"""In-memory span tracing around the program's public entry points.

Spans (name, start, end, parent span, request id) are recorded at each
layer boundary by ``Tracer.wrap`` wrappers that ``worker.py`` installs
from the outside: the program's modules are not edited. Spans stay in
memory and are written once, when the run ends. Only the traced run
installs anything, so the untraced run executes the program as shipped.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from collections import defaultdict


class Tracer:
    def __init__(self):
        self.spans: list[tuple] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def span(self, name: str, request_id: str | None = None):
        return _Span(self, name, request_id)

    def count(self, name: str, inc: float = 1.0) -> None:
        with self._lock:
            self.counts[name] += inc

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    # -- reading ----------------------------------------------------------

    def durations(self, name: str, since: float = 0.0) -> list[float]:
        """Durations of the ``name`` spans that began at or after ``since``."""
        return [s[3] - s[2] for s in self.spans if s[1] == name and s[2] >= since]

    def dump(self, path: str) -> None:
        keys = ("id", "name", "start", "end", "parent", "request")
        with open(path, "w") as f:
            json.dump(
                {
                    "spans": [dict(zip(keys, s)) for s in self.spans],
                    "counts": dict(self.counts),
                },
                f,
            )


class _Span:
    __slots__ = ("tracer", "name", "request_id", "sid", "parent", "start")

    def __init__(self, tracer: Tracer, name: str, request_id: str | None):
        self.tracer, self.name, self.request_id = tracer, name, request_id

    def __enter__(self) -> str:
        t = self.tracer
        stack = t._stack()
        self.parent = stack[-1][0] if stack else None
        if self.request_id is None:
            self.request_id = stack[-1][1] if stack else f"r{next(t._ids)}"
        self.sid = next(t._ids)
        stack.append((self.sid, self.request_id))
        self.start = time.monotonic()
        return self.request_id

    def __exit__(self, *exc) -> None:
        end = time.monotonic()
        t = self.tracer
        t._stack().pop()
        span = (self.sid, self.name, self.start, end, self.parent, self.request_id)
        with t._lock:
            t.spans.append(span)


# ---------------------------------------------------------------------------
# Spark-side accounting: job groups, plan phases, executor CPU
# ---------------------------------------------------------------------------


class SparkAccounting:
    """Per-request Spark counters, read from the status tracker by job
    group and from each collected DataFrame's QueryPlanningTracker."""

    PHASES = ("analysis", "optimization", "planning")
    COUNTS = ("jobs", "stages", "tasks", "jvm_cpu_s")

    def __init__(self, spark, tracer: Tracer):
        self.sc = spark.sparkContext
        self.tracer = tracer
        jvm = self.sc._jvm
        self._empty_status = jvm.java.util.ArrayList()
        self._no_quantiles = self.sc._gateway.new_array(jvm.double, 0)

    def begin(self, group: str) -> None:
        self.sc.setJobGroup(group, group, interruptOnCancel=False)

    def end(self, group: str, prefix: str) -> dict:
        """Jobs, stages, tasks and executor CPU of the job group, added
        to ``prefix``.* counters; returns them."""
        tracker = self.sc.statusTracker()
        jobs = stages = tasks = 0
        cpu_ns = 0
        for job_id in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job_id)
            if info is None:
                continue
            jobs += 1
            for stage_id in info.stageIds:
                stage = tracker.getStageInfo(stage_id)
                if stage is None or stage.numCompletedTasks == 0:
                    continue  # skipped: its shuffle output was reused
                stages += 1
                tasks += stage.numCompletedTasks
                cpu_ns += self._stage_cpu_ns(stage_id)
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)
        out = {"jobs": jobs, "stages": stages, "tasks": tasks, "jvm_cpu_s": cpu_ns / 1e9}
        self.add(prefix, out)
        return out

    def add(self, prefix: str, counts: dict) -> None:
        for k, v in counts.items():
            self.tracer.count(f"{prefix}.{k}", v)

    def _stage_cpu_ns(self, stage_id: int) -> int:
        store = self.sc._jsc.sc().statusStore()
        try:
            data = store.stageData(
                stage_id, False, self._empty_status, False, self._no_quantiles
            )
            return sum(data.apply(i).executorCpuTime() for i in range(data.size()))
        except Exception:  # stage evicted from the status store
            return 0

    def plan_phases(self, df) -> None:
        """Add a DataFrame's analysis/optimization/planning ms to the
        spark.* counters (one planning run per collected DataFrame)."""
        phases = df._jdf.queryExecution().tracker().phases()
        for name in self.PHASES:
            got = phases.get(name)
            if got.isDefined():
                self.tracer.count(f"spark.{name}_ms", got.get().durationMs())
