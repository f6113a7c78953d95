"""Tracing for the ``--trace 1`` run: spans recorded from the benchmark's
own files around each call into an engine layer, and Spark job, stage and
task counts attributed to those calls by job group.

Spans stay in memory and are written as JSON when the run ends. An
untraced run uses ``NullTracer``, whose spans cost one no-op context
manager each.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import sys
import threading
import time

from py4j.protocol import Py4JJavaError

from stats import Span, layer_self_ms


class NullTracer:
    enabled = False

    def span(self, name: str, request: "str | None" = None):
        return contextlib.nullcontext()


class Tracer:
    """Collects ``Span``s; the parent of a span is the innermost open span
    of the same thread, and it inherits that span's request id unless it
    names its own."""

    enabled = True

    def __init__(self) -> None:
        self.spans: "list[Span]" = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str, request: "str | None" = None):
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        sid = next(self._ids)
        req = request if request is not None else (parent[1] if parent else None)
        stack.append((sid, req))
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(
                    Span(sid, name, start, end, parent[0] if parent else None, req)
                )

    def record(
        self,
        name: str,
        start: float,
        end: float,
        request: "str | None",
        parent: "int | None" = None,
    ) -> int:
        """A span measured elsewhere (a streaming batch and its phases, from
        the engine's progress record); returns its id."""
        sid = next(self._ids)
        with self._lock:
            self.spans.append(Span(sid, name, start, end, parent, request))
        return sid

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a wrapper that opens span ``name``
        around every call, in ``owner`` and in every engine module that
        imported the same function by name."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        for mod in list(sys.modules.values()):
            if (
                getattr(mod, "__name__", "").startswith("realtime_voting_data_engineering_spark")
                and getattr(mod, attr, None) is original
            ):
                setattr(mod, attr, traced)
        setattr(owner, attr, traced)

    def count(self, name: str) -> int:
        return sum(1 for s in self.spans if s.name == name)

    def total_ms(self, name: str) -> float:
        return sum((s.end - s.start) * 1000.0 for s in self.spans if s.name == name)

    def dump(self, path: str, extra: dict) -> None:
        base = min((s.start for s in self.spans), default=0.0)
        doc = {
            **extra,
            "self_ms_by_layer": {k: round(v, 3) for k, v in layer_self_ms(self.spans).items()},
            "spans": [
                {
                    "id": s.id,
                    "name": s.name,
                    "start_ms": round((s.start - base) * 1000.0, 3),
                    "end_ms": round((s.end - base) * 1000.0, 3),
                    "parent": s.parent,
                    "request": s.request,
                }
                for s in self.spans
            ],
        }
        with open(path, "w") as f:
            json.dump(doc, f)


#: Stage metrics summed over the jobs of one job group.
STAGE_FIELDS = (
    "jobs",
    "stages",
    "tasks",
    "executor_run_ms",
    "executor_cpu_ms",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
)


def job_group_stats(spark, group: str) -> "dict[str, float]":
    """Jobs, stages, tasks and executor-side stage metrics of every job run
    under ``group``, read from the status store after the jobs finished."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = dict.fromkeys(STAGE_FIELDS, 0.0)
    for job_id in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job_id)
        if info is None:
            continue
        out["jobs"] += 1
        for sid in info.stageIds:
            try:
                sd = store.lastStageAttempt(sid)
            except Py4JJavaError:  # stage skipped (shuffle reuse): no attempt ran
                continue
            out["stages"] += 1
            out["tasks"] += sd.numTasks()
            out["executor_run_ms"] += sd.executorRunTime()
            out["executor_cpu_ms"] += sd.executorCpuTime() / 1e6
            out["shuffle_read_bytes"] += sd.shuffleReadBytes()
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
    return out
