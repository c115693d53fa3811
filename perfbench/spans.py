"""Spans and Spark job census for the traced run.

Spans are kept in memory and written out once, when the run ends. A
span records its name, start, end, parent span and thread; the reporter
stamps it with the operation (cycle or epoch) it belongs to. Wrappers around library
functions are installed only by the traced run, on module attributes
the library looks up at call time, and are removed afterwards; the
untraced run installs nothing.

Job and stage counters come from the application status store
(``sc._jsc.sc().statusStore()``), which works with the UI disabled.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

from stats import union_length


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, **attrs):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": stack[-1]["id"] if stack else None,
            "thread": threading.get_ident(),
            "start": time.time(),
            **attrs,
        }
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def wrap(self, module, attr: str, name: str, before=None, after=None) -> None:
        """Replace ``module.attr`` with a spanned wrapper. Outside the
        span, ``before(args, kwargs)`` runs first and ``after(rec,
        result, args, kwargs, before_value)`` may add fields to the span
        record."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            pre = before(args, kwargs) if before is not None else None
            with self.span(name) as rec:
                result = orig(*args, **kwargs)
            if after is not None:
                after(rec, result, args, kwargs, pre)
            return result

        self._patched.append((module, attr, orig))
        setattr(module, attr, wrapper)

    def unwrap_all(self) -> None:
        for module, attr, orig in reversed(self._patched):
            setattr(module, attr, orig)
        self._patched.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(sorted(self.spans, key=lambda s: s["start"]), fh)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the part of its interval that its
    direct children cover (children clipped to the parent)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - union_length(kids.get(s["id"], []), s["start"], s["end"])
        for s in spans
    }


class JobCensus:
    """Completed Spark jobs with their stage metrics, read from the
    status store after the listener bus has drained. Job ids are
    sequential, so each poll reads on from the first id it has not seen;
    the constructor starts after every job that exists already."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.jobs: list[dict] = []
        listed = self._store().jobsList(None)
        self._next = 1 + max((listed.apply(i).jobId() for i in range(listed.size())),
                             default=-1)

    def _store(self):
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        return jsc.statusStore()

    def poll(self) -> list[dict]:
        """Fetch jobs finished since the last poll, in id order; stops at
        the first job still running or not yet submitted."""
        store = self._store()
        new = []
        while True:
            try:
                j = store.job(self._next)
            except Py4JJavaError:
                break
            if j.completionTime().isEmpty():
                break
            rec = {
                "job": self._next,
                "start": j.submissionTime().get().getTime() / 1000.0,
                "end": j.completionTime().get().getTime() / 1000.0,
                "tasks": j.numTasks(),
                "stages": 0,
                "executor_run_s": 0.0,
                "shuffle_read_bytes": 0,
                "shuffle_write_bytes": 0,
                "spill_bytes": 0,
            }
            sids = j.stageIds()
            for i in range(sids.size()):
                try:
                    st = store.lastStageAttempt(sids.apply(i))
                except Py4JJavaError:  # a skipped stage never ran
                    continue
                if str(st.status()) != "COMPLETE":
                    continue
                rec["stages"] += 1
                rec["executor_run_s"] += st.executorRunTime() / 1000.0
                rec["shuffle_read_bytes"] += st.shuffleReadBytes()
                rec["shuffle_write_bytes"] += st.shuffleWriteBytes()
                rec["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            new.append(rec)
            self._next += 1
        self.jobs.extend(new)
        return new

    def within(self, start: float, end: float) -> list[dict]:
        """Jobs submitted inside [start, end] (status-store times are
        whole milliseconds, so the window is widened by 1 ms)."""
        return [j for j in self.jobs if start - 0.001 <= j["start"] <= end + 0.001]


def job_totals(jobs: list[dict], start: float, end: float) -> dict:
    """Counters of the jobs in one interval, plus the driver gap: the
    interval's wall time not covered by any job."""
    return {
        "jobs": len(jobs),
        "stages": sum(j["stages"] for j in jobs),
        "tasks": sum(j["tasks"] for j in jobs),
        "executor_run_s": sum(j["executor_run_s"] for j in jobs),
        "shuffle_read_bytes": sum(j["shuffle_read_bytes"] for j in jobs),
        "shuffle_write_bytes": sum(j["shuffle_write_bytes"] for j in jobs),
        "spill_bytes": sum(j["spill_bytes"] for j in jobs),
        "driver_gap_s": (end - start)
        - union_length([(j["start"], j["end"]) for j in jobs], start, end),
    }
