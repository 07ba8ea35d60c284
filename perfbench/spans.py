"""Spans around the benchmark's calls into the library.

A span records name, start, end, parent span, request id, outcome and the
Spark job group its calls ran under. Spans stay in memory; Spark job and
task counts are resolved from the status tracker once the run has ended
(listener events arrive asynchronously, so resolving inside the span would
undercount), and the whole list is written as JSON at exit.

A disabled tracer (the untraced run) records nothing and touches no Spark
state, so end-to-end numbers carry no tracing cost.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, sc=None):
        self.sc = sc
        self.enabled = sc is not None
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._t0 = time.perf_counter()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def request(self, rid: str):
        """Spans opened inside share ``rid`` as their request id."""
        prev = getattr(self._local, "request", None)
        self._local.request = rid
        try:
            yield
        finally:
            self._local.request = prev

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = next(self._ids)
        stack = self._stack()
        rec = {"id": sid, "name": name, "parent": stack[-1] if stack else None,
               "request": getattr(self._local, "request", None),
               "group": f"perfbench-{sid}", "ok": True, **attrs}
        prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setJobGroup(rec["group"], name)
        stack.append(sid)
        rec["start"] = time.perf_counter() - self._t0
        try:
            yield rec
        except Exception as exc:
            rec["ok"] = False
            rec["error"] = error_class(exc)
            raise
        finally:
            rec["end"] = time.perf_counter() - self._t0
            stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", prev_group)
            with self._lock:
                self.spans.append(rec)

    def record(self, name: str, seconds: float) -> None:
        """A span for work that ran before the tracer existed."""
        if self.enabled:
            now = time.perf_counter() - self._t0
            self.spans.append({"id": next(self._ids), "name": name,
                               "parent": None, "request": None, "group": None,
                               "ok": True, "start": now - seconds, "end": now})

    def resolve_jobs(self) -> None:
        """Fill each span's Spark job count and completed-task count."""
        if not self.enabled:
            return
        st = self.sc.statusTracker()
        for rec in self.spans:
            jobs = (st.getJobIdsForGroup(rec["group"]) or []) if rec["group"] else []
            stages = set()
            for j in jobs:
                info = st.getJobInfo(j)
                if info is not None:
                    stages.update(info.stageIds)
            tasks = 0
            for s in stages:
                info = st.getStageInfo(s)
                if info is not None:
                    tasks += info.numCompletedTasks
            rec["jobs"], rec["tasks"] = len(jobs), tasks

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it its child spans cover."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for rec in self.spans:
            if rec["parent"] is not None:
                kids.setdefault(rec["parent"], []).append((rec["start"], rec["end"]))
        out = {}
        for rec in self.spans:
            covered, upto = 0.0, rec["start"]
            for a, b in sorted(kids.get(rec["id"], [])):
                a, b = max(a, upto), min(b, rec["end"])
                if b > a:
                    covered += b - a
                    upto = b
            out[rec["id"]] = rec["end"] - rec["start"] - covered
        return out

    def by_name(self) -> dict[str, list[dict]]:
        selfs = self.self_times()
        out: dict[str, list[dict]] = {}
        for rec in self.spans:
            out.setdefault(rec["name"], []).append({**rec, "self": selfs[rec["id"]]})
        return out

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as fh:
            json.dump([{**r, "self": selfs[r["id"]]} for r in self.spans], fh)


def error_class(exc: BaseException) -> str:
    """Exception type plus Spark's ``[ERROR_CLASS]`` tag when it has one."""
    msg = str(exc)
    name = type(exc).__name__
    if "[" in msg and "]" in msg.split("[", 1)[1]:
        tag = msg.split("[", 1)[1].split("]", 1)[0]
        if tag.replace("_", "").replace(".", "").isalnum() and tag.isupper():
            return f"{name}:{tag}"
    return name
