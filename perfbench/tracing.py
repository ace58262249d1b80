"""In-memory spans around the engine's public calls, for the traced run.

A span records its name, start and end (``time.perf_counter`` seconds),
the span that caused it (the enclosing span on the same thread) and
free-form attributes. A span opened with ``group=True`` also tags the
Spark jobs it launches with its own job group, so the jobs and tasks
it caused can be counted from ``statusTracker()`` once the run ends.
Spans stay in memory until ``dump``.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from contextlib import contextmanager

_GROUP_PROP = "spark.jobGroup.id"


class Tracer:
    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, group: bool = False, **attrs):
        """Record one span; the yielded dict takes extra attributes."""
        with self._lock:
            sid = next(self._ids)
        stack = self._stack()
        rec = {"id": sid, "parent": stack[-1] if stack else None, "name": name,
               "thread": threading.get_ident(), "attrs": dict(attrs)}
        prev_group = None
        if group:
            prev_group = self.sc.getLocalProperty(_GROUP_PROP)
            rec["group"] = f"perfbench-{sid}"
            self.sc.setJobGroup(rec["group"], name)
        stack.append(sid)
        rec["start"] = time.perf_counter()
        try:
            yield rec["attrs"]
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if group:
                self.sc.setLocalProperty(_GROUP_PROP, prev_group)
            with self._lock:
                self.spans.append(rec)

    def patch(self, owner, attr: str, name: str, group: bool = False, on_result=None) -> None:
        """Wrap ``owner.attr`` (a function or method) in a span.
        ``on_result(attrs, args, result)`` may add attributes."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name, group=group) as attrs:
                result = orig(*args, **kwargs)
                if on_result is not None:
                    on_result(attrs, args, result)
                return result

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def unpatch(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def resolve_spark_counts(self, settle_s: float = 1.0) -> None:
        """Fill ``jobs``/``tasks`` (completed tasks) into every grouped
        span. Job events reach the status store asynchronously, so this
        waits ``settle_s`` first; call it after the measured phase."""
        time.sleep(settle_s)
        tracker = self.sc.statusTracker()
        for rec in self.spans:
            if "group" not in rec:
                continue
            jobs = list(tracker.getJobIdsForGroup(rec["group"]))
            tasks = 0
            for j in jobs:
                info = tracker.getJobInfo(j)
                for s in info.stageIds if info else ():
                    st = tracker.getStageInfo(s)
                    tasks += st.numCompletedTasks if st else 0
            rec["jobs"], rec["tasks"] = len(jobs), tasks

    def by_name(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def dump(self, path: str, summary: dict) -> None:
        with open(path, "w") as f:
            json.dump({"summary": summary, "spans": self.spans}, f, default=str)


def ms(rec: dict) -> float:
    return (rec["end"] - rec["start"]) * 1000.0
