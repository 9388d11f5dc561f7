"""Span tracer for the traced benchmark run.

Wraps the engine's public functions from outside (module / class attribute
swaps that ``uninstall`` puts back), so the program under test is never
edited. Each span:

- records name, parent, start and end on the driver thread (spans are kept
  in memory and written out once, at exit);
- runs under its own Spark job group (``spark.jobGroup.id`` local
  property), restoring the parent's group on exit, so every Spark job is
  attributed to the innermost span that started it;
- reads its jobs, stages, tasks and failed tasks from ``statusTracker()``
  when it ends.

Executor run time, GC time, shuffle write and spill come from the Spark
event log after the session stops (``attach_event_log``). Self time of a
span is its duration minus the part covered by its children.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import time

GROUP_KEY = "spark.jobGroup.id"
GROUP_PREFIX = "perfbench-span-"

_STAGE_METRICS = {
    "internal.metrics.executorRunTime": "executor_run_ms",
    "internal.metrics.jvmGCTime": "gc_ms",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_bytes",
    "internal.metrics.memoryBytesSpilled": "spill_bytes",
    "internal.metrics.diskBytesSpilled": "spill_bytes",
}


class Span:
    __slots__ = ("id", "parent", "name", "t0", "t1", "attrs", "children")

    def __init__(self, sid: int, parent: int | None, name: str):
        self.id = sid
        self.parent = parent
        self.name = name
        self.t0 = time.perf_counter()
        self.t1 = self.t0
        self.attrs: dict = {}
        self.children: list[Span] = []

    @property
    def seconds(self) -> float:
        return self.t1 - self.t0

    def self_seconds(self) -> float:
        return self.seconds - sum(c.seconds for c in self.children)

    def walk(self):
        yield self
        for c in self.children:
            yield from c.walk()

    def total(self, key: str) -> float:
        """``key`` summed over this span and its descendants."""
        return sum(s.attrs.get(key, 0) for s in self.walk())

    def as_dict(self) -> dict:
        return {"id": self.id, "parent": self.parent, "name": self.name,
                "start": self.t0, "end": self.t1,
                "self_s": self.self_seconds(), **self.attrs}


class Tracer:
    """Spans + job groups around wrapped calls on the driver thread."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patches: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), parent.id if parent else None, name)
        s.attrs.update(attrs)
        self.spans.append(s)
        if parent:
            parent.children.append(s)
        self._stack.append(s)
        group = f"{GROUP_PREFIX}{s.id}"
        outer = self.sc.getLocalProperty(GROUP_KEY)
        self.sc.setLocalProperty(GROUP_KEY, group)
        try:
            yield s
        finally:
            self.sc.setLocalProperty(GROUP_KEY, outer)
            s.t1 = time.perf_counter()
            self._stack.pop()
            self._read_status(s, group)

    def _read_status(self, s: Span, group: str) -> None:
        jobs = list(self.tracker.getJobIdsForGroup(group))
        stages = tasks = failed = 0
        for jid in jobs:
            info = self.tracker.getJobInfo(jid)
            for sid in (info.stageIds if info else ()):
                st = self.tracker.getStageInfo(sid)
                if st is None:
                    continue
                stages += 1
                tasks += st.numTasks
                failed += st.numFailedTasks
        s.attrs.update(group=group, jobs=len(jobs), stages=stages,
                       tasks=tasks, failed_tasks=failed)

    # -- wrapping public functions ----------------------------------------

    def wrap(self, owner, attr: str, name: str, on_call=None) -> None:
        """Replace ``owner.attr`` by a spanned wrapper. ``on_call(span,
        args, result)`` may add counts to the span."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def spanned(*args, **kwargs):
            with self.span(name) as s:
                result = fn(*args, **kwargs)
                if on_call is not None:
                    on_call(s, args, result)
                return result

        self.patch(owner, attr, spanned)

    def patch(self, owner, attr: str, replacement) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, replacement)

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, fn = self._patches.pop()
            setattr(owner, attr, fn)

    # -- event log ----------------------------------------------------------

    def attach_event_log(self, log_dir: str) -> None:
        """Add per-stage executor metrics to the span that owns each stage
        (via the job's group). Call after the session has stopped, so the
        log is complete."""
        paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
        by_group = {f"{GROUP_PREFIX}{s.id}": s for s in self.spans}
        stage_group: dict[int, str] = {}
        for path in paths:
            with open(path, encoding="utf-8") as fh:
                for line in fh:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        group = (ev.get("Properties") or {}).get(GROUP_KEY)
                        if group in by_group:
                            for sid in ev.get("Stage IDs", ()):
                                stage_group[sid] = group
                    elif kind == "SparkListenerStageCompleted":
                        info = ev["Stage Info"]
                        span = by_group.get(stage_group.get(info["Stage ID"]))
                        if span is None:
                            continue
                        for acc in info.get("Accumulables", ()):
                            key = _STAGE_METRICS.get(acc.get("Name"))
                            if key:
                                span.attrs[key] = span.attrs.get(key, 0) + int(acc["Value"])

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as fh:
            for s in self.spans:
                fh.write(json.dumps(s.as_dict()) + "\n")
