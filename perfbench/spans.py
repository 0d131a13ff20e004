"""Spans around the benchmark's calls into each layer, and the Spark
counters of the jobs each span issued.

A span records name, layer, start, end, parent span and operation id.
Spans live in memory and are written out when the run ends.  A layer's
self time is its span's duration minus the part of that interval its
child spans cover (overlapping children are counted once).

With tracing on, every span sets its own Spark job group, so the jobs,
stages and tasks it launched can be read back from ``statusTracker`` and
the status store after the operation.  Jobs that Structured Streaming
runs on its own thread carry the query's run id as their group; a span
can claim extra groups with :meth:`Tracer.claim_group`.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

_GROUP_PROP = "spark.jobGroup.id"

SPARK_COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "failed_tasks",
    "executor_run_s",
    "input_bytes",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
)


class Span:
    __slots__ = ("sid", "name", "op", "parent", "start", "end", "groups", "spark")

    def __init__(self, sid: int, name: str, op: int, parent: int | None, start: float):
        self.sid = sid
        self.name = name
        self.op = op
        self.parent = parent
        self.start = start
        self.end = start
        self.groups: list[str] = []
        self.spark: dict[str, float] = {}

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    def as_dict(self) -> dict:
        return {
            "sid": self.sid,
            "name": self.name,
            "op": self.op,
            "parent": self.parent,
            "start": self.start,
            "end": self.end,
            "spark": self.spark,
        }


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """{sid: duration minus the union of its children's intervals}."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.sid: (s.end - s.start) - covered(kids.get(s.sid, []), s.start, s.end)
        for s in spans
    }


class Tracer:
    """Span recorder.  Disabled, :meth:`span` costs one generator frame
    and records nothing, so the untraced run times the same code."""

    def __init__(self, spark=None, enabled: bool = False):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._op = -1

    def begin_op(self, op: int) -> None:
        self._op = op

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext if self.spark is not None else None
        parent = self._stack[-1].sid if self._stack else None
        s = Span(len(self.spans), name, self._op, parent, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        prev_group = None
        if sc is not None:
            # Local properties are per thread: set inside a foreachBatch
            # callback, the group applies to the stream thread's jobs.
            prev_group = sc.getLocalProperty(_GROUP_PROP)
            s.groups.append(f"perfbench-{s.sid}")
            sc.setLocalProperty(_GROUP_PROP, s.groups[0])
        try:
            yield s
        finally:
            if sc is not None:
                sc.setLocalProperty(_GROUP_PROP, prev_group)
            s.end = time.perf_counter()
            self._stack.pop()

    def claim_group(self, span: Span | None, group: str) -> None:
        """Attribute the jobs of another job group (e.g. a streaming
        query's run id) to ``span``."""
        if span is not None:
            span.groups.append(group)

    def op_spans(self, op: int) -> list[Span]:
        return [s for s in self.spans if s.op == op]

    def collect_spark(self, op: int) -> None:
        """Fill ``span.spark`` counters for every span of ``op`` from the
        status store (after the listener bus has drained)."""
        if not self.enabled or self.spark is None:
            return
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        store = jsc.statusStore()
        seen: set[int] = set()  # a shuffle stage reused by a later job counts once
        for s in self.op_spans(op):
            c = dict.fromkeys(SPARK_COUNTERS, 0)
            for g in s.groups:
                for jid in tracker.getJobIdsForGroup(g):
                    info = tracker.getJobInfo(jid)
                    if info is None:
                        continue
                    c["jobs"] += 1
                    for sid in info.stageIds:
                        if sid in seen:
                            continue
                        seen.add(sid)
                        try:
                            st = store.lastStageAttempt(sid)
                        except Exception:  # stage evicted or never submitted
                            continue
                        if st.status().toString() == "SKIPPED":
                            continue
                        c["stages"] += 1
                        c["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                        c["failed_tasks"] += st.numFailedTasks()
                        c["executor_run_s"] += st.executorRunTime() / 1000.0
                        c["input_bytes"] += st.inputBytes()
                        c["shuffle_read_bytes"] += st.shuffleReadBytes()
                        c["shuffle_write_bytes"] += st.shuffleWriteBytes()
            s.spark = c

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s.as_dict()) + "\n")
