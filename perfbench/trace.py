"""Spans and counters recorded from outside the library.

A span is (name, start, end, parent, op id), named ``<layer>.<function>``
and kept in memory until the run ends. Counts come from outside the
library too:

- py4j round trips: ``ClientServerConnection.send_command`` is wrapped;
- Spark jobs and tasks: each op runs in its own job group (streaming
  batches run in their query's ``runId`` group), read back through
  ``statusTracker()``;
- JVM GC time: the GC MXBeans, read before and after each op.

``NullTracer`` has the same interface and records nothing; the
untraced run uses it, so end-to-end numbers carry no tracing cost.
"""

from __future__ import annotations

import contextlib
import functools
import statistics
import threading
import time
from collections import defaultdict
from typing import Any, Callable, Iterator


class NullTracer:
    enabled = False

    @contextlib.contextmanager
    def span(self, name: str) -> Iterator[None]:
        yield

    @contextlib.contextmanager
    def op(self, kind: str) -> Iterator[dict]:
        yield {}

    def wrap(self, name: str, fn: Callable) -> Callable:
        return fn

    def add_stream_group(self, run_id: str) -> None:
        pass

    def close(self) -> None:
        pass


class Tracer(NullTracer):
    enabled = True

    def __init__(self, spark) -> None:
        from py4j.clientserver import ClientServerConnection

        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self._stack: list[int] = []
        self._op: dict | None = None
        self._lock = threading.Lock()
        self._conn_cls = ClientServerConnection
        self._orig_send = ClientServerConnection.send_command
        tracer = self

        def send_command(conn, command, *args, **kwargs):
            op = tracer._op
            if op is not None:
                with tracer._lock:
                    op["py4j_trips"] += 1
            return tracer._orig_send(conn, command, *args, **kwargs)

        ClientServerConnection.send_command = send_command
        jvm = spark._jvm
        self._gc_beans = list(jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans())

    def close(self) -> None:
        self._conn_cls.send_command = self._orig_send

    # -- spans ------------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str) -> Iterator[None]:
        # The stack is shared across threads on purpose: a streaming
        # foreachBatch callback runs on py4j's callback thread while the
        # caller blocks in awaitTermination, so its spans nest under the
        # caller's open span.
        with self._lock:
            sid = len(self.spans)
            parent = self._stack[-1] if self._stack else None
            rec = {
                "id": sid, "name": name, "parent": parent,
                "op": self._op["id"] if self._op else None,
                "start": time.perf_counter(), "end": None,
            }
            self.spans.append(rec)
            self._stack.append(sid)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            with self._lock:
                self._stack.remove(sid)

    def wrap(self, name: str, fn: Callable) -> Callable:
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return traced

    # -- ops --------------------------------------------------------------

    def _gc_ms(self) -> int:
        return sum(int(b.getCollectionTime()) for b in self._gc_beans)

    @contextlib.contextmanager
    def op(self, kind: str) -> Iterator[dict]:
        """One op: its own job group, py4j trip count and GC delta.
        Trips are counted only while ``_op`` is set, so the tracer's own
        JVM calls before and after the op are not counted."""
        op_id = len(self.ops)
        group = f"perfbench-op-{op_id}"
        gc0 = self._gc_ms()
        self.sc.setJobGroup(group, kind)
        rec = {"id": op_id, "kind": kind, "py4j_trips": 0, "groups": [group]}
        self._op = rec
        try:
            with self.span(f"op.{kind}"):
                yield rec
        finally:
            self._op = None
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            rec["gc_ms"] = self._gc_ms() - gc0
            rec["jobs"], rec["tasks"] = self._jobs_tasks(rec["groups"])
            self.ops.append(rec)

    def add_stream_group(self, run_id: str) -> None:
        if self._op is not None:
            self._op["groups"].append(run_id)

    def _jobs_tasks(self, groups: list[str]) -> tuple[int, int]:
        st = self.sc.statusTracker()
        jobs = tasks = 0
        for g in groups:
            for jid in st.getJobIdsForGroup(g):
                jobs += 1
                info = st.getJobInfo(jid)
                for sid in (info.stageIds if info else []):
                    stage = st.getStageInfo(sid)
                    if stage is not None:
                        tasks += stage.numTasks
        return jobs, tasks

    # -- report -----------------------------------------------------------

    def report(self) -> dict[str, Any]:
        """Per-layer self time, per-op-kind counts and the share of op
        wall time not covered by any layer span."""
        children: dict[int, list[dict]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append(s)
        self_ms: dict[str, float] = defaultdict(float)
        fn_ms: dict[str, list[float]] = defaultdict(list)
        uncovered = []
        for s in self.spans:
            dur = s["end"] - s["start"]
            cov = _covered([(c["start"], c["end"]) for c in children[s["id"]]])
            fn_ms[s["name"]].append(dur * 1000.0)
            if s["name"].startswith("op."):
                uncovered.append((dur - cov) / dur if dur > 0 else 0.0)
            else:
                self_ms[s["name"].split(".")[0]] += (dur - cov) * 1000.0
        by_kind: dict[str, dict[str, list]] = defaultdict(lambda: defaultdict(list))
        for o in self.ops:
            for k in ("py4j_trips", "jobs", "tasks", "gc_ms"):
                by_kind[o["kind"]][k].append(o[k])
        return {
            "layer_self_ms": dict(sorted(self_ms.items())),
            "span_ms_p50": {k: statistics.median(v) for k, v in sorted(fn_ms.items())},
            "span_calls": {k: len(v) for k, v in sorted(fn_ms.items())},
            "uncovered_frac_p50": statistics.median(uncovered) if uncovered else 0.0,
            "by_kind": {
                kind: {k: statistics.median(v) for k, v in d.items()}
                for kind, d in sorted(by_kind.items())
            },
            "gc_ms_per_op": (
                sum(o["gc_ms"] for o in self.ops) / len(self.ops) if self.ops else 0.0
            ),
        }


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of intervals."""
    total, end = 0.0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total
