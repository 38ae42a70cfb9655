"""Spans around the program's public functions, and Spark's own counters.

The traced run replaces each traced function, in every module of the
package that binds it (callers look names up in their own module's
globals), by a wrapper that records a span: name, layer, start, end and
the span that was open on the same thread when it began. Spans stay in
memory until the run ends.
"""

from __future__ import annotations

import functools
import inspect
import sys
import threading
import time
from dataclasses import dataclass


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    layer: str
    start: float
    end: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def wrap(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            stack = self._stack()
            with self._lock:
                span = Span(len(self.spans), stack[-1].id if stack else None, name, layer, 0.0)
                self.spans.append(span)
            stack.append(span)
            span.start = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                span.end = time.perf_counter()
                stack.pop()

        return traced

    def patch(self, fn, name: str, layer: str, prefix: str) -> None:
        """Replace every binding of ``fn`` in the loaded modules under ``prefix``."""
        wrapped = self.wrap(fn, name, layer)
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (mod_name == prefix or mod_name.startswith(prefix + ".")):
                continue
            for attr, value in list(vars(mod).items()):
                if value is fn:
                    self._undo.append((mod, attr, fn))
                    setattr(mod, attr, wrapped)

    def patch_dict(self, table: dict, key, name: str, layer: str) -> None:
        self._undo.append((table, key, table[key]))
        table[key] = self.wrap(table[key], name, layer)

    def patch_module(self, mod, layer: str, prefix: str) -> None:
        """Trace every public function defined in ``mod``."""
        for attr, fn in list(vars(mod).items()):
            if (
                not attr.startswith("_")
                and inspect.isfunction(fn)
                and fn.__module__ == mod.__name__
            ):
                self.patch(fn, f"{layer}.{attr}", layer, prefix)

    def restore(self) -> None:
        for target, key, value in reversed(self._undo):
            if isinstance(target, dict):
                target[key] = value
            else:
                setattr(target, key, value)
        self._undo.clear()


def self_seconds(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_start, cur_end = 0.0, None, None
        for lo, hi in sorted(
            (max(c.start, s.start), min(c.end, s.end)) for c in children.get(s.id, [])
        ):
            if hi <= lo:
                continue
            if cur_end is None or lo > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = lo, hi
            else:
                cur_end = max(cur_end, hi)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s.id] = s.seconds - covered
    return out


def layer_totals(spans: list[Span]) -> dict[str, dict[str, float]]:
    """Per layer: self seconds, inclusive seconds of its outermost spans, calls."""
    own = self_seconds(spans)
    by_id = {s.id: s for s in spans}
    out: dict[str, dict[str, float]] = {}
    for s in spans:
        t = out.setdefault(s.layer, {"self_s": 0.0, "total_s": 0.0, "calls": 0})
        t["self_s"] += own[s.id]
        t["calls"] += 1
        p = by_id.get(s.parent)
        while p is not None and p.layer != s.layer:
            p = by_id.get(p.parent)
        if p is None:  # no enclosing span of the same layer
            t["total_s"] += s.seconds
    return out


def _opt(o):
    return o.get() if o.isDefined() else None


def _seq(s) -> list:
    """A Scala Seq or a Java List as a Python list."""
    return [s.apply(i) for i in range(s.size())] if hasattr(s, "apply") else list(s)


def _store(spark):
    return spark.sparkContext._jsc.sc().statusStore()


def last_job_id(spark) -> int:
    return max((j.jobId() for j in _seq(_store(spark).jobsList(None))), default=-1)


def engine_counters(spark, first_job: int = 0) -> tuple[dict[str, float], dict[str, int]]:
    """Totals over the session's jobs from ``first_job`` on, read from
    its status store, and the job count of each job group."""
    sc = spark.sparkContext
    store = _store(spark)
    jvm = sc._jvm
    jobs = [j for j in _seq(store.jobsList(None)) if j.jobId() >= first_job]
    groups: dict[str, int] = {}
    stage_ids: set[int] = set()
    exec_ms = tasks = failed = 0
    for j in jobs:
        g = _opt(j.jobGroup()) or ""
        groups[g] = groups.get(g, 0) + 1
        stage_ids.update(_seq(j.stageIds()))
        tasks += j.numTasks()
        failed += j.numFailedTasks()
        sub, done = _opt(j.submissionTime()), _opt(j.completionTime())
        if sub is not None and done is not None:
            exec_ms += done.getTime() - sub.getTime()
    stages = _seq(store.stageList(
        None, False, False, sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList()
    ))
    c = dict.fromkeys(
        ["executor_run_ms", "executor_cpu_ms", "gc_ms", "shuffle_read_bytes",
         "shuffle_write_bytes", "spill_bytes"], 0.0)
    ran = 0
    for s in stages:
        if s.stageId() not in stage_ids or s.numCompleteTasks() + s.numFailedTasks() == 0:
            continue
        ran += 1
        c["executor_run_ms"] += s.executorRunTime()
        c["executor_cpu_ms"] += s.executorCpuTime() / 1e6
        c["gc_ms"] += s.jvmGcTime()
        c["shuffle_read_bytes"] += s.shuffleReadBytes()
        c["shuffle_write_bytes"] += s.shuffleWriteBytes()
        c["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
    c.update(
        exec_s=exec_ms / 1000.0, jobs=float(len(jobs)), stages=float(ran),
        tasks=float(tasks), failed_tasks=float(failed),
    )
    return c, groups
