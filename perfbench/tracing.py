"""Spans around the calls into each layer, with Spark and JVM counters.

A span records name, start, end and parent. A span opened with
``jobs=True`` tags the Spark jobs it runs with its own job group and,
on exit, counts them with ``statusTracker()`` (this works with the UI
disabled). ``NullTracer`` is the untraced stand-in: same interface,
no work.
"""

from __future__ import annotations

import contextlib
import itertools
import time


class NullTracer:
    enabled = False

    @contextlib.contextmanager
    def span(self, name: str, jobs: bool = False):
        yield None


class JvmCounters:
    """Cumulative JVM-wide counters read through the py4j gateway."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jvm = spark._jvm
        self._mf = jvm.java.lang.management.ManagementFactory
        self._codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics
        self._pid = int(jvm.java.lang.ProcessHandle.current().pid())

    def jit_ms(self) -> int:
        return int(self._mf.getCompilationMXBean().getTotalCompilationTime())

    def gc_ms(self) -> int:
        return sum(int(b.getCollectionTime()) for b in self._mf.getGarbageCollectorMXBeans())

    def codegen_compiles(self) -> int:
        return int(self._codegen.METRIC_COMPILATION_TIME().getCount())

    def peak_rss_mb(self) -> float:
        with open(f"/proc/{self._pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        return float("nan")

    def snapshot(self) -> dict:
        return {"jit_ms": self.jit_ms(), "gc_ms": self.gc_ms(), "codegen": self.codegen_compiles()}


class Tracer:
    """Collects spans in memory; ``dump`` writes them out at the end."""

    enabled = True

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._bus = self.sc._jsc.sc().listenerBus()
        self._tracker = self.sc.statusTracker()
        self._ids = itertools.count()
        self._stack: list[dict] = []
        self.spans: list[dict] = []

    def _drain(self) -> None:
        """Job/stage state reaches the status store through the
        asynchronous listener bus; wait until it has caught up."""
        self._bus.waitUntilEmpty(10_000)

    def _count(self, group: str) -> dict:
        self._drain()
        jobs = stages = tasks = 0
        for jid in self._tracker.getJobIdsForGroup(group):
            info = self._tracker.getJobInfo(jid)
            jobs += 1
            if info is None:
                continue
            for sid in info.stageIds:
                stages += 1
                st = self._tracker.getStageInfo(sid)
                if st is not None:
                    tasks += st.numTasks
        return {"jobs": jobs, "stages": stages, "tasks": tasks}

    def _set_group(self, group) -> None:
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(group, group)

    def _current_group(self):
        for s in reversed(self._stack):
            if "group" in s:
                return s["group"]
        return None

    @contextlib.contextmanager
    def span(self, name: str, jobs: bool = False):
        sid = next(self._ids)
        rec = {"id": sid, "name": name, "parent": self._stack[-1]["id"] if self._stack else None}
        if jobs:
            rec["group"] = f"perfbench-{sid}-{name}"
            self._set_group(rec["group"])
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if jobs:
                self._set_group(self._current_group())
                rec.update(self._count(rec["group"]))
            self.spans.append(rec)

    def children(self, rec: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == rec["id"]]

    def subtree(self, rec: dict, key: str) -> int:
        """A Spark count over ``rec`` and every span below it; nested
        spans tag their jobs with their own group, so nothing is
        counted twice."""
        return rec.get(key, 0) + sum(self.subtree(s, key) for s in self.children(rec))

    def descendants(self, rec: dict, name: str) -> list[dict]:
        out, frontier = [], [rec]
        while frontier:
            kids = [s for f in frontier for s in self.children(f)]
            out += [s for s in kids if s["name"] == name]
            frontier = kids
        return out

    def dump(self, path, meta: dict) -> None:
        from common import write_json

        spans = sorted(self.spans, key=lambda s: s["start"])
        t0 = spans[0]["start"] if spans else 0.0
        write_json(
            path,
            {
                "meta": meta,
                "spans": [
                    dict(s, start=s["start"] - t0, end=s["end"] - t0) for s in spans
                ],
            },
        )


class Proxy:
    """Forwards every attribute of ``target``; the listed methods run
    inside a span named ``<layer>.<method>``."""

    def __init__(self, target, tracer, layer: str, methods: dict):
        self._target = target
        self._tracer = tracer
        self._layer = layer
        self._methods = methods  # method name -> count Spark jobs?

    def __getattr__(self, attr):
        value = getattr(self._target, attr)
        if attr not in self._methods:
            return value

        def traced(*args, **kwargs):
            with self._tracer.span(f"{self._layer}.{attr}", jobs=self._methods[attr]):
                return value(*args, **kwargs)

        return traced


def covered(spans) -> float:
    """Seconds covered by the union of the spans' intervals."""
    total, end = 0.0, float("-inf")
    for s in sorted(spans, key=lambda s: s["start"]):
        if s["end"] > end:
            total += s["end"] - max(s["start"], end)
            end = s["end"]
    return total


def traced_call(tracer, name: str, fn, jobs: bool = True):
    """``fn`` wrapped so each call runs inside a span called ``name``."""

    def call(*args, **kwargs):
        with tracer.span(name, jobs=jobs):
            return fn(*args, **kwargs)

    return call
