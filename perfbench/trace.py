"""Spans recorded from outside the program.

A span wraps one call into a layer's public function: name, start,
end, parent span and run id. With tracing on, each span also runs
under its own Spark job group, so ``statusTracker()`` attributes jobs,
stages, tasks and failed tasks to it, and it records the JVM's GC time
and count (GC MX beans) over its interval. Spans stay in memory; job
counts are resolved once, when the run ends and the listener bus has
drained, and the whole list is written out then.

With tracing off a span records only its wall time, so untraced runs
pay two ``perf_counter`` calls per span.
"""

from __future__ import annotations

import itertools
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark, run_id: str, enabled: bool):
        self.spark = spark
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self.overhead_s = 0.0  # time spent in this class while tracing
        self._ids = itertools.count(1)
        self._stack: list[dict] = []
        self._gc_beans = None

    def bind(self, spark) -> None:
        """Point at a (re)started session."""
        self.spark = spark
        self._gc_beans = None

    def _gc(self) -> tuple[float, int]:
        if self._gc_beans is None:
            mf = self.spark._jvm.java.lang.management.ManagementFactory
            self._gc_beans = list(mf.getGarbageCollectorMXBeans())
        ms = n = 0
        for b in self._gc_beans:
            ms += max(0, b.getCollectionTime())
            n += max(0, b.getCollectionCount())
        return ms / 1000.0, n

    def _set_group(self, span: dict | None) -> None:
        sc = self.spark.sparkContext
        if span is None:
            sc._jsc.clearJobGroup()
        else:
            sc.setJobGroup(span["group"], span["name"])

    @contextmanager
    def span(self, name: str, jvm: bool = True, **attrs):
        """``jvm=False`` records wall time only (for spans with no live
        session, such as session start itself)."""
        t_in = time.perf_counter()
        traced = self.enabled and jvm
        parent = self._stack[-1] if self._stack else None
        span = {
            "id": next(self._ids),
            "parent": parent["id"] if parent else None,
            "run": self.run_id,
            "name": name,
            "attrs": attrs,
        }
        if traced:
            span["group"] = f"{self.run_id}.{span['id']}"
            self._set_group(span)
            span["gc_s"], span["gc_count"] = self._gc()
        self._stack.append(span)
        span["start"] = time.perf_counter()
        self.overhead_s += span["start"] - t_in if traced else 0.0
        try:
            yield span
        finally:
            span["end"] = t_out = time.perf_counter()
            self._stack.pop()
            if traced:
                gc_s, gc_n = self._gc()
                span["gc_s"] = gc_s - span["gc_s"]
                span["gc_count"] = gc_n - span["gc_count"]
                self._set_group(parent)
                self.overhead_s += time.perf_counter() - t_out
            self.spans.append(span)

    def resolve(self) -> None:
        """Attach job/stage/task counts to every span (self counts: a
        child span's jobs run under the child's group). Call before
        the session stops."""
        if not self.enabled:
            return
        sc = self.spark.sparkContext
        try:
            sc._jsc.sc().listenerBus().waitUntilEmpty()
        except Exception:  # older listener-bus signature
            time.sleep(1.0)
        st = sc.statusTracker()
        for span in self.spans:
            if "group" not in span:
                continue
            jobs = stages = tasks = failed = 0
            for j in st.getJobIdsForGroup(span["group"]):
                info = st.getJobInfo(j)
                jobs += 1
                for s in info.stageIds if info else ():
                    si = st.getStageInfo(s)
                    if si is None or si.numCompletedTasks + si.numFailedTasks == 0:
                        continue  # skipped (reused) stage
                    stages += 1
                    tasks += si.numCompletedTasks
                    failed += si.numFailedTasks
            span.update(jobs=jobs, stages=stages, tasks=tasks, tasks_failed=failed)

    # -- queries over the recorded spans -------------------------------------

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def subtree(self, span: dict) -> list[dict]:
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            kids.setdefault(s["parent"], []).append(s)
        out, todo = [], [span]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids.get(s["id"], ()))
        return out

    def total(self, span: dict, key: str) -> int:
        """Inclusive count over a span and its descendants."""
        return sum(s.get(key, 0) for s in self.subtree(span))

    def dump(self) -> list[dict]:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        out = []
        for s in sorted(self.spans, key=lambda s: s["id"]):
            d = {k: v for k, v in s.items() if k not in ("start", "end")}
            d["start_s"] = round(s["start"] - t0, 6)
            d["dur_s"] = round(s["end"] - s["start"], 6)
            out.append(d)
        return out


def dur(span: dict) -> float:
    return span["end"] - span["start"]
