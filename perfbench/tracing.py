"""Spans around the benchmark's calls into each layer, plus the Spark-side
readers the traced mode uses.

Spans are recorded from outside the package: ``Tracer.patch`` swaps a
module or class attribute for a timing wrapper for the length of a
``with`` block and restores it afterwards, so an untraced pass runs the
package's own functions untouched. Spans stay in memory (one tuple each)
and are written out once, at the end of the run.
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager

# physical operators that cross into Python workers
PYTHON_EXEC_NODES = (
    "ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow",
    "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas", "AggregateInPandas",
    "WindowInPandas", "FlatMapGroupsInPandasWithState", "PythonUDTF",
    "ArrowEvalPythonUDTF", "BatchEvalPythonUDTF",
)


class Tracer:
    """Span recorder. A span is (id, parent id, operation id, name,
    thread, start, end); nesting is tracked per thread."""

    def __init__(self) -> None:
        self.spans: list[tuple] = []
        self._local = threading.local()
        self._next = 0
        self._lock = threading.Lock()
        self.op = None

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def current(self) -> str | None:
        st = self._stack()
        return st[-1][1] if st else None

    @contextmanager
    def span(self, name: str):
        st = self._stack()
        with self._lock:
            sid = self._next
            self._next += 1
        parent = st[-1][0] if st else None
        st.append((sid, name))
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            st.pop()
            self.spans.append(
                (sid, parent, self.op, name, threading.get_ident(), t0, t1)
            )

    @contextmanager
    def patch(self, target, attr: str, name, only_under: str | None = None):
        """Time every call of ``target.attr`` as a span. ``name`` is a span
        name or a function of the call's arguments returning one (or None
        for no span). With ``only_under``, calls are timed only when the
        calling thread's innermost open span has that name."""
        orig = getattr(target, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            if only_under is not None and tracer.current() != only_under:
                return orig(*args, **kwargs)
            span_name = name(*args, **kwargs) if callable(name) else name
            if span_name is None:
                return orig(*args, **kwargs)
            with tracer.span(span_name):
                return orig(*args, **kwargs)

        setattr(target, attr, wrapper)
        try:
            yield
        finally:
            setattr(target, attr, orig)

    def summary(self, ops) -> dict[str, dict]:
        """Per span name over the spans of operations ``ops``: call count,
        total time and self time (total minus the part of the interval its
        child spans cover)."""
        spans = [s for s in self.spans if s[2] in ops]
        children: dict[int, list] = {}
        for s in spans:
            if s[1] is not None:
                children.setdefault(s[1], []).append((s[5], s[6]))
        out: dict[str, dict] = {}
        for sid, _, _, name, _, t0, t1 in spans:
            covered = 0.0
            end = t0
            for c0, c1 in sorted(children.get(sid, [])):
                c0 = max(c0, end)
                if c1 > c0:
                    covered += c1 - c0
                    end = c1
            agg = out.setdefault(name, {"calls": 0, "total_s": 0.0, "self_s": 0.0})
            agg["calls"] += 1
            agg["total_s"] += t1 - t0
            agg["self_s"] += (t1 - t0) - covered
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sid, parent, op, name, tid, t0, t1 in self.spans:
                f.write(json.dumps({
                    "id": sid, "parent": parent, "op": op, "name": name,
                    "thread": tid, "start": t0, "end": t1,
                }) + "\n")


class SparkMetrics:
    """Reads per-job stage metrics from the SparkContext's live status
    store (present with the UI disabled) and per-query plan facts from a
    DataFrame's QueryExecution."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._gw = self.sc._gateway

    def _doubles(self, values):
        arr = self._gw.new_array(self._gw.jvm.double, len(values))
        for i, v in enumerate(values):
            arr[i] = float(v)
        return arr

    def group_stages(self, group: str) -> tuple[int, list]:
        """(jobs started under ``group``, stage attempts of those jobs)."""
        self._jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        store = self._jsc.statusStore()
        empty = self._gw.jvm.java.util.ArrayList()
        stages = []
        seen = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            for sid in info.stageIds if info else []:
                if sid in seen:
                    continue
                seen.add(sid)
                seq = store.stageData(sid, False, empty, False, self._doubles([]))
                stages.extend(seq.apply(i) for i in range(seq.size()))
        return len(jobs), stages

    def task_runtime_quantiles(self, stage, qs=(0.5, 1.0)) -> list[float] | None:
        store = self._jsc.statusStore()
        opt = store.taskSummary(stage.stageId(), stage.attemptId(), self._doubles(qs))
        if not opt.isDefined():
            return None
        ert = opt.get().executorRunTime()
        return [ert.apply(i) for i in range(len(qs))]

    @staticmethod
    def stage_totals(stages) -> dict[str, float]:
        return {
            "run_ms": sum(s.executorRunTime() for s in stages),
            "shuffle_write_bytes": sum(s.shuffleWriteBytes() for s in stages),
            "spill_bytes": sum(s.memoryBytesSpilled() + s.diskBytesSpilled() for s in stages),
            "peak_memory_bytes": max((s.peakExecutionMemory() for s in stages), default=0),
        }

    @staticmethod
    def catalyst_ms(df) -> dict[str, float]:
        it = df._jdf.queryExecution().tracker().phases().iterator()
        out = {}
        while it.hasNext():
            kv = it.next()
            out[kv._1()] = float(kv._2().durationMs())
        return out

    @staticmethod
    def plan_nodes(df) -> list[str]:
        """Node names of the executed physical plan, descending into AQE
        query stages."""
        names = []
        todo = [df._jdf.queryExecution().executedPlan()]
        while todo:
            p = todo.pop()
            names.append(p.nodeName())
            cls = p.getClass().getSimpleName()
            if cls == "AdaptiveSparkPlanExec":
                todo.append(p.executedPlan())
            elif cls.endswith("QueryStageExec"):
                todo.append(p.plan())
            else:
                kids = p.children()
                todo.extend(kids.apply(i) for i in range(kids.size()))
        return names
