"""Per-layer measurement from outside the package.

Three sources, all read by the benchmark without changing engine code:

* **spans** around calls into each module's public functions. A module's
  functions are wrapped in every module global that binds them, so
  ``from ..operators.dedup import minhash_lsh`` call sites are caught too;
  call sites that captured a function in a closure or default argument are
  not (the streaming sinks are timed through their returned callables for
  that reason). Spans are kept in memory and written once at exit.
* **Spark's own counters**: per op job group -> jobs, tasks, executor run
  time and shuffle bytes from the status store; Python-operator output rows
  from the SQL status store.
* **streaming progress** from a ``StreamingQueryListener`` (every batch, not
  the bounded ``recentProgress`` window).
"""

from __future__ import annotations

import functools
import inspect
import json
import operator
import re
import sys
import threading
import time
from collections import defaultdict

#: module prefix -> layer name; order matters only for documentation
LAYER_MODULES = {
    "data_etl_with_dbt_spark.operators": "operators",
    "data_etl_with_dbt_spark.materialize": "materialize",
}
#: sources.io functions counted as ``sources.read`` / ``sources.write``
IO_FUNCS = {
    "read_parquet": "sources.read", "read_csv": "sources.read",
    "read_json": "sources.read", "read_text": "sources.read",
    "write_table": "sources.write", "write_files": "sources.write",
}


class Tracer:
    """In-memory span recorder. A span is (name, start, end, parent, op)."""

    def __init__(self):
        self.spans: list[dict] = []
        self._local = threading.local()
        self.op = None
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        s = getattr(self._local, "stack", None)
        if s is None:
            s = self._local.stack = []
        return s

    def span(self, name: str):
        return _Span(self, name)

    def layer_seconds(self, layer: str) -> float:
        """Wall time of the outermost spans of ``layer`` (a call into the
        layer made from inside the same layer is not counted twice)."""
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == layer and not s["nested"])

    def layer_calls(self, layer: str) -> int:
        return sum(1 for s in self.spans if s["name"] == layer)

    # -- wrapping -------------------------------------------------------
    def wrap(self, fn, layer: str):
        return _Traced(self, fn, layer)

    def instrument_package(self) -> None:
        """Wrap the public functions of every module in LAYER_MODULES and
        the readers in sources.io, rebinding each module global that refers
        to them."""
        targets: dict[int, tuple[object, str]] = {}
        mods = [m for n, m in list(sys.modules.items())
                if n.startswith("data_etl_with_dbt_spark") and m is not None]
        for m in mods:
            layer = next((lay for p, lay in LAYER_MODULES.items()
                          if m.__name__ == p or m.__name__.startswith(p + ".")), None)
            for attr, fn in vars(m).items():
                if not inspect.isfunction(fn) or fn.__module__ != m.__name__:
                    continue
                if layer and not attr.startswith("_"):
                    targets[id(fn)] = (fn, layer)
                elif m.__name__ == "data_etl_with_dbt_spark.sources.io" and attr in IO_FUNCS:
                    targets[id(fn)] = (fn, IO_FUNCS[attr])
        wrapped = {k: self.wrap(fn, layer) for k, (fn, layer) in targets.items()}
        for m in mods:
            for attr, val in list(vars(m).items()):
                w = wrapped.get(id(val))
                if w is not None:
                    self._patched.append((m, attr, val))
                    setattr(m, attr, w)

    def uninstrument(self) -> None:
        for m, attr, val in reversed(self._patched):
            setattr(m, attr, val)
        self._patched.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans}, fh)


class _Traced:
    """A function that records a span per call. Pickles as the function it
    wraps, so a UDF or worker closure that captured it ships unchanged."""

    def __init__(self, tracer: Tracer, fn, layer: str):
        functools.update_wrapper(self, fn)
        self._tracer, self._fn, self._layer = tracer, fn, layer

    def __call__(self, *args, **kwargs):
        with self._tracer.span(self._layer):
            return self._fn(*args, **kwargs)

    def __reduce__(self):
        return operator.itemgetter(0), ((self._fn,),)


class _Span:
    __slots__ = ("t", "name", "rec")

    def __init__(self, tracer: Tracer, name: str):
        self.t, self.name = tracer, name

    def __enter__(self):
        stack = self.t._stack()
        parent = stack[-1] if stack else None
        nested = any(self.t.spans[i]["name"] == self.name for i in stack)
        self.rec = {"name": self.name, "start": time.perf_counter(), "end": None,
                    "parent": parent, "op": self.t.op, "nested": nested}
        self.t.spans.append(self.rec)
        stack.append(len(self.t.spans) - 1)
        return self

    def __exit__(self, *exc):
        self.rec["end"] = time.perf_counter()
        self.t._stack().pop()
        return False


# -- Spark's own counters ------------------------------------------------------

_PY_NODE = re.compile(r"Python|Pandas|Arrow", re.I)


class SparkCounters:
    """Reads jobs/tasks/executor time/shuffle bytes of job groups from the
    live status store, and Python-operator output rows of the SQL executions
    those jobs belong to. Read after the timed phase: the status store keeps
    the last ``spark.ui.retainedJobs`` (1000) jobs, far more than a run makes."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self._j = spark._jvm.scala.jdk.javaapi.CollectionConverters.asJava
        self.totals: dict[str, float] = defaultdict(float)

    def collect_groups(self, groups: list[str]) -> dict[str, dict]:
        """Counters per job group, also added to ``totals``."""
        jobs = {g: {int(j) for j in self.sc.statusTracker().getJobIdsForGroup(g)}
                for g in groups}
        py_rows = self._python_rows_by_execution(set().union(*jobs.values()))
        out = {}
        for g, ids in jobs.items():
            c = out[g] = {"jobs": len(ids), "tasks": 0, "exec_s": 0.0,
                          "shuffle_bytes": 0, "python_rows": 0}
            stage_ids: set[int] = set()
            for j in ids:
                info = self.sc.statusTracker().getJobInfo(j)
                if info is not None:  # None: evicted from the bounded store
                    stage_ids.update(int(s) for s in info.stageIds)
            for s in stage_ids:
                st = self.store.lastStageAttempt(s)
                c["tasks"] += st.numCompleteTasks()
                c["exec_s"] += st.executorRunTime() / 1000.0
                c["shuffle_bytes"] += st.shuffleWriteBytes()
            c["python_rows"] = sum(n for ex_jobs, n in py_rows if ex_jobs & ids)
            for k, v in c.items():
                self.totals[k] += v
        return out

    def _python_rows_by_execution(self, jobs: set[int]) -> list[tuple[set[int], int]]:
        """(job ids, output rows of its Python operators -- pandas/Arrow UDF
        nodes) for every SQL execution that ran one of ``jobs``."""
        out = []
        for ex in self._j(self.sql.executionsList()):
            ex_jobs = {int(j) for j in self._j(ex.jobs()).keySet()}
            if not ex_jobs & jobs:
                continue
            metrics = {int(e.getKey()): str(e.getValue()) for e in
                       self._j(self.sql.executionMetrics(ex.executionId())).entrySet()}
            rows = 0
            for node in self._j(self.sql.planGraph(ex.executionId()).allNodes()):
                if not _PY_NODE.search(node.name()):
                    continue
                for m in self._j(node.metrics()):
                    v = metrics.get(int(m.accumulatorId()))
                    if m.name() == "number of output rows" and v:
                        rows += int(v.replace(",", ""))
            out.append((ex_jobs, rows))
        return out


def streaming_listener(spark, sink: list):
    """A StreamingQueryListener appending each batch's ``durationMs`` and
    input rows to ``sink``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Progress(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            sink.append({"batch": p.batchId, "rows": p.numInputRows,
                         "ms": dict(p.durationMs)})

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = _Progress()
    spark.streams.addListener(listener)
    return listener
