"""Spans around the calls into each layer of the engine, recorded from the
benchmark's side only: the tracer replaces a layer's public functions with
timing wrappers (in the defining module and in every engine module that
imported them by name), so the engine's own code is untouched.

A span is (id, parent, op, name, start, end, error, attrs). Spans nest per
thread; an operation's root span is ``op`` and every span it causes
carries its op id. A span's self time is its duration minus its child
spans' durations. Spans stay in memory and are written out as JSON lines
at exit.

Per-operation Spark counters (jobs, tasks, rows scanned, shuffle bytes,
bytes exchanged with Python workers) come from the public status tracker
and the SQL status store, keyed by a job group set around each traced op.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import itertools
import json
import pkgutil
import re
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# layer function -> span name; operator modules are wrapped wholesale
LAYER_FUNCS = [
    ("drill_calcite_spark.session", "get_spark", "session.start"),
    ("drill_calcite_spark.catalog", "register_tables", "catalog.register"),
    ("drill_calcite_spark.plans.materialized", "MaterializedViews.create",
     "plans.mv_build"),
    ("drill_calcite_spark.plans.sql_substitution", "try_substitute",
     "plans.substitute"),
    ("drill_calcite_spark.sql", "rewrite", "sql.rewrite"),
    ("drill_calcite_spark.sql", "calcite_sql", "sql.calcite_sql"),
    ("drill_calcite_spark.sources.modify", "create_table", "modify.create"),
    ("drill_calcite_spark.sources.modify", "insert_into", "modify.insert"),
    ("drill_calcite_spark.sources.modify", "update_where", "modify.update"),
    ("drill_calcite_spark.sources.modify", "delete_where", "modify.delete"),
    ("drill_calcite_spark.sources.modify", "merge_into", "modify.merge"),
    ("drill_calcite_spark.sources.modify", "compact", "modify.compact"),
    ("drill_calcite_spark.sources.modify", "read_versioned",
     "modify.read_versioned"),
]
OPERATOR_PACKAGE = "drill_calcite_spark.operators"
OPERATOR_SPAN = "operators.call"


@dataclass
class Span:
    id: int
    parent: "int | None"
    op: "int | None"
    name: str
    start: float
    end: float = 0.0
    error: "str | None" = None
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder. ``enabled`` gates recording per thread, so
    wrappers stay installed through untraced operations at the cost of
    one thread-local lookup per call, and concurrent clients can trace
    some operations and not others."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    @property
    def enabled(self) -> bool:
        return getattr(self._local, "enabled", False)

    @enabled.setter
    def enabled(self, on: bool) -> None:
        self._local.enabled = on

    # ------------------------------------------------------------ spans
    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, op: "int | None" = None, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        if name == "op":
            self._local.names = set()
        else:
            self._local.names = getattr(self._local, "names", set())
            self._local.names.add(name)
        s = Span(next(self._ids), parent.id if parent else None,
                 op if op is not None else (parent.op if parent else None),
                 name, time.perf_counter(), attrs=attrs)
        stack.append(s)
        try:
            yield s
        except BaseException as e:
            s.error = type(e).__name__
            raise
        finally:
            s.end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(s)

    def seen(self, name: str) -> bool:
        """Whether the current thread's op has opened a ``name`` span."""
        return name in getattr(self._local, "names", ())

    # ---------------------------------------------------------- wrapping
    def _wrapper(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            with tracer.span(name, fn=fn.__name__) as s:
                out = fn(*args, **kwargs)
                if name == "plans.substitute":
                    s.attrs["hit"] = out is not None
                return out

        return traced

    def install(self) -> None:
        """Wrap every layer function, then rebind engine modules that
        imported one by name so their calls go through the wrapper."""
        originals = {}
        for mod_name, qual, name in LAYER_FUNCS:
            owner = importlib.import_module(mod_name)
            *path, attr = qual.split(".")
            for p in path:
                owner = getattr(owner, p)
            fn = getattr(owner, attr)
            wrapped = self._wrapper(fn, name)
            setattr(owner, attr, wrapped)
            originals[id(fn)] = wrapped
        pkg = importlib.import_module(OPERATOR_PACKAGE)
        for info in pkgutil.iter_modules(pkg.__path__):
            mod = importlib.import_module(f"{OPERATOR_PACKAGE}.{info.name}")
            for attr, fn in list(vars(mod).items()):
                if attr.startswith("_") or not inspect.isfunction(fn) \
                        or fn.__module__ != mod.__name__:
                    continue
                wrapped = self._wrapper(fn, OPERATOR_SPAN)
                setattr(mod, attr, wrapped)
                originals[id(fn)] = wrapped
        for mod_name, mod in list(sys.modules.items()):
            if not mod_name.startswith("drill_calcite_spark") or mod is None:
                continue
            for attr, val in list(vars(mod).items()):
                w = originals.get(id(val))
                if w is not None and w is not val:
                    setattr(mod, attr, w)

    # ---------------------------------------------------------- analysis
    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus its children's durations (children
        of a span run on its thread, one after another)."""
        covered: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                covered[s.parent] = covered.get(s.parent, 0.0) \
                    + (s.end - s.start)
        return {s.id: (s.end - s.start) - covered.get(s.id, 0.0)
                for s in self.spans}

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s.start):
                fh.write(json.dumps({
                    "id": s.id, "parent": s.parent, "op": s.op,
                    "name": s.name, "start": s.start, "end": s.end,
                    "self": selfs[s.id], "error": s.error,
                    "attrs": s.attrs}) + "\n")


# ------------------------------------------------------------ Spark side
_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
         "TiB": 1 << 40}
_PY_NODE = re.compile(r"(Python|Pandas|Arrow)")


def _number(text: "str | None") -> float:
    """Total of an SQL metric as the status store formats it: a sum
    metric reads '60,000'; a size metric reads 'total (...)\\n1.2 KiB
    (...)' or '240.0 B'."""
    if not text:
        return 0.0
    line = text.split("\n", 1)[-1]
    m = re.match(r"\s*([\d.,]+)\s*(B|KiB|MiB|GiB|TiB)?", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _SIZE.get(m.group(2), 1)


def _scala_iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


class SparkCounters:
    """Per-op engine counters read after the op from Spark's listeners."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.store = spark._jsparkSession.sharedState().statusStore()

    def start(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def finish(self, group: str) -> dict[str, float]:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        jobs = set(tracker.getJobIdsForGroup(group))
        tasks = 0
        for j in jobs:
            info = tracker.getJobInfo(j)
            for sid in (info.stageIds if info else ()):
                st = tracker.getStageInfo(sid)
                tasks += st.numTasks if st else 0
        out = {"jobs": float(len(jobs)), "tasks": float(tasks),
               "rows_scanned": 0.0, "shuffle_bytes": 0.0, "py_bytes": 0.0}
        if not jobs:
            return out
        n = self.store.executionsCount()
        for ex in _scala_iter(self.store.executionsList(max(0, n - 64), 64)):
            ids = set(_scala_iter(ex.jobs().keys()))
            if not ids & jobs:
                continue
            values = self.store.executionMetrics(ex.executionId())
            for node in _scala_iter(
                    self.store.planGraph(ex.executionId()).allNodes()):
                name = node.name()
                for pm in _scala_iter(node.metrics()):
                    key = pm.name()
                    if name.startswith("Scan ") and "ExistingRDD" not in name \
                            and key == "number of output rows":
                        field_ = "rows_scanned"
                    elif name.startswith("Exchange") \
                            and key == "shuffle bytes written":
                        field_ = "shuffle_bytes"
                    elif _PY_NODE.search(name) and key in (
                            "data sent to Python workers",
                            "data returned from Python workers"):
                        field_ = "py_bytes"
                    else:
                        continue
                    v = values.get(pm.accumulatorId())
                    out[field_] += _number(v.get() if v.isDefined() else None)
        return out
