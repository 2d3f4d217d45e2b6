"""Traced runs: spans around the program's layers, measured from outside.

The tracer replaces public functions of the program's modules with wrappers
that open a span (name, start, end, parent, op id) for the call. Spans live
in memory until the run ends. Each operation runs under its own Spark job
group, and each span sets the job description to its own id, so every Spark
job is charged to the innermost span that submitted it. After the run the
tracer reads the jobs, stages and executor metrics of every operation from
Spark's status tracker and status store.

Nothing here changes the program: wrappers keep the wrapped function's
module and qualified name, so a function shipped to executors still pickles
by reference and runs unwrapped there.
"""

from __future__ import annotations

import functools
import inspect
import sys
import time
from contextlib import contextmanager

PKG = "pydata_vector_search_spark"

# layer name -> module whose public functions are that layer's boundary
LAYER_MODULES = {
    "functions.vector": f"{PKG}.functions.vector",
    "knn": f"{PKG}.operators.knn",
    "ann": f"{PKG}.operators.ann",
    "upsert": f"{PKG}.operators.upsert",
    "dedup": f"{PKG}.operators.dedup",
    "fingerprint": f"{PKG}.operators.fingerprint",
    "graph": f"{PKG}.operators.graph",
    "retrieval": f"{PKG}.operators.retrieval",
}
# layer name -> (module, class) whose public methods are that layer's boundary
LAYER_CLASSES = {"catalog": (f"{PKG}.catalog", "Catalog")}
# DataFrame methods that materialize or pin a working set
MATERIALIZE = {"localCheckpoint": "checkpoint", "checkpoint": "checkpoint",
               "persist": "persist", "cache": "persist",
               "unpersist": "persist"}


class Span:
    __slots__ = ("id", "name", "layer", "start", "end", "parent", "op")

    def __init__(self, id, name, layer, start, parent, op):
        self.id, self.name, self.layer = id, name, layer
        self.start, self.end, self.parent, self.op = start, None, parent, op

    def as_dict(self) -> dict:
        return {"id": self.id, "name": self.name, "layer": self.layer,
                "start": self.start, "end": self.end, "parent": self.parent,
                "op": self.op}


def self_times(spans) -> dict[int, float]:
    """Span id -> duration minus the part of it its children cover."""
    kids: dict[int, list] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(kids.get(s.id, [])):
            lo, hi = max(lo, s.start), min(hi, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.id] = (s.end - s.start) - covered
    return out


class Tracer:
    """Collects spans for one run. ``sc`` may be None (spans only)."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patches: list[tuple[object, str, object]] = []
        self.op: str | None = None
        self.ops: list[str] = []
        self.bookkeeping_s = 0.0       # time spent in the tracer itself

    # -- spans -------------------------------------------------------------
    def _describe(self, span_id) -> None:
        if self.sc is not None and self.op is not None:
            self.sc.setJobDescription(None if span_id is None
                                      else f"pb:{span_id}")

    def begin(self, name: str, layer: str) -> Span:
        t0 = time.perf_counter()
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), name, layer, t0, parent, self.op)
        self.spans.append(s)
        self._stack.append(s)
        self._describe(s.id)
        s.start = time.perf_counter()
        self.bookkeeping_s += s.start - t0
        return s

    def end(self, s: Span) -> None:
        s.end = time.perf_counter()
        self._stack.pop()
        self._describe(self._stack[-1].id if self._stack else None)
        self.bookkeeping_s += time.perf_counter() - s.end

    @contextmanager
    def span(self, name: str, layer: str):
        s = self.begin(name, layer)
        try:
            yield s
        finally:
            self.end(s)

    @contextmanager
    def operation(self, op_id: str, kind: str):
        """One benchmark operation: a job group plus a root span."""
        t0 = time.perf_counter()
        self.op = op_id
        self.ops.append(op_id)
        if self.sc is not None:
            self.sc.setJobGroup(op_id, kind, interruptOnCancel=False)
        self.bookkeeping_s += time.perf_counter() - t0
        try:
            with self.span(f"op.{kind}", "op"):
                yield
        finally:
            t0 = time.perf_counter()
            if self.sc is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setJobDescription(None)
            self.op = None
            self.bookkeeping_s += time.perf_counter() - t0

    # -- wrapping ----------------------------------------------------------
    def _wrapper(self, fn, name: str, layer: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            s = tracer.begin(name, layer)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.end(s)
        return traced

    def _patch(self, owner, attr: str, new) -> None:
        self._patches.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, new)

    def install(self) -> None:
        """Wrap every layer boundary, including names other modules of the
        program imported directly (``from ... import f``)."""
        import importlib

        from pyspark.sql.classic.dataframe import DataFrame

        swap: dict[int, object] = {}
        for layer, modname in LAYER_MODULES.items():
            mod = importlib.import_module(modname)
            for attr, fn in list(vars(mod).items()):
                if (attr.startswith("_") or not inspect.isfunction(fn)
                        or fn.__module__ != modname):
                    continue
                w = self._wrapper(fn, f"{layer}.{attr}", layer)
                swap[id(fn)] = w
                self._patch(mod, attr, w)
        for layer, (modname, clsname) in LAYER_CLASSES.items():
            cls = getattr(importlib.import_module(modname), clsname)
            for attr, fn in list(vars(cls).items()):
                if not attr.startswith("_") and inspect.isfunction(fn):
                    self._patch(cls, attr,
                                self._wrapper(fn, f"{layer}.{attr}", layer))
        for attr, layer in MATERIALIZE.items():
            fn = vars(DataFrame)[attr]
            self._patch(DataFrame, attr,
                        self._wrapper(fn, f"{layer}.{attr}", layer))
        # rebind direct imports in the program's other modules
        for modname, mod in list(sys.modules.items()):
            if mod is None or not (modname.startswith(PKG)
                                   or modname == "__spark_entry__"):
                continue
            for attr, val in list(vars(mod).items()):
                w = swap.get(id(val))
                if w is not None and getattr(mod, attr) is not w:
                    self._patch(mod, attr, w)

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # -- reports -----------------------------------------------------------
    # ``ops``, where given, keeps only the spans of those operations
    def layer_self_s(self, ops=None) -> dict[str, float]:
        st = self_times(self.spans)
        out: dict[str, float] = {}
        for s in self.spans:
            if ops is None or s.op in ops:
                out[s.layer] = out.get(s.layer, 0.0) + st[s.id]
        return out

    def inclusive_s(self, name: str, ops=None) -> float:
        """Total time in calls named ``name`` that are not nested in one."""
        by_id = {s.id: s for s in self.spans}

        def nested(s):
            p = s.parent
            while p is not None:
                if by_id[p].name == name:
                    return True
                p = by_id[p].parent
            return False
        return sum(s.end - s.start for s in self.spans
                   if s.name == name and (ops is None or s.op in ops)
                   and not nested(s))

    def count(self, name_prefix: str, ops=None) -> int:
        return sum(1 for s in self.spans if s.name.startswith(name_prefix)
                   and (ops is None or s.op in ops))


def spark_jobs(sc, groups) -> list[dict]:
    """Every job the given job groups ran, with the span that submitted it
    and the summed metrics of the stages it actually executed (a stage shared
    by several jobs of one group counts once)."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    gw = sc._gateway
    no_status, no_q = gw.jvm.java.util.ArrayList(), gw.new_array(gw.jvm.double, 0)
    jobs = []
    for group in groups:
        seen: set[int] = set()
        for jid in sorted(sc.statusTracker().getJobIdsForGroup(group)):
            jd = store.job(jid)
            desc = jd.description()
            desc = desc.get() if desc.isDefined() else ""
            span = int(desc[3:]) if desc.startswith("pb:") else None
            rec = {"op": group, "job": jid, "span": span, "stages": 0,
                   "tasks": 0, "executor_run_s": 0.0, "executor_cpu_s": 0.0,
                   "gc_s": 0.0, "input_bytes": 0, "shuffle_read_bytes": 0,
                   "shuffle_write_bytes": 0}
            sids = jd.stageIds()
            for i in range(sids.size()):
                sid = sids.apply(i)
                if sid in seen:
                    continue
                seen.add(sid)
                attempts = store.stageData(sid, False, no_status, False, no_q)
                for j in range(attempts.size()):
                    sd = attempts.apply(j)
                    if sd.status().toString() == "SKIPPED":
                        continue
                    rec["stages"] += 1
                    rec["tasks"] += sd.numTasks()
                    rec["executor_run_s"] += sd.executorRunTime() / 1e3
                    rec["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                    rec["gc_s"] += sd.jvmGcTime() / 1e3
                    rec["input_bytes"] += sd.inputBytes()
                    rec["shuffle_read_bytes"] += sd.shuffleReadBytes()
                    rec["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            jobs.append(rec)
    return jobs


def pinned(sc) -> tuple[int, float]:
    """(persisted RDDs, MB they hold in memory and on disk) right now."""
    infos = sc._jsc.sc().getRDDStorageInfo()
    mb = sum(i.memSize() + i.diskSize() for i in infos) / 2**20
    return sc._jsc.getPersistentRDDs().size(), mb
