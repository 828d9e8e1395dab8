"""Spans, counters and Spark status-store readers for the traced run.

Everything here lives in the benchmark: the program is not edited. Spans
come from three places:

* phase spans run.py opens around each operation's build and
  materialize calls (``operators.build`` / ``operators.materialize``) and
  around the Catalyst planning probe (``catalyst.plan``);
* wrappers installed around the public functions of the package's layer
  modules (``session.pin``, ``functions.*``, ``sources.*``, ``sinks.*``,
  ``streaming.*``). Modules bind such names at import time (``from
  bloomy_etl_spark.session import pin`` in 21 modules), so every loaded
  module's binding is replaced, not only the defining one;
* Spark jobs read back from the status store after the traced window
  (``scheduler.job``), parented to the innermost span that was open when
  the job was submitted.

Spans are kept in memory and written out once, when the run ends.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import os
import pkgutil
import sys
import threading
import time
from collections import defaultdict

# Package sub-packages whose public functions form a layer of their own.
WRAPPED_LAYERS = ("session", "functions", "sources", "sinks", "streaming")


class Span:
    __slots__ = ("id", "name", "start", "end", "parent", "op")

    def __init__(self, sid, name, start, parent, op):
        self.id, self.name, self.start = sid, name, start
        self.end, self.parent, self.op = None, parent, op

    def as_dict(self) -> dict:
        return {"id": self.id, "name": self.name, "start": self.start,
                "end": self.end, "parent": self.parent, "op": self.op}


class _LayerWrapper:
    """Callable stand-in for one package function that records a span.

    Pickles as a reference to the original function, so a closure shipped
    to a Python worker that captured the wrapper re-imports the plain
    function there (the benchmark is not importable on workers)."""

    def __init__(self, tracer: "Tracer", layer: str, fn):
        functools.update_wrapper(self, fn)
        self._tracer, self._layer, self._fn = tracer, layer, fn

    def __call__(self, *args, **kwargs):
        tr = self._tracer
        tr.counts[f"{self._layer}.calls"] += 1
        span = tr.open(f"{self._layer}.{self._fn.__name__}")
        try:
            return self._fn(*args, **kwargs)
        finally:
            tr.close(span)

    def __reduce__(self):
        return getattr, (importlib.import_module(self._fn.__module__),
                         self._fn.__qualname__)


class Tracer:
    """In-memory span recorder with per-thread span stacks.

    Python callbacks that Spark runs on another thread (``foreachBatch``)
    parent their spans to the main thread's innermost open span."""

    def __init__(self):
        self.spans: list[Span] = []
        self.counts: defaultdict[str, float] = defaultdict(float)
        self.op: int | None = None
        self.py4j_calls = 0
        self._local = threading.local()
        self._main_stack: list[Span] = []
        self._main = threading.get_ident()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []

    # ---- spans ----
    def _stack(self) -> list[Span]:
        if threading.get_ident() == self._main:
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def open(self, name: str) -> Span:
        st = self._stack()
        parent = st[-1] if st else (self._main_stack[-1] if self._main_stack else None)
        with self._lock:
            span = Span(len(self.spans), name, time.time(),
                        parent.id if parent else None, self.op)
            self.spans.append(span)
        st.append(span)
        return span

    def close(self, span: Span) -> None:
        span.end = time.time()
        st = self._stack()
        if st and st[-1] is span:
            st.pop()

    def add_closed(self, name: str, start: float, end: float,
                   parent: int | None, op: int | None) -> Span:
        span = Span(len(self.spans), name, start, parent, op)
        span.end = end
        self.spans.append(span)
        return span

    # ---- wrappers ----
    def install(self) -> None:
        """Wrap every public function of the layer modules and count py4j
        round trips at the client."""
        from py4j.java_gateway import GatewayClient

        targets: dict[int, _LayerWrapper] = {}
        for layer in WRAPPED_LAYERS:
            for mod in _layer_modules(layer):
                for name, obj in list(vars(mod).items()):
                    if (name.startswith("_") or not inspect.isfunction(obj)
                            or obj.__module__ != mod.__name__):
                        continue
                    targets[id(obj)] = _LayerWrapper(self, layer, obj)
        self._patches += rebind({id(w._fn): (w._fn, w) for w in targets.values()})

        send = GatewayClient.send_command
        tracer = self

        def counting_send(client, *args, **kwargs):
            tracer.py4j_calls += 1
            return send(client, *args, **kwargs)

        self._patches.append((GatewayClient, "send_command", send))
        GatewayClient.send_command = counting_send

    def uninstall(self) -> None:
        restore(self._patches)

    # ---- self time ----
    def self_times(self) -> dict[int, float]:
        """Each span's duration minus the part its children cover."""
        kids: defaultdict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                kids[s.parent].append(s)
        out = {}
        for s in self.spans:
            out[s.id] = (s.end - s.start) - covered(
                s.start, s.end, [(c.start, c.end) for c in kids[s.id]])
        return out

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({**extra, "spans": [s.as_dict() for s in self.spans]}, f)


def rebind(targets: dict[int, tuple]) -> list[tuple[object, str, object]]:
    """Replace every binding of each original function, in every loaded
    module of the package, by its stand-in. ``targets`` maps id(original)
    to (original, stand-in); returns the patches for :func:`restore`."""
    patches = []
    for mod in [m for n, m in list(sys.modules.items())
                if m is not None and (n == "__spark_entry__"
                                      or n.startswith("bloomy_etl_spark"))]:
        for name, obj in list(vars(mod).items()):
            hit = targets.get(id(obj))
            if hit is not None and hit[0] is obj:
                patches.append((mod, name, obj))
                setattr(mod, name, hit[1])
    return patches


def restore(patches: list[tuple[object, str, object]]) -> None:
    for owner, name, orig in reversed(patches):
        setattr(owner, name, orig)
    patches.clear()


def _layer_modules(layer: str):
    pkg = importlib.import_module(f"bloomy_etl_spark.{layer}")
    if not hasattr(pkg, "__path__"):
        return [pkg]
    mods = [pkg]
    for info in pkgutil.iter_modules(pkg.__path__):
        mods.append(importlib.import_module(f"{pkg.__name__}.{info.name}"))
    return mods


def covered(lo: float, hi: float, intervals: list[tuple[float, float]]) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
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


class StatusStore:
    """Jobs and stage attempts from Spark's status store, serialized to JSON
    inside the JVM (one py4j call per list or stage instead of one per
    field). Works with the UI disabled."""

    def __init__(self, spark):
        jvm = spark._jvm
        self._store = spark.sparkContext._jsc.sc().statusStore()
        scala_module = jvm.java.lang.Class.forName(
            "com.fasterxml.jackson.module.scala.DefaultScalaModule$"
        ).getField("MODULE$").get(None)
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(scala_module)

    def jobs(self) -> list[dict]:
        return json.loads(self._mapper.writeValueAsString(self._store.jobsList(None)))

    def stage(self, stage_id: int) -> dict | None:
        try:
            return json.loads(self._mapper.writeValueAsString(
                self._store.lastStageAttempt(stage_id)))
        except Exception:  # evicted or never attempted (skipped) stage
            return None

    def plan_phases(self, df) -> dict[str, float]:
        """Plan ``df`` and return its QueryPlanningTracker phase times (ms)."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = json.loads(self._mapper.writeValueAsString(qe.tracker().phases()))
        return {k: v["endTimeMs"] - v["startTimeMs"] for k, v in phases.items()}


# Per-layer metrics of the traced run, each reported per pass, with units.
LAYER_UNITS = {
    "operators.build_s": "s", "operators.build_self_s": "s",
    "operators.py4j_calls": "count",
    "functions.calls": "count", "functions.s": "s",
    "session.pin_calls": "count", "session.pin_s": "s",
    "scheduler.build_jobs": "count", "scheduler.build_stages": "count",
    "scheduler.build_tasks": "count", "scheduler.build_job_s": "s",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "scheduler.exec_jobs": "count", "scheduler.exec_stages": "count",
    "scheduler.exec_tasks": "count",
    "executor.run_s": "s", "executor.cpu_s": "s", "executor.gc_s": "s",
    "executor.busy_ratio": "ratio",
    "sources.load_calls": "count", "sources.load_s": "s",
    "executor.input_bytes": "bytes", "executor.input_rows": "rows",
    "shuffle.write_bytes": "bytes", "shuffle.read_bytes": "bytes",
    "shuffle.records": "rows", "shuffle.fetch_wait_s": "s",
    "shuffle.spill_bytes": "bytes",
    "sinks.calls": "count", "sinks.s": "s", "sinks.output_bytes": "bytes",
    "sinks.output_files": "count",
    "streaming.batches": "count", "streaming.batch_s": "s",
    "streaming.input_rows": "rows",
}
# Layers whose self time (span time not covered by child spans) is reported.
SELF_LAYERS = ("operators", "catalyst", "scheduler", "session", "functions",
               "sources", "sinks", "streaming")


class TracedRun:
    """Runs operations under spans and turns the spans, the py4j count and
    the status store's jobs and stages into per-layer metrics."""

    def __init__(self, spark, cores: int):
        self.cores = cores
        self.sc = spark.sparkContext
        self.store = StatusStore(spark)
        self.tracer = Tracer()
        self.phase_py4j: dict[int, int] = {}       # build span id -> py4j calls
        self.catalyst: defaultdict[str, float] = defaultdict(float)
        self.stream: defaultdict[str, float] = defaultdict(float)
        self.output = [0, 0]                        # bytes, files
        self.n_ops = 0
        self.t0 = self.t1 = None

    def start(self) -> None:
        """Install the wrappers; call before the traced operations are made,
        so that the functions they bind are the wrapped ones."""
        self.t0 = time.time()
        self.tracer.install()

    def stop(self) -> None:
        """Remove the wrappers; call after the last traced operation."""
        self.tracer.uninstall()

    def run(self, op) -> None:
        tr = self.tracer
        tr.op = self.n_ops
        self.n_ops += 1
        root = tr.open(f"op.{op.name}")
        try:
            self.sc.setJobGroup(f"perfbench-op{tr.op}-build", op.name)
            span = tr.open("operators.build")
            calls = tr.py4j_calls
            try:
                handle = op.build()
            finally:
                self.phase_py4j[span.id] = tr.py4j_calls - calls
                tr.close(span)
            frame = op.frame(handle)
            if frame is not None:
                span = tr.open("catalyst.plan")
                for phase, ms in self.store.plan_phases(frame).items():
                    self.catalyst[phase] += ms
                tr.close(span)
            self.sc.setJobGroup(f"perfbench-op{tr.op}-materialize", op.name)
            span = tr.open("operators.materialize")
            try:
                op.materialize(handle)
            finally:
                tr.close(span)
            for p in getattr(handle, "recentProgress", ()) or ():
                self.stream["batches"] += 1
                self.stream["batch_s"] += p["durationMs"].get("triggerExecution", 0) / 1000
                self.stream["input_rows"] += p["numInputRows"]
            for d in op.outputs:
                for dirpath, _, files in os.walk(d):
                    for f in files:
                        self.output[0] += os.path.getsize(os.path.join(dirpath, f))
                        self.output[1] += 1
        finally:
            self.sc._jsc.clearJobGroup()
            tr.close(root)
            self.t1 = time.time()

    # ---- jobs and stages ----
    def _attach_jobs(self) -> list[tuple[Span, dict, str]]:
        """Add one span per Spark job submitted in the traced window,
        parented to the innermost span open at submission; returns (span,
        job, phase) with phase ``build`` or ``exec``."""
        tr = self.tracer
        by_id = {s.id: s for s in tr.spans}
        out = []
        for job in self.store.jobs():
            sub = job.get("submissionTime")
            if sub is None or not (self.t0 <= sub / 1000 <= self.t1):
                continue
            sub /= 1000
            end = (job.get("completionTime") or sub * 1000) / 1000
            holders = [s for s in tr.spans if s.name != "scheduler.job"
                       and s.start <= sub <= (s.end or self.t1)]
            if not holders:
                continue
            parent = max(holders, key=lambda s: s.start)
            span = tr.add_closed("scheduler.job", sub, max(end, sub),
                                 parent.id, parent.op)
            phase, p = "exec", parent
            while p is not None:
                if p.name == "operators.build":
                    phase = "build"
                    break
                p = by_id.get(p.parent)
            out.append((span, job, phase))
        return out

    def layer_metrics(self, passes: int, traced_s: float,
                      untraced_s: float) -> dict[str, tuple[float, str]]:
        tr = self.tracer
        jobs = self._attach_jobs()
        m: defaultdict[str, float] = defaultdict(float)
        by_id = {s.id: s for s in tr.spans}
        kids: defaultdict[int, list[Span]] = defaultdict(list)
        for s in tr.spans:
            if s.parent is not None:
                kids[s.parent].append(s)

        def job_cover(span):
            found, stack = [], list(kids[span.id])
            while stack:
                s = stack.pop()
                if s.name == "scheduler.job":
                    found.append((s.start, s.end))
                stack.extend(kids[s.id])
            return covered(span.start, span.end, found)

        mat_s = 0.0
        for s in tr.spans:
            if s.name == "operators.build":
                m["operators.build_s"] += s.end - s.start
                m["operators.build_self_s"] += s.end - s.start - job_cover(s)
                m["operators.py4j_calls"] += self.phase_py4j.get(s.id, 0)
            elif s.name == "operators.materialize":
                mat_s += s.end - s.start
        # layer time: outermost span of each layer, so nested calls count once
        layer_s: defaultdict[str, float] = defaultdict(float)
        for s in tr.spans:
            layer = s.name.split(".")[0]
            if layer not in WRAPPED_LAYERS:
                continue
            p = by_id.get(s.parent)
            while p is not None and p.name.split(".")[0] != layer:
                p = by_id.get(p.parent)
            if p is None:
                layer_s[layer] += s.end - s.start
            if s.name == "session.pin":
                m["session.pin_calls"] += 1
        m["session.pin_s"] = layer_s["session"]
        m["functions.calls"], m["functions.s"] = tr.counts["functions.calls"], layer_s["functions"]
        m["sources.load_calls"], m["sources.load_s"] = tr.counts["sources.calls"], layer_s["sources"]
        m["sinks.calls"], m["sinks.s"] = tr.counts["sinks.calls"], layer_s["sinks"]

        exec_run = 0.0
        seen: set[int] = set()
        for span, job, pre in jobs:
            m[f"scheduler.{pre}_jobs"] += 1
            if pre == "build":
                m["scheduler.build_job_s"] += span.end - span.start
            for sid in job.get("stageIds", []):
                if sid in seen:
                    continue
                seen.add(sid)
                st = self.store.stage(sid)
                if st is None or st.get("status") == "SKIPPED":
                    continue
                m[f"scheduler.{pre}_stages"] += 1
                m[f"scheduler.{pre}_tasks"] += (st["numCompleteTasks"]
                                                + st["numFailedTasks"])
                run_s = st["executorRunTime"] / 1000
                m["executor.run_s"] += run_s
                if pre == "exec":
                    exec_run += run_s
                m["executor.cpu_s"] += st["executorCpuTime"] / 1e9
                m["executor.gc_s"] += st["jvmGcTime"] / 1000
                m["executor.input_bytes"] += st["inputBytes"]
                m["executor.input_rows"] += st["inputRecords"]
                m["shuffle.write_bytes"] += st["shuffleWriteBytes"]
                m["shuffle.read_bytes"] += st["shuffleReadBytes"]
                m["shuffle.records"] += st["shuffleWriteRecords"]
                m["shuffle.fetch_wait_s"] += st["shuffleFetchWaitTime"] / 1000
                m["shuffle.spill_bytes"] += (st["memoryBytesSpilled"]
                                             + st["diskBytesSpilled"])
        for phase in ("analysis", "optimization", "planning"):
            m[f"catalyst.{phase}_ms"] = self.catalyst[phase]
        for k in ("batches", "batch_s", "input_rows"):
            m[f"streaming.{k}"] = self.stream[k]
        m["sinks.output_bytes"], m["sinks.output_files"] = self.output

        out = {k: (m[k] / passes, u) for k, u in LAYER_UNITS.items()}
        # run time over the cores' capacity during the materialize phases
        out["executor.busy_ratio"] = (
            exec_run / (mat_s * self.cores) if mat_s else 0.0, "ratio")
        for layer, v in self.layer_self_times(passes).items():
            out[f"{layer}.self_s"] = (v, "s")
        out["trace.overhead_s"] = ((traced_s - untraced_s) / passes, "s")
        out["trace.overhead_ratio"] = (traced_s / untraced_s - 1.0, "ratio")
        out["trace.spans"] = (len(tr.spans) / passes, "count")
        return out

    def layer_self_times(self, passes: int) -> dict[str, float]:
        self_s = self.tracer.self_times()
        out = dict.fromkeys(SELF_LAYERS, 0.0)
        for s in self.tracer.spans:
            layer = s.name.split(".")[0]
            if layer in out:
                out[layer] += self_s[s.id]
        return {k: v / passes for k, v in out.items()}
