"""Layer trace taken from outside the engine.

``Tracer.install()`` replaces every public function of the
``scrapy_cluster_spark`` operator, plan, function and source modules
(and the ``SnapshotStore`` write methods) with a span recorder, in each
module namespace that refers to it.  A span:

- records wall time per thread, kept in memory and folded at the end;
- tags every Spark job started inside it with the Spark local property
  ``perfbench.span`` so the event log folds back onto layers;
- when the function returns DataFrames, counts them before returning,
  so the span holds that layer's compute.  They are counted, not
  persisted: a persisted intermediate per layer made the cache manager
  re-plan against every cached plan, and a traced crawl round ran ~9x
  slower than with counting alone.

Wrappers pickle as the function they wrap, so closures shipped to Python
workers run the engine's own code.  Nothing here edits engine files.
"""

from __future__ import annotations

import importlib
import json
import os
import pkgutil
import sys
import threading
import time
from collections import defaultdict

SPAN_PROPERTY = "perfbench.span"
PACKAGES = ["operators", "plans", "functions", "sources"]
STORE_METHODS = ["append", "append_many", "append_rows", "overwrite",
                 "overwrite_partitions", "compact"]
# a driver-side helper called this often stops tagging jobs (each tag is
# a py4j round trip); its time still counts
HOT_CALLS = 500
# input sizes a layer metric needs, counted in a probe span of their own
ARG_ROWS = {"operators.dedupe.apply_dupefilter": (0, 1)}


def _unwrap(fn):
    return fn


class _Span:
    def __init__(self, tracer: "Tracer", fn, layer: str, name: str, force: bool):
        self.tracer, self.fn, self.layer, self.name, self.force = tracer, fn, layer, name, force
        self.calls = 0
        self.__name__ = getattr(fn, "__name__", name)
        self.__qualname__ = getattr(fn, "__qualname__", name)
        self.__doc__ = getattr(fn, "__doc__", None)
        self.__module__ = getattr(fn, "__module__", None)
        self.__wrapped__ = fn

    def __call__(self, *args, **kwargs):
        return self.tracer._call(self, args, kwargs)

    def __get__(self, obj, objtype=None):  # bound store methods
        if obj is None:
            return self
        return lambda *a, **kw: self.tracer._call(self, (obj,) + a, kw)

    def __reduce__(self):
        return (_unwrap, (self.fn,))


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.counters: dict[str, float] = defaultdict(float)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next = 0
        self._patched: list[tuple] = []
        # wall the tracer itself adds: forced counts and input probes
        self.added_s = 0.0

    # ---- install / uninstall ----------------------------------------
    def install(self) -> None:
        from scrapy_cluster_spark.store import SnapshotStore

        mods = []
        for pkg in PACKAGES:
            p = importlib.import_module(f"scrapy_cluster_spark.{pkg}")
            for info in pkgutil.iter_modules(p.__path__):
                mods.append(importlib.import_module(f"{p.__name__}.{info.name}"))
        originals: dict[int, _Span] = {}
        for m in mods:
            layer = m.__name__[len("scrapy_cluster_spark."):]
            for name, obj in list(vars(m).items()):
                if (name.startswith("_") or not callable(obj)
                        or not hasattr(obj, "__code__")
                        or getattr(obj, "__module__", None) != m.__name__
                        or hasattr(obj, "evalType") or hasattr(obj, "returnType")):
                    continue
                originals[id(obj)] = _Span(self, obj, layer, f"{layer}.{name}", True)
        # rebind every reference to a wrapped function, wherever imported
        holders = [m for n, m in list(sys.modules.items()) if m is not None and (
            n.startswith("scrapy_cluster_spark") or n in ("__spark_entry__", "bench"))]
        for m in holders:
            for name, obj in list(vars(m).items()):
                w = originals.get(id(obj))
                if w is not None and w.fn is obj:
                    self._patched.append((m, name, obj))
                    setattr(m, name, w)
        for meth in STORE_METHODS:
            orig = SnapshotStore.__dict__[meth]
            self._patched.append((SnapshotStore, meth, orig))
            setattr(SnapshotStore, meth, _Span(self, orig, "store", f"store.{meth}", False))
        for meth, hook in (("_stage", self._on_stage), ("_commit", self._on_commit)):
            orig = SnapshotStore.__dict__[meth]
            self._patched.append((SnapshotStore, meth, orig))
            setattr(SnapshotStore, meth, _counting(orig, hook))

    def uninstall(self) -> None:
        while self._patched:
            owner, name, orig = self._patched.pop()
            setattr(owner, name, orig)

    def _on_stage(self, files: list[str]) -> None:
        n = 0
        for f in files:
            try:
                n += os.path.getsize(f)
            except OSError:
                pass
        with self._lock:
            self.counters["store.files_written"] += len(files)
            self.counters["store.bytes_written"] += n

    def _on_commit(self, _version) -> None:
        with self._lock:
            self.counters["store.commits"] += 1

    # ---- spans --------------------------------------------------------
    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _open(self, layer: str, name: str, tag: bool = True) -> dict:
        st = self._stack()
        with self._lock:
            sid = self._next
            self._next += 1
        span = {"id": sid, "layer": layer, "name": name,
                "parent": st[-1]["id"] if st else None,
                "thread": threading.get_ident(), "t0": time.perf_counter(),
                "tagged": tag, "rows": None}
        st.append(span)
        if tag:
            self.sc.setLocalProperty(SPAN_PROPERTY, str(sid))
        return span

    def _close(self, span: dict) -> None:
        span["t1"] = time.perf_counter()
        st = self._stack()
        st.pop()
        if span["tagged"]:
            parent = next((s for s in reversed(st) if s["tagged"]), None)
            self.sc.setLocalProperty(SPAN_PROPERTY, str(parent["id"]) if parent else None)
        with self._lock:
            self.spans.append(span)

    def span(self, layer: str, name: str):
        tracer = self

        class _Ctx:
            def __enter__(self):
                self.s = tracer._open(layer, name)
                return self.s

            def __exit__(self, *exc):
                tracer._close(self.s)

        return _Ctx()

    def _call(self, w: _Span, args, kwargs):
        w.calls += 1
        arg_rows = None
        if w.force and w.name in ARG_ROWS:
            probe = self._open("trace.probe", f"trace.probe.{w.name}")
            try:
                arg_rows = [args[i].count() for i in ARG_ROWS[w.name]]
            finally:
                self._close(probe)
                self._add(probe["t1"] - probe["t0"])
        span = self._open(w.layer, w.name, tag=w.calls <= HOT_CALLS)
        span["arg_rows"] = arg_rows
        try:
            out = w.fn(*args, **kwargs)
            if w.force:
                t0 = time.perf_counter()
                span["rows"] = self._materialize(out)
                self._add(time.perf_counter() - t0)
            return out
        finally:
            self._close(span)

    def _add(self, seconds: float) -> None:
        with self._lock:
            self.added_s += seconds

    def _materialize(self, out):
        from pyspark.sql import DataFrame

        items = out if isinstance(out, tuple) else (out,)
        rows = [df.count() for df in items
                if isinstance(df, DataFrame) and not df.isStreaming]
        return rows or None

    # ---- folding ------------------------------------------------------
    def finished(self) -> list[dict]:
        return sorted(self.spans, key=lambda s: s["t0"])


def _counting(fn, hook):
    def run(*a, **kw):
        out = fn(*a, **kw)
        hook(out)
        return out

    return run


def layer_seconds(spans: list[dict]) -> dict[str, float]:
    """Inclusive wall per layer, counting only a layer's outermost spans
    (a span nested under another span of its own layer is not re-added)."""
    by_id = {s["id"]: s for s in spans}
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        p = by_id.get(s["parent"])
        nested = False
        while p is not None:
            if p["layer"] == s["layer"]:
                nested = True
                break
            p = by_id.get(p["parent"])
        if not nested:
            out[s["layer"]] += s["t1"] - s["t0"]
    return dict(out)


def name_seconds(spans: list[dict]) -> dict[str, float]:
    """Inclusive wall per wrapped function (outermost calls only)."""
    by_id = {s["id"]: s for s in spans}
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        p, nested = by_id.get(s["parent"]), False
        while p is not None:
            if p["name"] == s["name"]:
                nested = True
                break
            p = by_id.get(p["parent"])
        if not nested:
            out[s["name"]] += s["t1"] - s["t0"]
    return dict(out)


def self_seconds(spans: list[dict], name: str) -> float:
    """Wall of every ``name`` span minus the union of all other spans
    (any thread) that overlap it: time no layer below accounts for."""
    total = 0.0
    for s in spans:
        if s["name"] != name:
            continue
        ivs = sorted(
            (max(o["t0"], s["t0"]), min(o["t1"], s["t1"]))
            for o in spans
            if o is not s and o["t1"] > s["t0"] and o["t0"] < s["t1"]
            and o["name"] != name
        )
        covered, cur_a, cur_b = 0.0, None, None
        for a, b in ivs:
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        total += (s["t1"] - s["t0"]) - covered
    return total


def fold_event_log(log_dir: str, spans: list[dict]) -> dict[str, dict]:
    """Per-layer engine metrics from Spark's (uncompressed) event log.

    Each job belongs to the span whose id its ``perfbench.span`` property
    carries; jobs started outside any span (set-up, the untraced pass,
    the output checks) fold into ``untraced``."""
    span_layer = {str(s["id"]): s["layer"] for s in spans}
    span_name = {str(s["id"]): s["name"] for s in spans}
    stage_job: dict[int, int] = {}
    job_span: dict[int, str | None] = {}
    stage_tasks: dict[int, list[float]] = defaultdict(list)
    acc: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    files = sorted(os.path.join(log_dir, f) for f in os.listdir(log_dir))

    def layer_of_stage(stage: int) -> str:
        sid = job_span.get(stage_job.get(stage, -1))
        return span_layer.get(sid, "untraced") if sid else "untraced"

    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    sid = (ev.get("Properties") or {}).get(SPAN_PROPERTY)
                    job_span[jid] = sid
                    for st in ev.get("Stage IDs", []):
                        stage_job.setdefault(st, jid)
                    layer = span_layer.get(sid, "untraced") if sid else "untraced"
                    acc[layer]["jobs"] += 1
                    if sid and span_name.get(sid) == "plans.round.run_round":
                        acc["plans.round"]["round_jobs"] += 1
                elif kind == "SparkListenerTaskEnd":
                    stage = ev["Stage ID"]
                    layer = layer_of_stage(stage)
                    a = acc[layer]
                    tm = ev.get("Task Metrics") or {}
                    info = ev.get("Task Info") or {}
                    a["executor_run_s"] += tm.get("Executor Run Time", 0) / 1000.0
                    sw = tm.get("Shuffle Write Metrics") or {}
                    a["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    sr = tm.get("Shuffle Read Metrics") or {}
                    a["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    a["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
                    for u in info.get("Accumulables") or []:
                        if u.get("Name") == "time to run Python workers":  # ms
                            a["python_worker_s"] += float(u.get("Update") or 0) / 1000.0
                    if info.get("Finish Time") and info.get("Launch Time"):
                        stage_tasks[stage].append(info["Finish Time"] - info["Launch Time"])
    # skew: worst max/median task time over the layer's stages with >= 4 tasks
    for stage, times in stage_tasks.items():
        if len(times) < 4:
            continue
        times.sort()
        med = times[len(times) // 2]
        skew = times[-1] / med if med > 0 else 1.0
        a = acc[layer_of_stage(stage)]
        a["task_skew"] = max(a.get("task_skew", 1.0), skew)
    return {k: dict(v) for k, v in acc.items()}
