"""Per-layer tracing, done entirely from outside the package.

``Tracer.install`` replaces the package's public module-level
functions (and ``FtsIndex.cached_phrase_hits``) with wrappers that
record a span around each call: name, start, end, parent span, the
py4j calls made inside it and the Spark jobs it started.  Spans of one
page share the page's id.  Around each page and each ingest batch the
tracer also reads Spark's status store (jobs, stages, tasks, executor
run and CPU time), the JVM's GC beans and ``/proc`` (CPU of the
python + JVM process tree).  Everything stays in memory until
``Tracer.dump`` writes it out at the end of the run.

Only the ``--trace 1`` run installs the tracer; end-to-end figures
come from untraced runs.
"""

from __future__ import annotations

import importlib
import os
import threading
import time

import procstat

# (module, attribute, span name).  The handler thread looks each of
# these up by module global at call time, so replacing the module
# attribute is enough, provided it happens before the server is built.
WRAPPED = (
    ("dogsheep_beta_spark.server", "load_live_snapshot", "server.acquire"),
    ("dogsheep_beta_spark.server", "release_snapshot", "server.release"),
    ("dogsheep_beta_spark.page", "page_context", "page"),
    ("dogsheep_beta_spark.page", "render_page", "presentation.render_page"),
    ("dogsheep_beta_spark.page", "build_page_facets", "facets.facets"),
    ("dogsheep_beta_spark.page", "process_results", "presentation.process_results"),
    ("dogsheep_beta_spark.plans.search", "search_query", "plans.search"),
    ("dogsheep_beta_spark.operators.facets", "filtered_count", "facets.count"),
    ("dogsheep_beta_spark.plans.hydrate", "hydrate_results", "plans.hydrate"),
    ("dogsheep_beta_spark.streaming.incremental", "merge_fts_batch_scoped", "streaming.commit"),
)


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.jsc = spark.sparkContext._jsc.sc()
        self.spans: list[dict] = []
        self.windows: list[dict] = []  # one per traced page / batch
        self.cache_lookups = 0
        self.cache_hits = 0
        self._local = threading.local()
        self._lock = threading.Lock()
        self._window = None
        self._next_id = 0

    # -- helpers that must not count as the program's own py4j calls ---

    def _internal(self):
        self._local.internal = getattr(self._local, "internal", 0) + 1

    def _external(self):
        self._local.internal -= 1

    def next_job_id(self) -> int:
        self._internal()
        try:
            return self.jsc.dagScheduler().nextJobId()
        finally:
            self._external()

    # -- installation ---------------------------------------------------

    def install(self) -> None:
        for mod_name, attr, span in WRAPPED:
            mod = importlib.import_module(mod_name)
            setattr(mod, attr, self._wrap(getattr(mod, attr), span))
        from dogsheep_beta_spark.operators.fts_index import FtsIndex

        orig = FtsIndex.cached_phrase_hits
        tracer = self

        def cached_phrase_hits(fts, key, builder):
            with tracer._lock:
                tracer.cache_lookups += 1
                tracer.cache_hits += key in fts.hit_caches
            return orig(fts, key, builder)

        FtsIndex.cached_phrase_hits = cached_phrase_hits
        self._count_py4j()

    def _count_py4j(self) -> None:
        from py4j.clientserver import ClientServerConnection

        orig = ClientServerConnection.send_command
        local = self._local

        def send_command(conn, command):
            stack = getattr(local, "stack", None)
            if stack and not getattr(local, "internal", 0):
                stack[-1]["py4j"] += 1
            return orig(conn, command)

        ClientServerConnection.send_command = send_command

    def _wrap(self, fn, name):
        tracer = self

        def wrapper(*args, **kwargs):
            if tracer._window is None:
                return fn(*args, **kwargs)
            stack = tracer._local.__dict__.setdefault("stack", [])
            with tracer._lock:
                sid = tracer._next_id
                tracer._next_id += 1
            span = {
                "id": sid,
                "name": name,
                "window": tracer._window["id"],
                "parent": stack[-1]["id"] if stack else None,
                "py4j": 0,
                "jobs0": tracer.next_job_id(),
                "t0": time.perf_counter(),
            }
            stack.append(span)
            try:
                return fn(*args, **kwargs)
            finally:
                span["t1"] = time.perf_counter()
                span["jobs"] = tracer.next_job_id() - span.pop("jobs0")
                stack.pop()
                if stack:
                    stack[-1]["py4j"] += span["py4j"]
                with tracer._lock:
                    tracer.spans.append(span)

        wrapper.__wrapped__ = fn
        return wrapper

    # -- windows: one page or one ingest batch ---------------------------

    def begin(self, kind: str, label: str) -> None:
        self._internal()
        try:
            self._window = {
                "id": len(self.windows),
                "kind": kind,
                "label": label,
                "jobs0": self.jsc.dagScheduler().nextJobId(),
                "gc0": self._gc_ms(),
                "cpu0": procstat.tree_cpu_ms(),
                "t0": time.perf_counter(),
            }
        finally:
            self._external()

    def end(self, **extra) -> dict:
        w = self._window
        w["t1"] = time.perf_counter()
        self._window = None
        self._internal()
        try:
            w["cpu_ms"] = procstat.tree_cpu_ms() - w.pop("cpu0")
            self.jsc.listenerBus().waitUntilEmpty()
            j1 = self.jsc.dagScheduler().nextJobId()
            w.update(self._job_counters(w.pop("jobs0"), j1))
            w["gc_ms"] = self._gc_ms() - w.pop("gc0")
        finally:
            self._external()
        w.update(extra)
        self.windows.append(w)
        return w

    def _gc_ms(self) -> int:
        beans = self.spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(b.getCollectionTime() for b in beans)

    def _job_counters(self, j0: int, j1: int) -> dict:
        store = self.jsc.statusStore()
        stages = tasks = run_ms = cpu_ns = 0
        seen = set()
        for j in range(j0, j1):
            jd = store.job(j)
            stages += jd.numCompletedStages()
            tasks += jd.numCompletedTasks()
            it = jd.stageIds().iterator()
            while it.hasNext():
                sid = it.next()
                if sid in seen:
                    continue
                seen.add(sid)
                sd = store.lastStageAttempt(sid)
                if str(sd.status()) == "COMPLETE":
                    run_ms += sd.executorRunTime()
                    cpu_ns += sd.executorCpuTime()
        return {"jobs": j1 - j0, "stages": stages, "tasks": tasks,
                "executor_run_ms": run_ms, "executor_cpu_ms": cpu_ns / 1e6}

    # -- reduction --------------------------------------------------------

    def spans_of(self, window_id: int) -> list[dict]:
        return [s for s in self.spans if s["window"] == window_id]

    def dump(self) -> dict:
        def rel(s):
            return {k: (round(v * 1000, 3) if k in ("t0", "t1") else v) for k, v in s.items()}

        return {"windows": [rel(w) for w in self.windows], "spans": [rel(s) for s in self.spans],
                "phrase_cache": {"lookups": self.cache_lookups, "hits": self.cache_hits}}


def self_ms(span: dict, spans: list[dict]) -> float:
    """A span's duration minus the part its direct children cover."""
    kids = sum(s["t1"] - s["t0"] for s in spans if s["parent"] == span["id"])
    return (span["t1"] - span["t0"] - kids) * 1000


def page_layers(window: dict, spans: list[dict]) -> dict:
    """Per-layer figures of one traced page."""

    def total(name, field="ms"):
        sel = [s for s in spans if s["name"] == name]
        if field == "ms":
            return sum(s["t1"] - s["t0"] for s in sel) * 1000
        return sum(s[field] for s in sel)

    page = [s for s in spans if s["name"] == "page"]
    top = [s for s in spans if s["parent"] is None]
    wall = (window["t1"] - window["t0"]) * 1000
    covered = sum(s["t1"] - s["t0"] for s in top) * 1000
    return {
        "wall_ms": wall,
        "covered_ms": covered,
        "server.acquire_ms": total("server.acquire"),
        "server.acquire_jobs": total("server.acquire", "jobs"),
        "plans.search.compile_ms": total("plans.search"),
        "plans.search.py4j_calls": total("plans.search", "py4j"),
        "page.topk_ms": sum(self_ms(s, spans) for s in page),
        "facets.count_ms": total("facets.count"),
        "facets.facets_ms": total("facets.facets"),
        "plans.hydrate.hydrate_ms": total("plans.hydrate"),
        "presentation.render_ms": total("presentation.process_results") + total("presentation.render_page"),
    }
