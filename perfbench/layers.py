"""Layer spans for the traced run.

The benchmark wraps the public functions of each layer module from here;
the package itself is not changed.  A span opens at every call into a layer
and its self time is its duration minus the time its child spans cover.
Spark jobs are tagged with the innermost active layer through
``setJobGroup``, and per-stage task metrics are read afterwards from the
local UI's REST API.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import json
import sys
import threading
import time
import urllib.request

PKG = "rangebar_patterns_spark"

#: layer -> modules whose public functions open a span of that layer.
#: ``catalog`` spans are opened by the benchmark around each constructor
#: call and ``reset_plan_caches``; ``spark`` spans around each action.
LAYER_MODULES = {
    "session": ("session",),
    "sources": (
        "sources.bars",
        "sources.tables",
        "operators.windows",
        "operators.signals",
    ),
    "sweep": ("operators.sweep", "operators.crossfeatures"),
    "barriers": ("operators.barriers", "operators.joins"),
    "eval": (
        "operators.eval_metrics",
        "operators.wfo",
        "operators.synthesis",
        "operators.cutoff_search",
    ),
    "corpus": (
        "operators.textops",
        "operators.dedup",
        "operators.similarity",
        "operators.sketches",
        "operators.classifier",
    ),
}
SPAN_LAYERS = ("session", "sources", "catalog", "sweep", "barriers", "eval", "corpus")
STAGE_FIELDS = ("jobs", "stages", "tasks", "failed_tasks", "run_ms", "cpu_ns",
                "gc_ms", "shuffle_write_b", "spill_b")


class Tracer:
    """Span stack of one thread.  ``Tracer.active`` is read by every
    wrapper; it is ``None`` outside a traced pass and in Python workers,
    where wrappers unpickle as the original functions anyway."""

    active: "Tracer | None" = None

    def __init__(self, sc, tag: str) -> None:
        self.sc = sc
        self.tag = tag
        self.thread = threading.get_ident()
        self.stack: list[list] = []  # [layer, start, child_s]
        self.calls = dict.fromkeys(SPAN_LAYERS + ("spark",), 0)
        self.self_s = dict.fromkeys(SPAN_LAYERS + ("spark",), 0.0)
        self.group: str | None = None

    def _set_group(self, layer: str | None) -> None:
        if layer != self.group:
            self.group = layer
            if layer is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                self.sc.setJobGroup(f"{self.tag}:{layer}", layer)

    @contextlib.contextmanager
    def span(self, layer: str):
        self.stack.append([layer, time.perf_counter(), 0.0])
        self._set_group(layer)
        try:
            yield
        finally:
            layer, t0, child = self.stack.pop()
            dur = time.perf_counter() - t0
            self.calls[layer] += 1
            self.self_s[layer] += dur - child
            if self.stack:
                self.stack[-1][2] += dur
            self._set_group(self.stack[-1][0] if self.stack else None)


def _wrap(layer: str, fn):
    # functools.wraps copies __module__/__qualname__, so cloudpickle pickles
    # the wrapper by reference and a Python worker runs the original
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        tr = Tracer.active
        if tr is None or threading.get_ident() != tr.thread:
            return fn(*args, **kwargs)
        with tr.span(layer):
            return fn(*args, **kwargs)

    return wrapper


def _rebind(replace: dict[int, object]) -> None:
    """Point every package-level binding of a wrapped function (its own
    module and every ``from x import f`` copy) at the wrapper."""
    for name, mod in list(sys.modules.items()):
        if name != PKG and not name.startswith(PKG + "."):
            continue
        for attr, val in list(vars(mod).items()):
            if id(val) in replace and replace[id(val)] is not val:
                setattr(mod, attr, replace[id(val)])


def install() -> "CacheProbe":
    """Import the layer modules, wrap their public functions and the
    catalog's side-cache accessors.  Returns the accessor probe."""
    import importlib

    replace: dict[int, object] = {}
    for layer, mods in LAYER_MODULES.items():
        for short in mods:
            mod = importlib.import_module(f"{PKG}.{short}")
            for attr, val in vars(mod).items():
                if (
                    not attr.startswith("_")
                    and inspect.isfunction(val)
                    and val.__module__ == mod.__name__
                    and id(val) not in replace
                ):
                    replace[id(val)] = _wrap(layer, val)
    catalog = importlib.import_module(f"{PKG}.plans.catalog")
    probe = CacheProbe(catalog)
    for attr, caches in probe.accessors.items():
        val = getattr(catalog, attr)
        replace[id(val)] = probe.wrap(val, caches)
    _rebind(replace)
    return probe


class CacheProbe:
    """Counts side-cache accessor calls and hits.  An accessor is a private
    catalog function that reads a ``_*_CACHE`` dict; a call is a hit when
    none of the dicts it reads grew."""

    def __init__(self, catalog) -> None:
        self.caches = {
            n: v
            for n, v in vars(catalog).items()
            if n.startswith("_") and n.endswith("_CACHE") and isinstance(v, dict)
        }
        self.accessors = {
            n: tuple(c for c in v.__code__.co_names if c in self.caches)
            for n, v in vars(catalog).items()
            if n.startswith("_")
            and inspect.isfunction(v)
            and v.__module__ == catalog.__name__
            and any(c in self.caches for c in v.__code__.co_names)
        }
        self.calls = 0
        self.hits = 0

    def wrap(self, fn, caches: tuple[str, ...]):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if Tracer.active is None:
                return fn(*args, **kwargs)
            before = [len(self.caches[c]) for c in caches]
            out = fn(*args, **kwargs)
            self.calls += 1
            self.hits += before == [len(self.caches[c]) for c in caches]
            return out

        return wrapper

    def keys(self) -> set[tuple[str, object]]:
        return {(n, k) for n, d in self.caches.items() for k in d}


def _fetch(url: str):
    with urllib.request.urlopen(url, timeout=10) as fh:
        return json.load(fh)


def stage_metrics(sc, tag: str, settle_s: float = 20.0) -> dict[str, dict]:
    """Per-layer job and stage totals for jobs whose group starts with
    ``tag``.  Each completed stage is charged to the first job that lists
    it; later jobs that reuse its shuffle output list it as skipped."""
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    # the UI store lags the listener bus: wait until no job of the tag is
    # running and two reads agree on how many there are
    deadline = time.monotonic() + settle_s
    seen_n = -1
    while True:
        jobs = [j for j in _fetch(f"{base}/jobs")
                if str(j.get("jobGroup", "")).startswith(tag + ":")]
        if (len(jobs) == seen_n and all(j["status"] != "RUNNING" for j in jobs)) \
                or time.monotonic() > deadline:
            break
        seen_n = len(jobs)
        time.sleep(0.2)
    stages = _fetch(f"{base}/stages")
    by_stage: dict[int, list[dict]] = {}
    for s in stages:
        if s["status"] in ("COMPLETE", "FAILED"):
            by_stage.setdefault(s["stageId"], []).append(s)
    out: dict[str, dict] = {}
    seen: set[int] = set()
    for j in sorted(jobs, key=lambda j: j["jobId"]):
        layer = j["jobGroup"].split(":", 1)[1]
        acc = out.setdefault(layer, dict.fromkeys(STAGE_FIELDS, 0))
        acc["jobs"] += 1
        for sid in j["stageIds"]:
            if sid in seen or sid not in by_stage:
                continue
            seen.add(sid)
            for s in by_stage[sid]:
                acc["stages"] += 1
                acc["tasks"] += s["numCompleteTasks"] + s["numFailedTasks"]
                acc["failed_tasks"] += s["numFailedTasks"]
                acc["run_ms"] += s["executorRunTime"]
                acc["cpu_ns"] += s["executorCpuTime"]
                acc["gc_ms"] += s.get("jvmGcTime", 0)
                acc["shuffle_write_b"] += s.get("shuffleWriteBytes", 0)
                acc["spill_b"] += s.get("diskBytesSpilled", 0)
    return out


def cached_bytes(sc) -> int:
    """Memory plus disk held by persisted RDDs right now."""
    return sum(
        int(i.memSize()) + int(i.diskSize())
        for i in sc._jsc.sc().getRDDStorageInfo()
    )
