"""Spans and the event-log folder for the traced run.

A span is (name, layer, start, end, parent, run_id), kept in memory and
written out once at the end.  While a span is open its layer is the
Spark job group, so every job the engine submits inside it carries the
layer name in the event log.  ``fold`` turns the event log plus the
spans into the per-layer table:

* a job belongs to the layer of the kgspark module in its recorded
  Python call site when there is one (``collect at .../kgspark/link.py``),
  else to its job group;
* a span's self time is its duration minus the part its child spans
  cover; summed per layer, plus the ``unattributed`` row (self time of
  spans without a layer), the self times add up to the root span;
* a layer's driver time is its self time not covered by any job.
"""

from __future__ import annotations

import contextlib
import json
import re
import time
from collections import defaultdict

LAYERS = [
    "fixtures", "extract", "link", "cc", "generate", "pipeline",
    "checkpoint", "catalog", "runner", "rdfio", "sparql", "session",
]
_MODULE_LAYER = {"processors": "extract", "bgp": "sparql"}
_CALLSITE = re.compile(r"kgspark/(?:(processors)/)?(\w+)\.py")


class Tracer:
    """Records spans and sets the job group; ``enabled=False`` turns every
    method into a no-op so untraced runs share the same code path."""

    def __init__(self, spark, run_id: str, enabled: bool):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)

    def _set_group(self, layer: str | None) -> None:
        if layer is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(layer, layer, False)

    @contextlib.contextmanager
    def span(self, name: str, layer: str | None = None):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        sp = {"name": name, "layer": layer, "start": time.time(), "end": None,
              "parent": parent["id"] if parent else None,
              "id": len(self.spans), "run_id": self.run_id}
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(self._group())
        try:
            yield
        finally:
            sp["end"] = time.time()
            self._stack.pop()
            self._set_group(self._group())

    def _group(self) -> str | None:
        for sp in reversed(self._stack):
            if sp["layer"]:
                return sp["layer"]
        return None

    def count(self, key: str, value: float) -> None:
        if self.enabled:
            self.counts[key] += value

    def wrap(self, fn, name: str, layer: str, force: bool = False):
        """``fn`` inside a span.  ``force`` materialises a DataFrame result
        with an eager local checkpoint inside the span, so the layer's
        work is not deferred into the next layer's call, and counts its
        rows as ``<layer>.rows_out``."""
        def wrapped(*args, **kwargs):
            with self.span(name, layer):
                out = fn(*args, **kwargs)
                if force:
                    out = out.localCheckpoint(eager=True)
                    self.count(f"{layer}.rows_out", out.count())
            return out
        wrapped.__wrapped__ = fn
        return wrapped

    @contextlib.contextmanager
    def patched(self, patches):
        """Temporarily replace module attributes: ``patches`` is a list of
        (module, attribute, layer, force).  Restores them on exit."""
        saved = []
        try:
            if self.enabled:
                for mod, attr, layer, force in patches:
                    fn = getattr(mod, attr)
                    saved.append((mod, attr, fn))
                    setattr(mod, attr, self.wrap(fn, f"{layer}.{attr}", layer, force))
            yield
        finally:
            for mod, attr, fn in reversed(saved):
                setattr(mod, attr, fn)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counts": dict(self.counts)}, f)


# --- folding -----------------------------------------------------------------

def _union(iv: list[tuple[float, float]]) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for a, b in sorted(iv):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def _minus(iv: list[tuple[float, float]], cut: list[tuple[float, float]]):
    """Intervals ``iv`` (disjoint) minus the union of ``cut``."""
    cut = _union(cut)
    out = []
    for a, b in iv:
        cur = a
        for c, d in cut:
            if d <= cur or c >= b:
                continue
            if c > cur:
                out.append((cur, c))
            cur = max(cur, d)
        if cur < b:
            out.append((cur, b))
    return out


def _length(iv) -> float:
    return sum(b - a for a, b in iv)


def _callsite_layer(props: dict) -> str | None:
    m = _CALLSITE.search(props.get("callSite.short") or "")
    if not m:
        return None
    mod = m.group(1) or m.group(2)
    layer = _MODULE_LAYER.get(mod, mod)
    return layer if layer in LAYERS else None


def read_jobs(events) -> list[dict]:
    """Jobs with interval (s), layer, and summed task metrics."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for e in events:
        ev = e.get("Event")
        if ev == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            layer = _callsite_layer(props) or props.get("spark.jobGroup.id")
            jid = e["Job ID"]
            jobs[jid] = {"id": jid, "start": e["Submission Time"] / 1000.0,
                         "end": None, "layer": layer, "tasks": 0,
                         "task_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
                         "shuffle_b": 0, "out_b": 0, "arrow_b": 0}
            for sid in e.get("Stage IDs", []):
                stage_job[sid] = jid
        elif ev == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
        elif ev == "SparkListenerTaskEnd":
            j = jobs.get(stage_job.get(e.get("Stage ID")))
            m = e.get("Task Metrics")
            if j is None or not m:
                continue
            j["tasks"] += 1
            j["task_s"] += m.get("Executor Run Time", 0) / 1000.0
            j["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            j["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            sr = m.get("Shuffle Read Metrics", {})
            sw = m.get("Shuffle Write Metrics", {})
            j["shuffle_b"] += (sr.get("Local Bytes Read", 0)
                               + sr.get("Remote Bytes Read", 0)
                               + sw.get("Shuffle Bytes Written", 0))
            j["out_b"] += m.get("Output Metrics", {}).get("Bytes Written", 0)
            for a in (e.get("Task Info") or {}).get("Accumulables", []):
                if a.get("Name") in ("data sent to Python workers",
                                     "data returned from Python workers"):
                    j["arrow_b"] += int(a.get("Update") or 0)
    return [j for j in jobs.values() if j["end"] is not None]


def read_event_log(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def fold(events, spans: list[dict]) -> dict:
    """Per-layer table from an event log and the spans of one run.

    Returns ``{"rows": {layer: {...}}, "wall_s": root duration}``; each
    row has wall_s, self_s, driver_s, jobs, tasks, task_s, jvm_cpu_s,
    gc_s, shuffle_mb, output_mb, arrow_mb.  The ``unattributed`` row
    holds the self time of spans that have no layer (the root span, the
    benchmark's own checks)."""
    jobs = read_jobs(events)
    by_id = {s["id"]: s for s in spans}
    children = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s)
    roots = [s for s in spans if s["parent"] is None]
    job_iv = [(j["start"], j["end"]) for j in jobs]

    rows: dict[str, dict] = {}

    def row(layer: str) -> dict:
        return rows.setdefault(layer, {
            "wall_s": 0.0, "self_s": 0.0, "driver_s": 0.0, "jobs": 0,
            "tasks": 0, "task_s": 0.0, "jvm_cpu_s": 0.0, "gc_s": 0.0,
            "shuffle_mb": 0.0, "output_mb": 0.0, "arrow_mb": 0.0,
        })

    def outer_of_layer(s) -> bool:
        p = by_id.get(s["parent"])
        while p is not None:
            if p["layer"] == s["layer"]:
                return False
            p = by_id.get(p["parent"])
        return True

    for s in spans:
        layer = s["layer"] or "unattributed"
        own = _minus([(s["start"], s["end"])],
                     [(c["start"], c["end"]) for c in children[s["id"]]])
        r = row(layer)
        r["self_s"] += _length(own)
        r["driver_s"] += _length(_minus(own, job_iv))
        if outer_of_layer(s):
            r["wall_s"] += s["end"] - s["start"]

    lo = min((s["start"] for s in roots), default=0.0)
    hi = max((s["end"] for s in roots), default=0.0)
    for j in jobs:
        if j["end"] < lo or j["start"] > hi:
            continue
        r = row(j["layer"] if j["layer"] in LAYERS else "unattributed")
        r["jobs"] += 1
        r["tasks"] += j["tasks"]
        r["task_s"] += j["task_s"]
        r["jvm_cpu_s"] += j["cpu_s"]
        r["gc_s"] += j["gc_s"]
        r["shuffle_mb"] += j["shuffle_b"] / 1e6
        r["output_mb"] += j["out_b"] / 1e6
        r["arrow_mb"] += j["arrow_b"] / 1e6
    return {"rows": rows, "wall_s": sum(s["end"] - s["start"] for s in roots)}


def subtree(spans: list[dict], root: str) -> list[dict]:
    """The root spans called ``root`` and all their descendants."""
    keep: set[int] = set()
    for s in spans:  # a parent is recorded before its children
        if (s["parent"] is None and s["name"] == root) or s["parent"] in keep:
            keep.add(s["id"])
    return [s for s in spans if s["id"] in keep]


def jobs_in(events, spans: list[dict], name: str) -> dict:
    """Jobs and tasks submitted inside spans called ``name``, and the
    number of such spans (for per-operation ratios)."""
    jobs = read_jobs(events)
    iv = [(s["start"], s["end"]) for s in spans if s["name"] == name]
    n_jobs = n_tasks = 0
    for j in jobs:
        if any(a <= j["start"] <= b for a, b in iv):
            n_jobs += 1
            n_tasks += j["tasks"]
    return {"spans": len(iv), "jobs": n_jobs, "tasks": n_tasks}


def span_ms(spans: list[dict], name: str) -> list[float]:
    return [1000.0 * (s["end"] - s["start"]) for s in spans if s["name"] == name]
