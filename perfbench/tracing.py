"""Per-layer trace, taken from outside the program.

A span wraps each call into a layer's public function. It times the
call with the benchmark's own clock and sets the Spark job group to the
layer's name, so every Spark job the call runs is tagged with it.
Spark's event log (switched on at launch in traced runs) then gives
each group's jobs, stages, executor run time, Python worker time and
bytes, and shuffle bytes. A nested span's time is subtracted from its
parent's, so each layer reports its own time.

Three layers sit inside other public functions. `instrument()` wraps
them in place for the traced phase only, and `uninstrument()` puts the
originals back:

- `knn.candidates`: `knn_join` calls `knn_candidates`; the wrapper
  materialises its result (eager local checkpoint) inside the span.
- `index.stats`: the first call of `cell_stats()` / `super_stats()` on
  an index builds a cached table; the wrapper materialises it inside
  the span.
- `components`: `dbscan` calls `connected_components`; the wrapper
  first materialises the edge list under the caller's span, so the
  components span holds the contraction rounds only.

The eager materialisations add a job boundary each; the traced run
measures that cost as `trace_overhead_frac`.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from collections import defaultdict

# Spark-backed layers, in report order
LAYERS = ("index.build", "index.stats", "index.update", "knn.candidates",
          "knn.join", "ranges.count", "ranges.report",
          "joins.distance_join", "components", "dbscan")
LAYER_FIELDS = ("wall_s", "jobs", "stages", "task_s", "python_s",
                "python_sent_bytes", "python_recv_bytes",
                "shuffle_write_bytes")
OUTSIDE = "bench"  # job group of work done by the benchmark itself

# event-log accumulable -> (field, scale)
_ACCUMS = {
    "internal.metrics.executorRunTime": ("task_s", 1e-3),
    "time to run Python workers": ("python_s", 1e-3),
    "data sent to Python workers": ("python_sent_bytes", 1),
    "data returned from Python workers": ("python_recv_bytes", 1),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_bytes", 1),
}


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.enabled = False
        self._stack: list[list] = []  # [layer, child seconds]
        self.wall: dict[str, float] = defaultdict(float)
        self.calls: dict[str, int] = defaultdict(int)
        self._saved: list = []

    @contextlib.contextmanager
    def span(self, layer: str):
        if not self.enabled:
            yield
            return
        self._stack.append([layer, 0.0])
        self.sc.setJobGroup(layer, layer)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            dt = time.perf_counter() - t0
            _, child = self._stack.pop()
            self.wall[layer] += dt - child
            self.calls[layer] += 1
            if self._stack:
                self._stack[-1][1] += dt
            top = self._stack[-1][0] if self._stack else OUTSIDE
            self.sc.setJobGroup(top, top)

    def instrument(self) -> None:
        from kdtree_spark.index import SpatialIndex
        from kdtree_spark.queries import dbscan as dbscan_mod
        from kdtree_spark.queries import knn as knn_mod
        span = self.span

        real_cand = knn_mod.knn_candidates

        def knn_candidates(index, queries, k):
            with span("knn.candidates"):
                return real_cand(index, queries, k).localCheckpoint(eager=True)

        def first_materialised(real, attr):
            def wrapper(index):
                if getattr(index, attr) is not None:
                    return real(index)
                with span("index.stats"):
                    out = real(index)
                    out.count()
                return out
            return wrapper

        real_cc = dbscan_mod.connected_components

        def connected_components(edges, nodes=None, **kw):
            edges = edges.localCheckpoint(eager=True)
            with span("components"):
                return real_cc(edges, nodes, **kw)

        patches = [
            (knn_mod, "knn_candidates", knn_candidates),
            (SpatialIndex, "cell_stats",
             first_materialised(SpatialIndex.cell_stats, "_cell_stats")),
            (SpatialIndex, "super_stats",
             first_materialised(SpatialIndex.super_stats, "_super_stats")),
            (dbscan_mod, "connected_components", connected_components),
        ]
        for owner, name, fn in patches:
            self._saved.append((owner, name, getattr(owner, name)))
            setattr(owner, name, fn)
        self.enabled = True
        self.sc.setJobGroup(OUTSIDE, OUTSIDE)

    def uninstrument(self) -> None:
        while self._saved:
            owner, name, fn = self._saved.pop()
            setattr(owner, name, fn)
        self.enabled = False
        self.sc.setJobGroup(OUTSIDE, OUTSIDE)


def event_log_file(log_dir: str) -> str:
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}: {names}")
    return os.path.join(log_dir, names[0])


def rollup(path: str) -> dict[str, dict[str, float]]:
    """Job group -> totals (jobs, stages, task_s, python_s, bytes) from
    a finished, uncompressed, single-file Spark event log."""
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    stage_group: dict[int, str] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                group = props.get("spark.jobGroup.id") or OUTSIDE
                out[group]["jobs"] += 1
                for sid in ev["Stage IDs"]:
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                out[stage_group.get(sid, OUTSIDE)]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                acc = out[stage_group.get(ev["Stage ID"], OUTSIDE)]
                for a in (ev.get("Task Info") or {}).get("Accumulables", []):
                    hit = _ACCUMS.get(a.get("Name"))
                    if hit is not None and a.get("Update") is not None:
                        acc[hit[0]] += float(a["Update"]) * hit[1]
    return out


def layer_metrics(tracer: Tracer, groups: dict) -> dict[str, float]:
    """Per-layer metrics, each the mean per call of the layer; a layer
    the run never called reads 0."""
    m = {}
    for layer in LAYERS:
        n = tracer.calls.get(layer, 0)
        g = groups.get(layer, {})
        for field in LAYER_FIELDS:
            total = tracer.wall.get(layer, 0.0) if field == "wall_s" \
                else g.get(field, 0.0)
            m[f"{layer}.{field}"] = total / n if n else 0.0
    return m
