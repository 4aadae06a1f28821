#!/usr/bin/env python3
"""spark-kd benchmark: one workload, one seed, one measured window.

    python3 perfbench/run.py --workload uniform_read --seed 1 \
        --seconds 8 --trace 0

Run from the repository root. The engine runs on local[N], N = the
CPUs this process may use; the driver heap is sized from host RAM, and
Spark's scratch, temp files and event log go under `.perfbench_work/`
in the root (removed again at exit).

`--trace 0` prints the end-to-end metrics of an untraced run. `--trace
1` runs the same untraced window, then a traced window and an untraced
reference window of the same length, and prints the per-layer metrics
(see tracing.py and METRICS.md). The last line of stdout is one JSON
object: {"correct", "attempted", "failed", "metrics": {name: {value,
unit}}}.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import resource
import shlex
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

E2E = {"setup_s": "s", "round_s_p50": "s", "items_per_s": "1/s"}

NAMED = {"build_rows_per_s": "1/s", "knn_k10_qps": "1/s",
         "range_count_qps": "1/s", "range_report_rows_per_s": "1/s",
         "update_rows_per_s": "1/s", "update_gen_s_p50": "s",
         "compaction_gen_s": "s", "knn_after_update_qps": "1/s",
         "distance_join_pairs_per_s": "1/s", "dbscan_points_per_s": "1/s",
         "index_bytes_per_point": "B", "peak_rss_mb": "MB",
         "ops_failed_frac": "frac"}


def host_fit(work: str, traced: bool) -> dict:
    """Size Spark to this host through the environment get_spark reads,
    keeping every file the run writes under `work`."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        ram_kb = int(next(ln for ln in f if ln.startswith("MemTotal")).split()[1])
    ram_gb = ram_kb / 2 ** 20
    driver_gb = max(2, min(8, int(ram_gb * 0.4)))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    events = os.path.join(work, "events")
    for d in (tmp, local, events):
        os.makedirs(d)
    # no hsperfdata: a JVM writes it to the system temp directory,
    # whatever its java.io.tmpdir
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.update(SPARK_GRAFT_CPUS=str(cpus),
                      SPARK_GRAFT_DRIVER_MEM=f"{driver_gb}g",
                      SPARK_LOCAL_DIRS=local, TMPDIR=tmp,
                      SPARK_LAUNCHER_OPTS=jvm_opts)
    submit = ["--driver-java-options", jvm_opts]
    if traced:
        for kv in ("spark.eventLog.enabled=true",
                   f"spark.eventLog.dir=file://{events}",
                   "spark.eventLog.rolling.enabled=false",
                   "spark.eventLog.compress=false"):
            submit += ["--conf", kv]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(submit + ["pyspark-shell"])
    return dict(nproc=cpus, ram_gb=round(ram_gb, 1),
                driver_mem=f"{driver_gb}g", events=events)


def import_engine():
    """Import the engine from this checkout, never from elsewhere."""
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import kdtree_spark
    where = os.path.dirname(os.path.abspath(kdtree_spark.__file__))
    if os.path.dirname(where) != ROOT:
        raise ImportError(f"kdtree_spark imported from {where}, not {ROOT}")


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident set of the JVM plus the driver's Python process."""
    with open(f"/proc/{jvm_pid}/status") as f:
        hwm_kb = int(next(ln for ln in f if ln.startswith("VmHWM")).split()[1])
    own_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (hwm_kb + own_kb) / 1024


def kernel_leg(blobs: list, seed: int, budget_s: float = 0.4) -> dict:
    """Time the numpy kd-tree kernel single-threaded in this process
    on sampled index blobs."""
    import numpy as np
    from kdtree_spark.localtree import LocalKDTree
    rng = np.random.default_rng([seed, 11])
    nbytes = sum(len(b) for b in blobs)
    trees = [LocalKDTree.from_bytes(b) for b in blobs]
    lives = [t.live_points() for t in trees]
    qs, boxes = [], []
    for pts, _ in lives:
        lo, hi = pts.min(axis=0), pts.max(axis=0)
        qs.append(np.stack([rng.integers(lo[j], hi[j] + 1, 512)
                            for j in range(2)], axis=1))
        c = qs[-1]
        w = np.maximum((hi - lo) // 8, 1)
        boxes.append(np.concatenate([c - w // 2, c + w // 2], axis=1))

    def rate(work_per_pass, fn):
        n, t0 = 0, time.perf_counter()
        while True:
            fn()
            n += 1
            dt = time.perf_counter() - t0
            if dt >= budget_s:
                return work_per_pass * n / dt

    return {
        "localtree.from_bytes_mb_per_s": rate(
            nbytes / 2 ** 20, lambda: [LocalKDTree.from_bytes(b)
                                       for b in blobs]),
        "localtree.build_pts_per_s": rate(
            sum(len(i) for _, i in lives),
            lambda: [LocalKDTree.build(p, i) for p, i in lives]),
        "localtree.knn_qps": rate(
            sum(len(q) for q in qs),
            lambda: [t.knn(q, 10) for t, q in zip(trees, qs)]),
        "localtree.range_count_boxes_per_s": rate(
            sum(len(b) for b in boxes),
            lambda: [t.range_count(b) for t, b in zip(trees, boxes)]),
    }


def run(args, host: dict) -> tuple[dict, dict]:
    """-> (result JSON, human-readable detail)."""
    import tracing as tr
    from kdtree_spark.session import get_spark
    from workloads import WORKLOADS

    phases = {}  # wall seconds of each step of the run, for the log
    last = [time.perf_counter()]

    def lap(name: str) -> None:
        now = time.perf_counter()
        phases[name] = round(now - last[0], 2)
        last[0] = now

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    session_s = time.perf_counter() - t0
    lap("session")
    sc = spark.sparkContext
    jvm = sc._gateway.proc
    tracer = tr.Tracer(sc)
    version = spark.version
    try:
        w = WORKLOADS[args.workload](spark, tracer, args.seed)
        if args.trace:
            tracer.instrument()
        setup_med = w.setup()
        if args.trace:
            tracer.uninstrument()
        lap("setup")
        w.prepare_oracle()
        lap("oracle")
        walls = w.window("measure", args.seconds)
        lap("measure")
        measured = [o for o in w.ops if o["phase"] == "measure"]
        named = dict.fromkeys(NAMED, 0.0)
        named.update(w.named_metrics(measured))
        builds = [o["items"] / o["s"] for o in w.ops if o["kind"] == "build"]
        if builds:
            named["build_rows_per_s"] = statistics.median(builds)
        layer = dict.fromkeys(per_layer_units(), 0.0)
        if args.trace:
            # the traced window, then an untraced reference one; a
            # session still warming up makes the reference faster, so
            # the overhead this gives errs high
            tracer.instrument()
            twalls = w.window("traced", args.seconds)
            tracer.uninstrument()
            lap("traced")
            ref = w.window("reference", args.seconds)
            lap("reference")
            layer.update(w.counts())
            blobs = w.kernel_sample()
            layer.update(kernel_leg(blobs, args.seed) if blobs else {})
            lap("audits")
            layer["trace_overhead_frac"] = (statistics.median(twalls)
                                            / statistics.median(ref) - 1)
        w.final_check()
        if getattr(w, "index", None) is not None:
            c = w.index_counts()
            named["index_bytes_per_point"] = c["index.blob_bytes"] / c["live"]
        named["peak_rss_mb"] = peak_rss_mb(jvm.pid)
        named["ops_failed_frac"] = w.failed / w.attempted
        lap("final")
    finally:
        spark.stop()
        sc._gateway.shutdown()
        jvm.stdin.close()
        try:
            jvm.wait(timeout=60)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()
    lap("stop")

    metrics = {"setup_s": session_s + setup_med,
               "round_s_p50": statistics.median(walls),
               "items_per_s": sum(o["items"] for o in measured)
               / sum(o["s"] for o in measured)}
    units = dict(E2E)
    if args.trace:
        groups = tr.rollup(tr.event_log_file(host["events"]))
        metrics = dict(layer)
        metrics.update(named)
        metrics.update(tr.layer_metrics(tracer, groups))
        metrics["session.start_s"] = session_s
        units = per_layer_units()
        lap("rollup")
    result = {"correct": w.failed == 0, "attempted": w.attempted,
              "failed": w.failed,
              "metrics": {k: {"value": float(metrics[k]), "unit": units[k]}
                          for k in units}}
    kinds = {}
    for o in w.ops:
        kinds.setdefault(f"{o['phase']}.{o['kind']}", []).append(o["s"])
    detail = dict(workload=args.workload, seed=args.seed, trace=args.trace,
                  rounds=len(walls), named=named, host=host,
                  spark=version, phase_s=phases,
                  batch_s_p50={k: (len(v), round(statistics.median(v), 3))
                               for k, v in kinds.items()})
    return result, detail


def per_layer_units() -> dict:
    import tracing as tr
    units = dict(NAMED)
    for layer in tr.LAYERS:
        for field in tr.LAYER_FIELDS:
            units[f"{layer}.{field}"] = (
                "s" if field.endswith("_s") else
                "B" if field.endswith("bytes") else "count")
    units.update({
        "knn.cells_per_query": "count", "knn.scanned_pts_per_query": "count",
        "knn.shipped_blob_bytes": "B", "index.cells": "count",
        "index.salted_cells": "count", "index.blob_bytes": "B",
        "index.update.touched_cells": "count", "index.update.frags": "count",
        "index.update.compactions": "count",
        "localtree.from_bytes_mb_per_s": "MB/s",
        "localtree.build_pts_per_s": "1/s", "localtree.knn_qps": "1/s",
        "localtree.range_count_boxes_per_s": "1/s",
        "session.start_s": "s", "trace_overhead_frac": "frac"})
    return units


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("uniform_read", "varden_churn", "dbscan_join"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        host = host_fit(work, bool(args.trace))
        import_engine()
        result, detail = run(args, host)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may share it
            os.rmdir(os.path.dirname(work))
    host.pop("events")
    print("# " + json.dumps(detail, default=float), flush=True)
    for k, v in result["metrics"].items():
        print(f"# {args.workload:14s} {k:40s} {v['value']:>16.6g} {v['unit']}")
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
