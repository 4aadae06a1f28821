"""The three closed-loop workloads.

One client on the driver thread: it issues the next batch only after
the previous one has returned its answer to the driver. A round is the
workload's fixed sequence of batches. Each batch is timed from the call
into the engine until its answer is on the driver; the answer is then
checked against an oracle outside the timed region, and a wrong answer
marks the batch failed.
"""

from __future__ import annotations

import statistics
import time

import numpy as np
from pyspark.sql import functions as F

import gen
import oracle

K = 10
SETUP_REPEATS = 3     # set-ups per run; setup_s reports their median
QID_BASE = 1 << 40    # query ids: disjoint from every point id
KNN_CHECK = 24        # sampled queries checked per kNN batch
COUNT_CHECK = 48      # sampled boxes checked per range-count batch
REPORT_CHECK = 16     # sampled boxes checked per range-report batch


def _sample(rng: np.random.Generator, n: int, m: int) -> np.ndarray:
    return np.sort(rng.choice(n, size=min(n, m), replace=False))


class Workload:
    """Base: set-up, the measured window, and the log of timed batches."""

    name = ""

    def __init__(self, spark, tracer, seed: int):
        self.spark = spark
        self.tracer = tracer
        self.seed = int(seed)
        self.rng = np.random.default_rng([self.seed, 7])
        self.ops: list[dict] = []   # every timed batch of the run
        self.attempted = 0
        self.failed = 0
        self.round_no = 0

    # -- to override -------------------------------------------------
    def setup_once(self) -> None:
        raise NotImplementedError

    def prepare_oracle(self) -> None:
        raise NotImplementedError

    def round(self, phase: str) -> None:
        raise NotImplementedError

    def named_metrics(self, ops: list[dict]) -> dict:
        raise NotImplementedError

    def counts(self) -> dict:
        """Per-layer counts, taken after the traced window."""
        return {}

    def kernel_sample(self):
        """Index blobs for the localtree leg, or None."""
        return None

    def final_check(self) -> None:
        """A last whole-run answer check, if the workload has one."""

    # -- shared ------------------------------------------------------
    def op(self, phase: str, kind: str, fn, items_of):
        """Run one timed batch: fn() -> answer; items_of(answer) ->
        work items it completed. Returns the answer."""
        with self.tracer.span(_LAYER[kind]):
            t0 = time.perf_counter()
            ans = fn()
            dt = time.perf_counter() - t0
        self.ops.append(dict(phase=phase, kind=kind, s=dt,
                             items=items_of(ans)))
        return ans

    def verdict(self, bad: int) -> None:
        self.attempted += 1
        self.failed += int(bad > 0)

    def setup(self) -> float:
        """SETUP_REPEATS set-ups; -> their median seconds."""
        secs = []
        for _ in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            self.setup_once()
            secs.append(time.perf_counter() - t0)
        return statistics.median(secs)

    def window_done(self, ops: list[dict]) -> bool:
        """Whether the window's batches so far may end it, once their
        time is up."""
        return True

    def window(self, phase: str, seconds: float) -> list[float]:
        """Rounds until their timed work reaches `seconds` (and
        window_done holds). -> wall seconds of each round's batches."""
        walls = []
        start = len(self.ops)
        while True:
            first = len(self.ops)
            self.round(phase)
            self.round_no += 1
            walls.append(sum(o["s"] for o in self.ops[first:]))
            if sum(walls) >= seconds and self.window_done(self.ops[start:]):
                return walls


_LAYER = {"build": "index.build", "knn": "knn.join", "count": "ranges.count",
          "report": "ranges.report", "update": "index.update",
          "knn_after": "knn.join", "djoin": "joins.distance_join",
          "dbscan": "dbscan"}


def _rate(ops: list[dict], kind: str) -> float:
    sel = [o for o in ops if o["kind"] == kind]
    t = sum(o["s"] for o in sel)
    return sum(o["items"] for o in sel) / t if t else 0.0


def _index_counts(index) -> dict:
    row = index.df.agg(
        F.countDistinct("cell").alias("cells"),
        F.countDistinct(F.when(F.col("salt") > 0, F.col("cell")))
        .alias("salted"),
        F.sum(F.length("blob")).alias("bytes"),
        F.sum("cnt").alias("live")).collect()[0]
    return {"index.cells": int(row["cells"]),
            "index.salted_cells": int(row["salted"]),
            "index.blob_bytes": int(row["bytes"]),
            "live": int(row["live"])}


def _kernel_blobs(index, seed: int, m: int = 6) -> list[bytes]:
    """A seeded sample of m non-empty blobs of the index."""
    rows = (index.df.filter("cnt > 0")
            .select("cell", "salt", F.xxhash64("cell", "salt",
                                                F.lit(seed)).alias("h"),
                    "blob")
            .orderBy("h").limit(m).collect())
    return [bytes(r["blob"]) for r in rows]


class _IndexedWorkload(Workload):
    """Shared by the two index workloads: build, kNN batches, audits."""

    dist = "uniform"
    n_points = 0
    n_knn = 0

    def __init__(self, spark, tracer, seed: int):
        super().__init__(spark, tracer, seed)
        from kdtree_spark.grid import Grid
        self.cell_width = Grid.for_count(self.n_points).cw
        self.index = None
        self.live = None  # oracle.XSorted over the points the index holds

    def points_df(self, start: int, n: int, id_col: str = "pid"):
        return gen.points(self.spark, start, n, self.seed, self.dist,
                          self.cell_width, id_col)

    def setup_once(self) -> None:
        from kdtree_spark.index import SpatialIndex
        if self.index is not None:
            self.index.unpersist()
        pts = self.points_df(0, self.n_points)
        self.index = self.op("setup", "build", lambda: SpatialIndex.build(
            self.spark, pts, n_hint=self.n_points),
            lambda _: self.n_points)
        # the index's stats tables are built on their first use; do it
        # here so set-up pays for it, as the first query would
        self.index.cell_stats().count()
        self.index.super_stats().count()

    def knn_batch(self, phase: str, kind: str) -> None:
        from kdtree_spark.queries.knn import knn_join
        start = QID_BASE + self.round_no * self.n_knn
        q = self.points_df(start, self.n_knn, "qid")
        got = self.op(phase, kind, lambda: knn_join(self.index, q, K)
                      .toPandas(), lambda _: self.n_knn)
        pick = [int(start + i) for i in _sample(self.rng, self.n_knn,
                                                KNN_CHECK)]
        qids, qpts = gen.collect_xy(q.filter(F.col("qid").isin(pick)),
                                    "qid")
        got = got[got["qid"].isin(qids)]
        self.verdict(oracle.check_knn(got, self.live, qids, qpts, K))

    def index_counts(self) -> dict:
        return _index_counts(self.index)

    def counts(self) -> dict:
        """Public audit functions on a fixed query sample."""
        from kdtree_spark.queries.knn import (knn_candidates,
                                              knn_scan_stats,
                                              knn_shipped_blobs)
        nq = 2000
        q = self.points_df(QID_BASE - nq, nq, "qid")
        cand = knn_candidates(self.index, q, K).count()
        scan = knn_scan_stats(self.index, q, K).agg(
            F.sum("scanned").alias("s")).collect()[0]["s"]
        shipped = knn_shipped_blobs(self.index, q, K)
        out = {"knn.cells_per_query": cand / nq,
               "knn.scanned_pts_per_query": float(scan or 0) / nq,
               "knn.shipped_blob_bytes": shipped["shipped_bytes"]}
        out.update(_index_counts(self.index))
        del out["live"]  # reported as index_bytes_per_point's base
        return out

    def kernel_sample(self):
        return _kernel_blobs(self.index, self.seed)


class UniformRead(_IndexedWorkload):
    """Build once, then rounds of kNN, range count and range report."""

    name = "uniform_read"
    dist = "uniform"
    n_points = 250_000
    n_knn = 8_000
    n_count = 5_000
    n_report = 1_000

    def prepare_oracle(self) -> None:
        self.live = oracle.XSorted(*gen.collect_xy(
            self.points_df(0, self.n_points)))

    def round(self, phase: str) -> None:
        from kdtree_spark.queries.ranges import range_count, range_report
        self.knn_batch(phase, "knn")
        r = self.round_no
        bx = gen.boxes(self.spark, self.n_count, self.seed, 2 * r)
        got = self.op(phase, "count", lambda: range_count(self.index, bx)
                      .toPandas(), lambda _: len(bx))
        counts = dict(zip(got["box_id"].to_numpy(np.int64),
                          got["cnt"].to_numpy(np.int64)))
        pick = bx[_sample(self.rng, len(bx), COUNT_CHECK)]
        self.verdict(oracle.check_counts(counts, self.live, pick))
        rb = gen.boxes(self.spark, self.n_report, self.seed, 2 * r + 1,
                       classes=(0,))
        got = self.op(phase, "report", lambda: range_report(self.index, rb)
                      .toPandas(), len)
        pick = rb[_sample(self.rng, len(rb), REPORT_CHECK)]
        self.verdict(oracle.check_report(
            got[got["box_id"].isin(pick[:, 0])], self.live, pick))

    def named_metrics(self, ops: list[dict]) -> dict:
        return {"knn_k10_qps": _rate(ops, "knn"),
                "range_count_qps": _rate(ops, "count"),
                "range_report_rows_per_s": _rate(ops, "report")}


class VardenChurn(_IndexedWorkload):
    """Rounds of gens_per_round generations of 1% inserts + 1% deletes,
    then one kNN batch. The index is checked at each kNN batch and, in
    full, at the end of the run."""

    name = "varden_churn"
    dist = "varden"
    n_points = 300_000
    n_knn = 2_000
    churn = 0.01
    gens_per_round = 8  # the engine compacts every 8th generation
    compactions_per_window = 1

    def __init__(self, spark, tracer, seed: int):
        super().__init__(spark, tracer, seed)
        self.m = int(self.n_points * self.churn)
        self.next_pid = self.n_points
        self.live_ids = self.live_pts = None

    def prepare_oracle(self) -> None:
        self.live_ids, self.live_pts = gen.collect_xy(
            self.points_df(0, self.n_points))

    def round(self, phase: str) -> None:
        # the round's insert batches, collected for the live-set oracle
        # in one job before any of them is timed
        ids, pts = gen.collect_xy(self.points_df(
            self.next_pid, self.gens_per_round * self.m))
        order = np.argsort(ids)
        ids, pts = ids[order], pts[order]
        for g in range(self.gens_per_round):
            part = slice(g * self.m, (g + 1) * self.m)
            self.generation(phase, ids[part], pts[part])
        self.live = oracle.XSorted(self.live_ids, self.live_pts)
        self.knn_batch(phase, "knn_after")

    def generation(self, phase: str, ins_ids, ins_pts) -> None:
        import pandas as pd
        ins = self.points_df(self.next_pid, self.m)
        self.next_pid += self.m
        gone = _sample(self.rng, len(self.live_ids), self.m)
        dels = self.spark.createDataFrame(pd.DataFrame(
            {"pid": self.live_ids[gone], "x": self.live_pts[gone, 0],
             "y": self.live_pts[gone, 1]}))
        old = self.index
        self.index = self.op(phase, "update",
                             lambda: old.update(inserts=ins, deletes=dels),
                             lambda _: 2 * self.m)
        self.ops[-1]["compacted"] = bool(self.index.manifest["compacted"])
        self.ops[-1]["frags"] = int(self.index.manifest["frags"])
        old.unpersist(successor=self.index)
        if self.tracer.enabled:
            self.ops[-1]["touched"] = self.index.touched_cells_df.count()
        keep = np.ones(len(self.live_ids), bool)
        keep[gone] = False
        self.live_ids = np.concatenate([self.live_ids[keep], ins_ids])
        self.live_pts = np.concatenate([self.live_pts[keep], ins_pts])

    def window_done(self, ops: list[dict]) -> bool:
        return sum(o.get("compacted", False)
                   for o in ops) >= self.compactions_per_window

    def counts(self) -> dict:
        out = super().counts()
        upd = [o for o in self.ops
               if o["kind"] == "update" and o["phase"] == "traced"]
        out["index.update.touched_cells"] = statistics.mean(
            o["touched"] for o in upd)
        out["index.update.frags"] = statistics.mean(o["frags"] for o in upd)
        out["index.update.compactions"] = sum(o["compacted"] for o in upd)
        return out

    def final_check(self) -> None:
        """The whole live set, through one full-domain range report."""
        from kdtree_spark.queries.ranges import range_report
        full = np.array([[0, 0, 0, gen.DOMAIN - 1, gen.DOMAIN - 1]])
        got = range_report(self.index, full).select("pid").toPandas()
        self.attempted += 1
        self.failed += int(not np.array_equal(
            np.sort(got["pid"].to_numpy(np.int64)), np.sort(self.live_ids)))

    def named_metrics(self, ops: list[dict]) -> dict:
        upd = [o for o in ops if o["kind"] == "update"]
        plain = [o["s"] for o in upd if not o["compacted"]]
        comp = [o["s"] for o in upd if o["compacted"]]
        return {"update_rows_per_s": _rate(ops, "update"),
                "update_gen_s_p50": statistics.median(plain) if plain else 0.0,
                "compaction_gen_s": statistics.median(comp) if comp else 0.0,
                "knn_after_update_qps": _rate(ops, "knn_after")}


class DbscanJoin(Workload):
    """Rounds of an eps self-join, then DBSCAN, on one varden subset."""

    name = "dbscan_join"
    n_points = 60_000
    eps = 100
    min_pts = 5

    def __init__(self, spark, tracer, seed: int):
        super().__init__(spark, tracer, seed)
        self.pts = None
        self.want_digest = self.want = None

    def setup_once(self) -> None:
        if self.pts is not None:
            self.pts.unpersist()
        self.pts = gen.points(self.spark, 0, self.n_points, self.seed,
                              "varden_wide").cache()
        self.pts.count()

    def prepare_oracle(self) -> None:
        ids, pts = gen.collect_xy(self.pts)
        pairs = oracle.eps_pairs(ids, pts, self.eps)
        self.want_digest = oracle.pair_digest(pairs[:, 0], pairs[:, 1])
        self.want = oracle.dbscan(ids, pairs, self.min_pts)

    def round(self, phase: str) -> None:
        from kdtree_spark.queries.dbscan import dbscan
        from kdtree_spark.queries.joins import distance_join
        a = self.pts.withColumnRenamed("pid", "lid")
        b = self.pts.withColumnRenamed("pid", "rid")
        row = self.op(phase, "djoin", lambda: distance_join(
            a, b, self.eps).agg(
                F.count("*").alias("n"),
                F.sum((F.col("lid") * 1_000_003 + F.col("rid"))
                      % 1_000_000_007).alias("h")).collect()[0],
            lambda r: int(r["n"]))
        self.verdict(int((int(row["n"]), int(row["h"] or 0))
                                != self.want_digest))
        got = self.op(phase, "dbscan", lambda: dbscan(
            self.pts, self.eps, self.min_pts).toPandas(),
            lambda _: self.n_points)
        sid, cluster, kind = self.want
        got = got.sort_values("pid")
        kinds = got["kind"].map({"core": 0, "border": 1, "noise": 2})
        self.verdict(int(
            not np.array_equal(got["pid"].to_numpy(np.int64), sid)
            or not np.array_equal(kinds.to_numpy(np.int64), kind)
            or not np.array_equal(got["cluster"].fillna(-1)
                                  .to_numpy(np.int64), cluster)))

    def named_metrics(self, ops: list[dict]) -> dict:
        return {"distance_join_pairs_per_s": _rate(ops, "djoin"),
                "dbscan_points_per_s": _rate(ops, "dbscan")}


WORKLOADS = {w.name: w for w in (UniformRead, VardenChurn, DbscanJoin)}
