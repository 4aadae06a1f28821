"""Driver-gate spatial queries: each gate is a `(spark, sf_dir) ->
DataFrame` callable plus a DuckDB oracle SQL over the same parquet.

Outputs use BIGINT columns with names identical to the oracle's aliases
(the driver hash-compares after sorting columns by name).

Every point set is one `PointSpec` row — dims, distribution, coordinate
type, grid and salting cap — and the same row derives its Spark points,
query sample, insert/delete batches and oracle SQL, the way the
reference serves every dimension and coordinate type from one
dim-templated path (tests/test.cpp:569-617, comparator.h:10-79). The
index over a spec is memoized per (session, sf_dir, spec name) so the
driver's sequential query runs don't rebuild it.

The oracle generators (`live_sql`, `knn_sql`, `box_count_sql`,
`box_report_sql`, `circle_count_sql`) build SQL from `points` and
`fixtures` only, never from the engine, so DuckDB stays an independent
reference.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import fixtures, points
from ..grid import Grid
from ..index import HOT_CELL_CAP, SpatialIndex
from ..queries.joins import distance_join, rect_join
from ..queries.knn import knn_join
from ..queries.polygon import (point_in_polygon, polygon_join,
                               polygon_join_oracle_sql, polygon_join_sql,
                               polygons_df, tile_cell_assign,
                               tile_cell_assign_sql)
from ..queries.ranges import circle_count, range_count, range_report

GRID_G = 8  # fixed grid for driver queries: 64 cells, sf-independent

BOXES = fixtures.gen_boxes(30)
BOXES_SMALL = fixtures.gen_boxes(12)
BOXES_10K = fixtures.gen_boxes(10000)  # H4 rangeCountFix scale
# H5 rangeQueryFix scale: 10,000 small-bracket rects, so the REPORT
# output stays ~n^(1/4) rows per box (reference type-0 rectangles)
BOXES_10K_REPORT = fixtures.gen_boxes(10000, seed=77, classes=(0,))
BOXES_D5 = fixtures.gen_boxes_d(24, 5)
CIRCLES = fixtures.gen_circles(15)
CIRCLES_D5 = fixtures.gen_circles_d(15, 5)
POLYGONS = fixtures.gen_polygons(8)
TILES = fixtures.gen_tiles(12)
POLY_A = fixtures.gen_convex_polygons(40, seed=61)
POLY_B = fixtures.gen_convex_polygons(60, seed=62)

QUERY = points.QUERY_FILTER_SQL  # ~1% query sample
PROBE = points.PROBE_FILTER_SQL  # ~0.1% probe set (H8/H9 step probes)
KNN_GRAPH_FILTER = f"({points.PID_SQL} % 211 = 3)"  # ~0.5% of nodes


# ---------------------------------------------------------------- point sets

@dataclass(frozen=True)
class PointSpec:
    """One gated point set: its SQL (points, query sample, I1/D1
    batches) over lineitem and the index built over it."""
    name: str
    dims: int = 2
    dist: str = "uniform"
    f64: bool = False
    grid: Grid = Grid(GRID_G)
    hot_cell_cap: int = HOT_CELL_CAP

    @property
    def cols(self) -> tuple:
        return points.dim_cols(self.dims)

    def points_sql(self, table: str = "lineitem") -> str:
        return points.points_sql(table, self.dist, self.dims, self.f64)

    def queries_sql(self, table: str = "lineitem", where: str = QUERY) -> str:
        return points.query_points_sql(table, self.dist, dims=self.dims,
                                       f64=self.f64, where=where)

    def insert_sql(self, table: str = "lineitem") -> str:
        return points.insert_batch_sql(table, self.dims, self.f64)

    def delete_sql(self, table: str = "lineitem") -> str:
        return points.delete_batch_sql(table, self.dims, self.dist, self.f64)


UNIFORM = PointSpec("uniform")
VARDEN = PointSpec("varden", dist="varden")
# hot_cell_cap=512 salts the dense varden cells into >= 4 blobs, so kNN
# takes the (cell, salt) fan-out branch (queries/skew.py
# FANOUT_MIN_BLOBS); at the default 131,072-row cap no gate-scale cell
# ever salts
VARDEN_HOT = PointSpec("varden_hot512", dist="varden", hot_cell_cap=512)
# 3-D cell key (same ~64-cell budget as the 2-D Grid(8)): the candidate
# region prunes in three dims, not a z-degenerate two
D3 = PointSpec("d3", dims=3, grid=Grid(4, dims=3))
# 4-D cell key, 3^4 = 81 cells (~the 64-cell budget): measured sweep at
# sf0.1 — (4,3)=4.34, (3,4)=3.74, (2,5)=2.85 candidate cells/query;
# (3,4) meets the <4 target with 81-cell parallelism and the fastest
# kNN wall of the >=64-cell options
D5 = PointSpec("d5", dims=5, grid=Grid(3, dims=4))
D16 = PointSpec("d16", dims=16, grid=Grid(4, dims=3))
# float-coordinate mode: double coords end to end (the reference's
# double test build, comparator.h:10-79; tests/testFramework.h:19-20) —
# blobs, stats, probes and distances all run in IEEE float64, and
# dist_sq stays DOUBLE. Tie-break rule divergence vs the reference: the
# reference's Num_Comparator treats |a-b| < eps as equal and breaks
# remaining ties by point order; here (and in the DuckDB oracle) floats
# compare exactly and ties break on (dist_sq, nid) — points whose
# distances differ by < eps can therefore rank in the opposite order
# from the reference, though identically to any engine doing exact IEEE
# comparison.
F64 = PointSpec("f64", f64=True)

SPECS = {s.name: s for s in (UNIFORM, VARDEN, VARDEN_HOT, D3, D5, D16, F64)}

_INDEX_CACHE: dict = {}


def _frame(spark: SparkSession, sf_dir: str, sql_of, *args) -> DataFrame:
    """Run one of a spec's SQL builders over sf_dir's lineitem."""
    return spark.sql(sql_of(points.lineitem_view(spark, sf_dir), *args))


def build_index(spark: SparkSession, sf_dir: str, spec: PointSpec
                ) -> SpatialIndex:
    pts = _frame(spark, sf_dir, spec.points_sql).select("pid", *spec.cols)
    return SpatialIndex.build(spark, pts, grid=spec.grid,
                              hot_cell_cap=spec.hot_cell_cap,
                              coord_cols=spec.cols)


def index_for(spark: SparkSession, sf_dir: str, spec: PointSpec
              ) -> SpatialIndex:
    key = (id(spark), sf_dir, spec.name)
    if key not in _INDEX_CACHE:
        _INDEX_CACHE[key] = build_index(spark, sf_dir, spec)
    return _INDEX_CACHE[key]


def _updated_index(spark, sf_dir, spec: PointSpec, inserts: bool,
                   deletes: bool) -> SpatialIndex:
    """The memoized index, after the spec's I1/D1 batches if asked."""
    idx = index_for(spark, sf_dir, spec)
    if not (inserts or deletes):
        return idx
    return idx.update(
        inserts=_frame(spark, sf_dir, spec.insert_sql) if inserts else None,
        deletes=_frame(spark, sf_dir, spec.delete_sql) if deletes else None)


def _knn_out(df: DataFrame) -> DataFrame:
    return df.select("qid", F.col("rank").cast("long").alias("rank"),
                     "nid", "dist_sq")


def _stepped(legs) -> DataFrame:
    """Union of (step, frame) legs with a leading BIGINT step column."""
    out = None
    for step, df in legs:
        df = df.select(F.lit(step).cast("long").alias("step"), *df.columns)
        out = df if out is None else out.unionByName(df)
    return out


# ------------------------------------------------------------------ oracles

def _union(legs) -> str:
    return "\nUNION ALL\n".join(legs)


def live_sql(spec: PointSpec, where: str | None = None, deletes=(),
             inserts=()) -> str:
    """(pid, <cols>) of the spec's points matching `where`, minus every
    pid in the `deletes` batch SQLs, plus the `inserts` batch rows."""
    cols = ", ".join(("pid", *spec.cols))
    conds = ([where] if where else []) + [
        f"pid NOT IN (SELECT pid FROM ({d}))" for d in deletes]
    base = f"SELECT {cols} FROM ({spec.points_sql()})"
    if conds:
        base += " WHERE " + " AND ".join(conds)
    return _union([base] + [f"SELECT {cols} FROM ({i})" for i in inserts])


def _batch_live_sql(spec: PointSpec, inserts: bool, deletes: bool) -> str:
    return live_sql(spec, deletes=[spec.delete_sql()] if deletes else (),
                    inserts=[spec.insert_sql()] if inserts else ())


def _step_sql(step: int | None) -> str:
    return "" if step is None else f"CAST({step} AS BIGINT) AS step, "


def knn_sql(spec: PointSpec, k: int, qspec: PointSpec | None = None,
            where: str = QUERY, live: str | None = None,
            step: int | None = None) -> str:
    """Brute-force kNN: every query of `qspec` (default: spec) against
    every live point, ranked by (dist_sq, nid)."""
    d2 = " + ".join(f"(p.{c} - q.{c}) * (p.{c} - q.{c})" for c in spec.cols)
    return f"""
SELECT {_step_sql(step)}qid, CAST(rank AS BIGINT) AS rank, nid, dist_sq
FROM (SELECT qid, nid, dist_sq,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dist_sq, nid)
               AS rank
      FROM (SELECT q.qid, p.pid AS nid, {d2} AS dist_sq
            FROM ({(qspec or spec).queries_sql(where=where)}) q
            CROSS JOIN ({live or live_sql(spec)}) p))
WHERE rank <= {k}"""


def _box_pred(d: int) -> str:
    lo = ["bxlo", "bylo"] + [f"blo{j}" for j in range(2, d)]
    hi = ["bxhi", "byhi"] + [f"bhi{j}" for j in range(2, d)]
    return " AND ".join(f"p.{c} BETWEEN b.{l} AND b.{h}"
                        for c, l, h in zip(points.dim_cols(d), lo, hi))


def box_count_sql(spec: PointSpec, boxes, live: str | None = None,
                  step: int | None = None) -> str:
    return f"""
SELECT {_step_sql(step)}b.box_id, count(p.pid) AS cnt
FROM {fixtures.boxes_values_sql_d(boxes, spec.dims)}
LEFT JOIN ({live or live_sql(spec)}) p
  ON {_box_pred(spec.dims)}
GROUP BY b.box_id"""


def box_report_sql(spec: PointSpec, boxes, live: str | None = None) -> str:
    cols = ", ".join(f"p.{c}" for c in spec.cols)
    return f"""
SELECT b.box_id, p.pid, {cols}
FROM {fixtures.boxes_values_sql_d(boxes, spec.dims)}
JOIN ({live or live_sql(spec)}) p
  ON {_box_pred(spec.dims)}"""


def circle_count_sql(spec: PointSpec, circles, live: str | None = None
                     ) -> str:
    ctr = ["cx", "cy"] + [f"ctr{j}" for j in range(2, spec.dims)]
    d2 = " + ".join(f"(p.{c} - c.{m}) * (p.{c} - c.{m})"
                    for c, m in zip(spec.cols, ctr))
    t = "DOUBLE" if spec.f64 else "BIGINT"
    return f"""
SELECT c.circle_id, count(p.pid) AS cnt
FROM {fixtures.circles_values_sql_d(circles, spec.dims)}
LEFT JOIN ({live or live_sql(spec)}) p
  ON {d2} <= CAST(c.r AS {t}) * CAST(c.r AS {t})
GROUP BY c.circle_id"""


# ------------------------------------------------ parameterised index gates

def knn_gate(spec: PointSpec, k: int, qspec: PointSpec | None = None,
             where: str = QUERY, update: bool = False) -> tuple:
    """kNN over the spec's index (after its I1+D1 batches if `update`)
    for the `qspec` sample selected by `where`; returns (query, oracle)."""
    def run(spark, sf_dir):
        idx = _updated_index(spark, sf_dir, spec, update, update)
        q = _frame(spark, sf_dir, (qspec or spec).queries_sql, where)
        return _knn_out(knn_join(idx, q, k))
    live = _batch_live_sql(spec, update, update)
    return run, knn_sql(spec, k, qspec, where, live)


_RANGE_ORACLES = {range_count: box_count_sql, range_report: box_report_sql,
                  circle_count: circle_count_sql}


def range_gate(op, spec: PointSpec, shapes, inserts: bool = False,
               deletes: bool = False) -> tuple:
    """range_count / range_report / circle_count over the spec's index
    (after its I1/D1 batches if asked); returns (query, oracle)."""
    def run(spark, sf_dir):
        return op(_updated_index(spark, sf_dir, spec, inserts, deletes),
                  shapes)
    live = _batch_live_sql(spec, inserts, deletes)
    return run, _RANGE_ORACLES[op](spec, shapes, live)


# -------------------------------------------------------------------- cells

def q_cell_assign(spark, sf_dir) -> DataFrame:
    """B4: vectorized cell-id assignment, aggregated per cell."""
    pts = points.load_points(spark, sf_dir, "uniform")
    return (pts.selectExpr(f"{Grid(GRID_G).cell_sql(['x', 'y'])} AS cell")
            .groupBy("cell").agg(F.count("*").alias("cnt")))


def sql_cell_assign() -> str:
    return (f"SELECT {Grid(GRID_G).duckdb_cell_sql()} AS cell, "
            f"count(*) AS cnt FROM ({UNIFORM.points_sql()}) GROUP BY 1")


def q_index_stats(spark, sf_dir) -> DataFrame:
    """B1-B7 structural check: per-cell live counts out of the built index."""
    idx = index_for(spark, sf_dir, UNIFORM)
    return idx.df.groupBy("cell").agg(F.sum("cnt").alias("cnt"))


# ------------------------------------------- time-sliced streams (H7/H8/H9)

SLIDING = [(t, t) for t in range(1, 10)]  # one slice per step


def _slice_stream(spark, sf_dir, spec: PointSpec, chunks,
                  window: int | None = None):
    """Build over slice 0, then for each (lo, hi) chunk insert slices
    lo..hi and, with a window w, evict slice hi - w; yields (hi, index)
    after every chunk."""
    pts = _frame(spark, sf_dir, spec.points_sql)

    def sl(where):
        return pts.filter(where).select("pid", *spec.cols)

    idx = SpatialIndex.build(spark, sl("slice = 0"), grid=spec.grid)
    for lo, hi in chunks:
        evict = (sl(f"slice = {hi - window}")
                 if window and hi >= window else None)
        idx = idx.update(inserts=sl(f"slice BETWEEN {lo} AND {hi}"),
                         deletes=evict)
        yield hi, idx


def q_sliding_window_count(spark, sf_dir) -> DataFrame:
    """insertOsmByTime analogue: 10 time slices, window length 5 —
    insert slice t, evict slice t-5; final state = slices 5..9."""
    *_, (_, idx) = _slice_stream(spark, sf_dir, VARDEN, SLIDING, 5)
    return range_count(idx, BOXES)


def q_sliding_window_knn(spark, sf_dir) -> DataFrame:
    """insertOsmByTime with the reference's per-slice kNN probe
    (testFramework.h:859-861): after every slice's insert+evict, run
    k=10 kNN on a fixed probe set — proves bound-correctness of the
    kNN seed/prune chain over a 9-generation delta-versioned index
    (each step queries blobs layered by broadcast anti-joins +
    checkpointed deltas, not a fresh build)."""
    probe = _frame(spark, sf_dir, VARDEN.queries_sql, PROBE)
    return _stepped((t, _knn_out(knn_join(idx, probe, 10)))
                    for t, idx in _slice_stream(spark, sf_dir, VARDEN,
                                                SLIDING, 5))


def sql_sliding_window_knn() -> str:
    # window state after step t: slices max(0, t-4)..t
    return _union(
        knn_sql(VARDEN, 10, where=PROBE, step=t, live=live_sql(
            VARDEN, f"slice BETWEEN {max(0, t - 4)} AND {t}"))
        for t in range(1, 10))


def q_incremental_build(spark, sf_dir) -> DataFrame:
    """H7 incrementalBuild: build from slice 0, insert slices 1..9 in
    chunks, then range count — same truth as a bulk build."""
    *_, (_, idx) = _slice_stream(spark, sf_dir, UNIFORM, SLIDING)
    return range_count(idx, BOXES_SMALL)


def q_incremental_delete(spark, sf_dir) -> DataFrame:
    """H7 incrementalDelete: bulk build, then delete slices 0..4 in
    chunks; final live set = slices 5..9."""
    pts = points.load_points(spark, sf_dir, "uniform")
    idx = index_for(spark, sf_dir, UNIFORM)
    for t in range(5):
        idx = idx.update(
            deletes=pts.filter(f"slice = {t}").select("pid", "x", "y"))
    return range_count(idx, BOXES_SMALL)


INCR_CHUNKS = [(1, 3), (4, 6), (7, 9)]


def q_incr_build_and_query(spark, sf_dir) -> DataFrame:
    """H9 incrementalBuildAndQuery (testFramework.h:873-929): build from
    slice 0, insert slices 1..9 in three chunks of three slices each
    (within the reference's own step sizes 0.1-0.5·n, test.cpp:53-74),
    probing k=1 kNN on a fixed query set after each chunk (states after
    slices 3, 6, 9 — the same truth as single-slice stepping, at half
    the per-job latency floors)."""
    probe = _frame(spark, sf_dir, UNIFORM.queries_sql, PROBE)
    return _stepped((t, _knn_out(knn_join(idx, probe, 1)))
                    for t, idx in _slice_stream(spark, sf_dir, UNIFORM,
                                                INCR_CHUNKS))


def sql_incr_build_and_query() -> str:
    return _union(knn_sql(UNIFORM, 1, where=PROBE, step=t,
                          live=live_sql(UNIFORM, f"slice <= {t}"))
                  for _, t in INCR_CHUNKS)


# ------------------------------------------------ H2 ratio sweeps

def sweep_gate(deletes: bool) -> tuple:
    """H2: cumulative insert or delete legs at ratios ~{1e-4,1e-3,1e-2,
    0.1} (tests/test.cpp:55-72); after each leg, range counts over the
    fixture boxes tagged with the leg number. Delete legs overlap
    (nested moduli); repeated deletes of an id are ignored —
    partial-cover semantics, batch_delete.hpp:95-107."""
    batch_sql = points.sweep_delete_sql if deletes else points.sweep_insert_sql
    steps = range(1, len(points.SWEEP_LEGS) + 1)

    def run(spark, sf_dir):
        idx = index_for(spark, sf_dir, UNIFORM)
        legs = []
        for step in steps:
            batch = _frame(spark, sf_dir, batch_sql, step)
            idx = (idx.update(deletes=batch) if deletes
                   else idx.update(inserts=batch))
            legs.append((step, range_count(idx, BOXES_SMALL)))
        return _stepped(legs)

    legs = []
    for step in steps:
        batches = [batch_sql("lineitem", s) for s in range(1, step + 1)]
        live = (live_sql(UNIFORM, deletes=batches) if deletes
                else live_sql(UNIFORM, inserts=batches))
        legs.append(box_count_sql(UNIFORM, BOXES_SMALL, live, step))
    return run, _union(legs)


# ----------------------------------------------------- snapshot round-trip

def q_snapshot_roundtrip(spark, sf_dir) -> DataFrame:
    """Iceberg-semantics persistence gate (catalog.SnapshotStore): full
    commit -> batch insert -> INCREMENTAL commit (only touched buckets
    rewritten) -> load(CURRENT) -> range counts. The counts come from
    the re-read snapshot files, so the gate proves the checkpoint
    round-trip end to end, not just in-memory state."""
    import tempfile
    from ..catalog import SnapshotStore
    # fresh index (not the shared cache): updates must not leak into
    # other gates' cached index
    idx = build_index(spark, sf_dir, UNIFORM)
    store = SnapshotStore(tempfile.mkdtemp(prefix="snapstore-"))
    base = store.commit(idx)
    idx2 = idx.update(inserts=_frame(spark, sf_dir, UNIFORM.insert_sql))
    store.commit(idx2, parent=base)
    loaded = store.load(spark)  # CURRENT
    return range_count(loaded, BOXES_SMALL)


# ------------------------------------------------------- polygon / raster

def q_point_in_polygon(spark, sf_dir) -> DataFrame:
    pts = points.load_points(spark, sf_dir, "uniform").select("pid", "x", "y")
    return point_in_polygon(pts, POLYGONS, grid=Grid(GRID_G))


def q_tile_cells(spark, sf_dir) -> DataFrame:
    return tile_cell_assign(spark, Grid(GRID_G), TILES)


def q_polygon_overlay(spark, sf_dir) -> DataFrame:
    """Convex polygon-polygon overlay join (queries/polygon.py
    polygon_join): SAT over nested exists/forall higher-order
    functions, cell-expand equi-join with reference-point dedup —
    zero Python. Oracle: independent SQL SAT via edge x vertex
    GROUP BY + bool_and/bool_or."""
    return polygon_join(polygons_df(spark, POLY_A, "pa"),
                        polygons_df(spark, POLY_B, "pb"),
                        grid=Grid(GRID_G))


# ------------------------------------------------------------------ DBSCAN

DBSCAN_FILTER = "pid % 23 = 5"   # ~4% subset: keeps the oracle's
# cross-join quadratic term at DuckDB-friendly size
DBSCAN_EPS = 9_000
DBSCAN_MIN_PTS = 6


def q_dbscan(spark, sf_dir) -> DataFrame:
    """Distributed DBSCAN (queries/dbscan.py) over a deterministic
    varden subset — the density distribution with real clusters.
    Deterministic min-label semantics make the full (pid, cluster,
    kind) labeling oracle-able via a DuckDB recursive CTE."""
    from ..queries.dbscan import dbscan
    pts = points.load_points(spark, sf_dir, "varden") \
        .filter(DBSCAN_FILTER).select("pid", "x", "y")
    return dbscan(pts, DBSCAN_EPS, DBSCAN_MIN_PTS)


def sql_dbscan() -> str:
    e2 = DBSCAN_EPS * DBSCAN_EPS
    return f"""
WITH RECURSIVE
p AS (SELECT pid, x, y FROM ({VARDEN.points_sql()}) WHERE {DBSCAN_FILTER}),
e AS (SELECT a.pid AS pa, b.pid AS pb FROM p a JOIN p b
      ON (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= {e2}),
cnt AS (SELECT pa, count(*) AS n FROM e GROUP BY pa),
core AS (SELECT pa AS pid FROM cnt WHERE n >= {DBSCAN_MIN_PTS}),
ce AS (SELECT e.pa AS u, e.pb AS v FROM e
       JOIN core ca ON ca.pid = e.pa
       JOIN core cb ON cb.pid = e.pb
       WHERE e.pa <> e.pb),
r(id, lbl) AS (SELECT pid, pid FROM core
               UNION
               SELECT ce.v, r.lbl FROM r JOIN ce ON r.id = ce.u),
cl AS (SELECT id AS pid, MIN(lbl) AS cluster FROM r GROUP BY id),
border AS (SELECT e.pb AS pid, MIN(cl.cluster) AS cluster
           FROM e
           JOIN core c ON c.pid = e.pa
           JOIN cl ON cl.pid = e.pa
           WHERE e.pb NOT IN (SELECT pid FROM core)
           GROUP BY e.pb)
SELECT p.pid,
       COALESCE(cl.cluster, border.cluster) AS cluster,
       CASE WHEN cl.pid IS NOT NULL THEN 'core'
            WHEN border.pid IS NOT NULL THEN 'border'
            ELSE 'noise' END AS kind
FROM p
LEFT JOIN cl ON cl.pid = p.pid
LEFT JOIN border ON border.pid = p.pid"""


# ----------------------------------------------------- radius distance join

DIST_JOIN_R = 7_000  # ~9 partners/query at sf0.01 density


def _query_and_points(spark, sf_dir) -> tuple:
    q = points.load_query_points(spark, sf_dir, "uniform")
    pts = points.load_points(spark, sf_dir, "uniform").select("pid", "x", "y")
    return q, pts


def q_distance_join(spark, sf_dir) -> DataFrame:
    """Bichromatic radius join (queries/joins.py): the ~1% query sample
    against the full uniform point set, all pairs within DIST_JOIN_R.
    Fully JVM-side (cell-expand + equi-join + codegen filter) — the
    one spatial primitive whose 100 TB plan needs no index blobs and
    no Python at all."""
    q, pts = _query_and_points(spark, sf_dir)
    # grid=None -> r-sized cells (the candidate-blocking unit); the
    # result set is grid-independent, only the false-candidate volume
    # through the filter changes
    return distance_join(q, pts, DIST_JOIN_R,
                         left_id="qid", right_id="pid")


def sql_distance_join() -> str:
    r = DIST_JOIN_R
    return f"""
WITH pts AS ({UNIFORM.points_sql()}),
q AS (SELECT qid, x AS qx, y AS qy FROM ({UNIFORM.queries_sql()}))
SELECT q.qid, p.pid,
       (p.x - q.qx) * (p.x - q.qx) + (p.y - q.qy) * (p.y - q.qy) AS dist_sq
FROM q JOIN pts p
  ON (p.x - q.qx) * (p.x - q.qx) + (p.y - q.qy) * (p.y - q.qy)
     <= {r} * {r}"""


def q_rect_join(spark, sf_dir) -> DataFrame:
    """Rectangle-overlap join (queries/joins.py rect_join): window
    rects derived from the ~1% query sample against per-point extent
    rects over the full set — tile<->region matching, PBSM-style
    reference-point dedup, fully JVM-side. Extents are pure SQL
    arithmetic shared verbatim with the DuckDB oracle."""
    q, pts = _query_and_points(spark, sf_dir)
    lt = q.selectExpr("qid", "x AS x0", "y AS y0",
                      "x + 10000 + (qid % 7) * 5000 AS x1",
                      "y + 10000 + (qid % 5) * 6000 AS y1")
    rt = pts.selectExpr("pid", "x AS x0", "y AS y0",
                        "x + pid % 2000 AS x1", "y + pid % 1900 AS y1")
    # Grid(64): cw ~ 15.6k vs ~25k left extents -> a few cells per left
    # rect, 64x fewer same-cell false candidates than the 64-cell
    # driver grid; result set is grid-independent
    return rect_join(lt, rt, grid=Grid(64),
                     left_id="qid", right_id="pid")


def sql_rect_join() -> str:
    return f"""
WITH lt AS (SELECT qid, qx AS lx0, qy AS ly0,
                   qx + 10000 + (qid % 7) * 5000 AS lx1,
                   qy + 10000 + (qid % 5) * 6000 AS ly1
            FROM (SELECT qid, x AS qx, y AS qy
                  FROM ({UNIFORM.queries_sql()}))),
rt AS (SELECT pid, x AS rx0, y AS ry0, x + pid % 2000 AS rx1,
              y + pid % 1900 AS ry1 FROM ({UNIFORM.points_sql()}))
SELECT lt.qid, rt.pid
FROM lt JOIN rt
  ON lx0 <= rx1 AND rx0 <= lx1 AND ly0 <= ry1 AND ry0 <= ly1"""


KDE_R = 25_000


def q_kernel_density(spark, sf_dir) -> DataFrame:
    """Epanechnikov KDE (queries/joins.py kernel_density): pure-int64
    finite-support density estimate, query sample vs full point set."""
    from ..queries.joins import kernel_density
    return kernel_density(*_query_and_points(spark, sf_dir), KDE_R)


def sql_kernel_density() -> str:
    r2 = KDE_R * KDE_R
    return f"""
WITH q AS (SELECT qid, x AS qx, y AS qy FROM ({UNIFORM.queries_sql()})),
p AS ({UNIFORM.points_sql()})
SELECT q.qid,
       CAST(COALESCE(SUM({r2}::BIGINT
            - ((p.x - q.qx) * (p.x - q.qx)
               + (p.y - q.qy) * (p.y - q.qy))), 0) AS BIGINT) AS kde
FROM q LEFT JOIN p
  ON (p.x - q.qx) * (p.x - q.qx) + (p.y - q.qy) * (p.y - q.qy)
     <= {r2}::BIGINT
GROUP BY q.qid"""


def q_closest_pair(spark, sf_dir) -> DataFrame:
    """Bichromatic closest pair (queries/joins.py closest_pair):
    query sample vs full point set, radius-quadrupling rounds over the
    cell join, deterministic (dist, qid, pid) tie-break."""
    from ..queries.joins import closest_pair
    q, pts = _query_and_points(spark, sf_dir)
    return closest_pair(q, pts, left_id="qid", right_id="pid")


def sql_closest_pair() -> str:
    return f"""
WITH q AS (SELECT qid, x AS qx, y AS qy FROM ({UNIFORM.queries_sql()})),
p AS ({UNIFORM.points_sql()}),
d AS (SELECT q.qid, p.pid,
             (p.x - q.qx) * (p.x - q.qx)
           + (p.y - q.qy) * (p.y - q.qy) AS dist_sq
      FROM q CROSS JOIN p)
SELECT qid, pid, dist_sq FROM d
ORDER BY dist_sq, qid, pid LIMIT 1"""


# ------------------------------------------------------------------ registry

# name -> (query, oracle SQL); dict order is the driver's sweep order
GATES = {
    "cell_assign": (q_cell_assign, sql_cell_assign()),
    # same ground truth as cell_assign, via the index
    "index_stats": (q_index_stats, sql_cell_assign()),
    "range_count": range_gate(range_count, UNIFORM, BOXES),
    # H4 rangeCountFix at reference scale: 10,000 generated rectangles
    # (testFramework.h:617-648) — measures the range path above its
    # per-job latency floor
    "range_count_10k": range_gate(range_count, UNIFORM, BOXES_10K),
    "range_report": range_gate(range_report, UNIFORM, BOXES_SMALL),
    # H5 rangeQueryFix at reference recNum=10000 (testFramework.h:
    # 680-713): materializing range REPORT over 10,000 small rects —
    # exercises the report path's output volume above its per-job
    # latency floor (the count-only 10k gate cannot)
    "range_report_10k": range_gate(range_report, UNIFORM, BOXES_10K_REPORT),
    "circle_count": range_gate(circle_count, UNIFORM, CIRCLES),
    "knn_k1": knn_gate(UNIFORM, 1),
    "knn_k10": knn_gate(UNIFORM, 10),
    "knn_k100": knn_gate(UNIFORM, 100),
    # skew path: variable-density clusters (hot cells + salting)
    "knn_varden": knn_gate(VARDEN, 10),
    # H11: build on uniform, query with varden-derived points
    "knn_ood": knn_gate(UNIFORM, 10, qspec=VARDEN),
    # north-rule skew path, oracle-gated: the salted varden index (see
    # VARDEN_HOT) takes the (cell, salt) fan-out branch instead of the
    # cold cell-keyed cogroup — without this gate the salted query path
    # had pytest coverage only. Queries come from the uniform sample
    # (also keeps the result distinct from knn_varden's). Reference
    # analogue: kdTreeParallel.h's par_do subtree parallelism — one
    # dense subtree never serializes on one worker there either.
    "hot_cell_knn": knn_gate(VARDEN_HOT, 10, qspec=UNIFORM),
    # 3-D kNN: per-cell trees split on (x,y,z) max-stretch, cells key
    # on (x,y,z) — the reference's d=3 configuration
    # (tests/test.cpp:569-617)
    "knn_k10_d3": knn_gate(D3, 10),
    # I1 batch insert -> range counts over the fixture boxes
    "insert_then_count": range_gate(range_count, UNIFORM, BOXES,
                                    inserts=True),
    # D1/D2 batch delete -> range counts
    "delete_then_count": range_gate(range_count, UNIFORM, BOXES,
                                    deletes=True),
    # I1+D1 combined, then kNN k=10 — the tag=2 workload of
    # script/checkCorrect.sh (insert+delete before querying)
    "update_then_knn": knn_gate(UNIFORM, 10, update=True),
    # dimension-generic batch update (I1+D1 at d=3; the reference's
    # batch ops are dim-templated, batch_insert.hpp:60-191) -> kNN k=10
    "update_then_knn_d3": knn_gate(D3, 10, update=True),
    # batch insert+delete then kNN at d=5 — the reference's
    # checkCorrect.sh tag=2 configuration (insert AND delete before
    # querying, at d=5 exactly as script/checkCorrect.sh:3-47 runs it)
    "update_then_knn_d5": knn_gate(D5, 10, update=True),
    "insert_ratio_sweep": sweep_gate(deletes=False),
    "delete_ratio_sweep": sweep_gate(deletes=True),
    "incr_build_and_query": (q_incr_build_and_query,
                             sql_incr_build_and_query()),
    # d=5 configuration (tests/test.cpp:584): per-cell trees split all
    # 5 dims; cell pruning degrades with d (measured in bench via
    # knn_candidates cells-per-query) but stays exact
    "knn_k10_d5": knn_gate(D5, 10),
    # k=100 at d=5 — the reference sweep varies k and d independently
    # (script/checkCorrect.sh, tests/test.cpp:84-96); exercises the
    # large-k super-stats fallback against the high-d candidate path
    "knn_k100_d5": knn_gate(D5, 100),
    # d=16, the reference's max dim config (tests/test.cpp:569-617):
    # cells key on the first three dims, per-cell trees split all 16;
    # the full-d blob bbox keeps phase-2 pruning exact (weak at d=16 by
    # geometry — the audit metric to watch, not a correctness risk)
    "knn_k10_d16": knn_gate(D16, 10),
    # range count at d=5 — reference parity: script/checkCorrect.sh runs
    # queryType 1 (range count) at d=5 over the dim-templated
    # range_count.hpp; cell enumeration keys on the grid dims,
    # classification and the kernel scan use all 5 dims
    "range_count_d5": range_gate(range_count, D5, BOXES_D5),
    # range report at d=5 (queryType 2 of checkCorrect.sh): emits all
    # five coordinate columns per matched point
    "range_report_d5": range_gate(range_report, D5, BOXES_D5),
    # ball count at d=5 (range_count.hpp:99-131 is dim-templated; the
    # checkCorrect.sh sweep varies queryType and d independently): cell
    # enumeration keys on the grid's 4 dims via the ball's bounding box,
    # classification + the kernel scan use the exact 5-d min/max dist²
    "circle_count_d5": range_gate(circle_count, D5, CIRCLES_D5),
    "knn_k10_f64": knn_gate(F64, 10),
    # integer box bounds, double coordinates (inclusive compares on
    # int-valued bounds are the identical predicate in numpy, Spark and
    # DuckDB)
    "range_count_f64": range_gate(range_count, F64, BOXES),
    # coordinates come back DOUBLE, hash-compared bit-for-bit against
    # DuckDB's doubles
    "range_report_f64": range_gate(range_report, F64, BOXES_SMALL),
    # integer centers/radii, double coordinates: dist² is a sum of
    # (sub, mul) chains on bit-identical doubles — IEEE-identical across
    # numpy/Spark/DuckDB because each operand arrives exactly and every
    # op is correctly rounded in the same order
    "circle_count_f64": range_gate(circle_count, F64, CIRCLES),
    # I1+D1 then kNN k=10, float mode — the tag=2 checkCorrect.sh
    # workload over double coordinates (the reference's double test
    # build runs the same insert/delete/query chain)
    "update_then_knn_f64": knn_gate(F64, 10, update=True),
    "snapshot_roundtrip": (q_snapshot_roundtrip, box_count_sql(
        UNIFORM, BOXES_SMALL, live_sql(UNIFORM,
                                       inserts=[UNIFORM.insert_sql()]))),
    "sliding_window_count": (q_sliding_window_count, box_count_sql(
        VARDEN, BOXES, live_sql(VARDEN, "slice >= 5"))),
    "sliding_window_knn": (q_sliding_window_knn, sql_sliding_window_knn()),
    # H10 generate_knn: k=5 adjacency for a deterministic node sample
    # (full self-kNN graph at sf0.01 would need a 3.6e9-pair oracle; the
    # sampled graph exercises the identical engine path)
    "knn_graph": knn_gate(UNIFORM, 5, where=KNN_GRAPH_FILTER),
    "incremental_build": (q_incremental_build,
                          box_count_sql(UNIFORM, BOXES_SMALL)),
    "incremental_delete": (q_incremental_delete, box_count_sql(
        UNIFORM, BOXES_SMALL, live_sql(UNIFORM, "slice >= 5"))),
    "point_in_polygon": (q_point_in_polygon, polygon_join_sql(
        f"SELECT pid, x, y FROM ({UNIFORM.points_sql()})", POLYGONS)),
    "tile_cells": (q_tile_cells, tile_cell_assign_sql(
        Grid(GRID_G), fixtures.tiles_values_sql(TILES))),
    "distance_join": (q_distance_join, sql_distance_join()),
    "rect_join": (q_rect_join, sql_rect_join()),
    "polygon_overlay": (q_polygon_overlay, polygon_join_oracle_sql(
        fixtures.polygon_verts_values_sql(POLY_A, "vva"),
        fixtures.polygon_verts_values_sql(POLY_B, "vvb"))),
    "dbscan": (q_dbscan, sql_dbscan()),
    "kernel_density": (q_kernel_density, sql_kernel_density()),
    "closest_pair": (q_closest_pair, sql_closest_pair()),
}

QUERIES = {name: q for name, (q, _) in GATES.items()}
ORACLES = {name: sql for name, (_, sql) in GATES.items()}
