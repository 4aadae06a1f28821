"""Point-in-polygon join + raster-tile<->cell assignment.

No reference counterpart (BASELINE.json adds these on top of the kd-tree
suite); they reuse the same cell-join/box-pruning skeleton.

Point-in-polygon: convex CCW polygons become a conjunction of integer
half-plane predicates — pure Spark SQL expressions, whole-stage
codegen'd, no UDF. The polygon's bbox is a leading conjunct so Catalyst
pushes it into the parquet scan (min/max pruning); at index level the
bbox also prunes cells. Small polygon sets broadcast naturally (they are
literals in the plan).

Raster assignment: a tile's covered cell ids are two integer ranges —
`Grid.cover` JVM-side, no UDF; for in-domain tiles the same cells as
the DuckDB oracle's generate_series/unnest.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..fixtures import polygon_bbox, polygon_pred_sql
from ..grid import Grid
from .joins import bbox_pairs

BROADCAST_CELL_CAP = 1_000_000  # max enumerated (polygon, cell) rows to
# pin as the broadcast join side (~50 MB); beyond it AQE decides


def point_in_polygon(points: DataFrame, polygons,
                     grid: Grid | None = None) -> DataFrame:
    """points: (pid, x, y); polygons: [(poly_id, [(x,y),...])] (convex CCW).

    -> (poly_id, pid, x, y): every point inside each polygon (inclusive
    of edges). ONE scan, cell-indexed: each polygon's bbox expands to
    its covered grid cells SPARK-SIDE (`Grid.cover`, exactly like
    tile_cell_assign — the driver ships only one tiny row per
    polygon, never O(covered cells), so a domain-sized polygon over a
    1e8-cell grid costs the driver nothing); the join is an equi-join
    on the cell id, and the half-plane conjunction is a JVM-side
    `forall` over edge structs. The polygon-cell side carries an
    explicit broadcast hint ONLY while its exact enumerated row count
    (known driver-side from the bboxes) stays under
    BROADCAST_CELL_CAP — at test scale Catalyst's size-based choice
    happily broadcasts the tiny points parquet instead, which is
    exactly backwards at 10^12 points; above the cap (domain-sized
    polygons over a fine grid would enumerate O(g²) rows each) the
    hint is withheld and AQE picks shuffle vs broadcast from observed
    sizes — never a nested loop either way. At 10^12 points the cell
    equi-join prunes to the polygons' cells (partition pruning when
    points are stored cell-partitioned)."""
    spark = points.sparkSession
    grid = grid or Grid(8)
    assert grid.dims == 2, "point_in_polygon is planar (2-D grids only)"
    rows = []
    for poly_id, verts in polygons:
        x0, y0, x1, y1 = polygon_bbox(verts)
        k = len(verts)
        edges = [(int(verts[j][0]), int(verts[j][1]),
                  int(verts[(j + 1) % k][0] - verts[j][0]),
                  int(verts[(j + 1) % k][1] - verts[j][1]))
                 for j in range(k)]
        rows.append((int(poly_id), int(x0), int(y0), int(x1), int(y1),
                     edges))
    pdf = spark.createDataFrame(
        rows, "poly_id long, px0 long, py0 long, px1 long, "
              "py1 long, edges array<struct<ax:long, ay:long, dx:long, "
              "dy:long>>")
    cells = grid.cover(pdf, [("px0", "px1"), ("py0", "py1")], "cell")
    pts = points.selectExpr("pid", "x", "y",
                            f"{grid.cell_sql(['x', 'y'])} AS cell")
    # exact enumerated (polygon, cell) row count, from the numpy mirror
    # of the cover's clamp — O(#polygons) driver work
    b = np.array([r[1:5] for r in rows], np.int64).reshape(-1, 4)
    n_cells = int(((grid.clamp_np(b[:, 2]) - grid.clamp_np(b[:, 0]) + 1)
                   * (grid.clamp_np(b[:, 3]) - grid.clamp_np(b[:, 1]) + 1)
                   ).sum())
    # pin the polygon-cell side as broadcast so the point table never
    # shuffles — but only while that side provably fits an executor
    # (~50 MB at ~48 B/row); beyond the cap, withhold the hint and let
    # AQE plan from observed sizes (see docstring)
    cells_side = (F.broadcast(cells) if n_cells <= BROADCAST_CELL_CAP
                  else cells)
    j = (pts.join(cells_side, "cell")
         .filter((F.col("x") >= F.col("px0")) & (F.col("x") <= F.col("px1"))
                 & (F.col("y") >= F.col("py0"))
                 & (F.col("y") <= F.col("py1"))))
    inside = F.expr(
        "forall(edges, e -> e.dx * (y - e.ay) - e.dy * (x - e.ax) >= 0)")
    return j.filter(inside).select("poly_id", "pid", "x", "y")


def polygon_join_sql(table_points_sql: str, polygons) -> str:
    """DuckDB oracle: same predicates over the same derived points."""
    selects = []
    for poly_id, verts in polygons:
        x0, y0, x1, y1 = polygon_bbox(verts)
        pred = polygon_pred_sql(verts, "x", "y")
        selects.append(
            f"SELECT {poly_id} AS poly_id, pid, x, y FROM "
            f"({table_points_sql}) WHERE x >= {x0} AND x <= {x1} "
            f"AND y >= {y0} AND y <= {y1} AND {pred}")
    return " UNION ALL ".join(selects)


def tile_cell_assign(spark: SparkSession, grid: Grid, tiles) -> DataFrame:
    """tiles: [(tile_id, x0, y0, x1, y1)] -> (tile_id, cell).

    Every grid cell whose geometric extent intersects the tile.
    """
    tdf = spark.createDataFrame(
        [(int(t), int(a), int(b), int(c), int(d)) for t, a, b, c, d in tiles],
        "tile_id long, tx0 long, ty0 long, tx1 long, ty1 long")
    # the clamped cover's cells all intersect the tile iff the tile
    # meets the grid's extent; an off-grid tile covers no cell
    hi = grid.g * grid.cw - 1
    on_grid = F.expr(f"tx1 >= 0 AND tx0 <= {hi} "
                     f"AND ty1 >= 0 AND ty0 <= {hi}")
    ext = [("tx0", "tx1"), ("ty0", "ty1")]
    return (grid.cover(tdf.filter(on_grid), ext, "cell")
            .select("tile_id", "cell"))


def tile_cell_assign_sql(grid: Grid, tiles_values_sql: str) -> str:
    """DuckDB oracle for tile_cell_assign (generate_series + unnest)."""
    cw, g = grid.cw, grid.g
    return f"""
SELECT tile_id, cx * {g} + cy AS cell
FROM (
  SELECT tile_id,
         unnest(generate_series(tx0 // {cw}, LEAST(tx1 // {cw}, {g - 1}))) AS cx,
         ty0, ty1
  FROM {tiles_values_sql}
) tt, LATERAL (
  SELECT unnest(generate_series(ty0 // {cw}, LEAST(ty1 // {cw}, {g - 1}))) AS cy
) yy
"""


# ------------------------------------------------- polygon-polygon overlay

def polygons_df(spark: SparkSession, polygons, id_col: str = "poly_id"
                ) -> DataFrame:
    """[(poly_id, [(x,y), ...])] -> DataFrame (id_col, verts) with verts
    an array<struct<x,y>> in CCW ring order."""
    rows = [(int(pid), [(int(x), int(y)) for x, y in verts])
            for pid, verts in polygons]
    return spark.createDataFrame(
        rows, f"{id_col} long, verts array<struct<x: long, y: long>>")


def _sep_sql(averts: str, bverts: str) -> str:
    """Separating-axis test, one direction: TRUE iff some edge of
    `averts` (CCW ring) has EVERY vertex of `bverts` strictly on its
    right — pure Spark SQL higher-order functions, no UDF."""
    nxt = (f"element_at({averts}, CAST((i + 1) % size({averts}) AS INT)"
           f" + 1)")
    return (f"exists(transform({averts}, (v, i) -> "
            f"struct(v.x AS ax, v.y AS ay, "
            f"{nxt}.x - v.x AS dx, {nxt}.y - v.y AS dy)), "
            f"e -> forall({bverts}, w -> "
            f"e.dx * (w.y - e.ay) - e.dy * (w.x - e.ax) < 0))")


def polygon_join(left: DataFrame, right: DataFrame,
                 grid: Grid | None = None,
                 left_id: str = "pa", right_id: str = "pb") -> DataFrame:
    """Convex-polygon overlay join: left (left_id, verts) x right
    (right_id, verts) -> (left_id, right_id) for every intersecting
    pair (shared boundary points count). Completes the overlay family
    next to point-in-polygon and rect_join.

    Semantics: exact separating-axis theorem for STRICTLY convex CCW
    integer rings — a pair is disjoint iff some edge normal of either
    polygon separates them; all arithmetic is int64 cross products, so
    Spark and the SQL oracle agree bit-for-bit.

    Physical plan (the 100 TB shape, same family as rect_join): each
    side expands its vertex-ring bbox to covered grid cells
    (`Grid.cover`), one hash equi-join on the cell id, reference-point
    duplicate avoidance on the bbox-intersection min corner
    (joins.bbox_pairs), then the SAT predicate as nested `exists/forall`
    higher-order functions — zero Python, no broadcast requirement,
    AQE-splittable on the cell key.
    """
    def side(df, idc):
        return df.select(
            F.col(idc), F.col("verts").alias(f"_{idc}_verts"),
            *[F.expr(f"array_{m}(transform(verts, v -> v.{a}))")
              .alias(f"_{idc}_{a}{e}")
              for m, e in (("min", 0), ("max", 1)) for a in ("x", "y")])

    la, rb = f"_{left_id}_verts", f"_{right_id}_verts"
    intersects = F.expr(
        f"NOT ({_sep_sql(la, rb)} OR {_sep_sql(rb, la)})")
    return (bbox_pairs(side(left, left_id), side(right, right_id),
                       left_id, right_id, grid or Grid(16))
            .filter(intersects)
            .select(left_id, right_id))


def polygon_join_oracle_sql(averts_values: str, bverts_values: str) -> str:
    """DuckDB oracle: pure SAT via edge x vertex GROUP BY + bool_and /
    bool_or — standard SQL, no lambdas, no spatial extension.
    averts/bverts are fixtures.polygon_verts_values_sql renderings."""
    return f"""
WITH va AS (SELECT poly_id, vid, CAST(x AS BIGINT) AS x,
                   CAST(y AS BIGINT) AS y FROM {averts_values}),
vb AS (SELECT poly_id, vid, CAST(x AS BIGINT) AS x,
              CAST(y AS BIGINT) AS y FROM {bverts_values}),
na AS (SELECT poly_id, COUNT(*) AS n FROM va GROUP BY poly_id),
nb AS (SELECT poly_id, COUNT(*) AS n FROM vb GROUP BY poly_id),
ea AS (SELECT v1.poly_id, v1.vid, v1.x AS ax, v1.y AS ay,
              v2.x - v1.x AS dx, v2.y - v1.y AS dy
       FROM va v1
       JOIN na ON na.poly_id = v1.poly_id
       JOIN va v2 ON v2.poly_id = v1.poly_id
              AND v2.vid = (v1.vid + 1) % na.n),
eb AS (SELECT v1.poly_id, v1.vid, v1.x AS ax, v1.y AS ay,
              v2.x - v1.x AS dx, v2.y - v1.y AS dy
       FROM vb v1
       JOIN nb ON nb.poly_id = v1.poly_id
       JOIN vb v2 ON v2.poly_id = v1.poly_id
              AND v2.vid = (v1.vid + 1) % nb.n),
asep AS (
  SELECT pa, pb, bool_or(allright) AS s
  FROM (SELECT e.poly_id AS pa, w.poly_id AS pb, e.vid,
               bool_and(e.dx * (w.y - e.ay)
                        - e.dy * (w.x - e.ax) < 0) AS allright
        FROM ea e CROSS JOIN vb w
        GROUP BY e.poly_id, w.poly_id, e.vid)
  GROUP BY pa, pb),
bsep AS (
  SELECT pa, pb, bool_or(allright) AS s
  FROM (SELECT w.poly_id AS pa, e.poly_id AS pb, e.vid,
               bool_and(e.dx * (w.y - e.ay)
                        - e.dy * (w.x - e.ax) < 0) AS allright
        FROM eb e CROSS JOIN va w
        GROUP BY w.poly_id, e.poly_id, e.vid)
  GROUP BY pa, pb)
SELECT asep.pa, asep.pb
FROM asep JOIN bsep ON asep.pa = bsep.pa AND asep.pb = bsep.pb
WHERE NOT asep.s AND NOT bsep.s"""
