"""The one grid-cover rule: Grid.cover (Spark SQL) against its numpy
mirror Grid.clamp_np on off-grid and negative extents, and
tile_cell_assign against a brute-force cell/tile intersection."""

import itertools

import numpy as np
import pandas as pd
import pytest

from kdtree_spark.grid import Grid
from kdtree_spark.queries.polygon import tile_cell_assign


@pytest.mark.parametrize("f64", [False, True])
@pytest.mark.parametrize("g", [1, 4, 16])
def test_cover_matches_numpy_mirror(spark, g, f64):
    grid = Grid(g)
    rng = np.random.default_rng(7 + g)
    n = 60
    lo = rng.integers(-400_000, 1_500_000, (n, 2))
    hi = lo + rng.integers(0, 300_000, (n, 2))
    if f64:
        lo = lo + rng.random((n, 2))
        hi = hi + rng.random((n, 2))
    pdf = pd.DataFrame({"id": np.arange(n), "x0": lo[:, 0], "y0": lo[:, 1],
                        "x1": hi[:, 0], "y1": hi[:, 1]})
    got = sorted(tuple(r) for r in grid.cover(
        spark.createDataFrame(pdf), [("x0", "x1"), ("y0", "y1")], "cell",
        f64=f64).select("id", "cell").collect())
    exp = []
    cx0, cy0 = grid.clamp_np(lo[:, 0], f64), grid.clamp_np(lo[:, 1], f64)
    cx1, cy1 = grid.clamp_np(hi[:, 0], f64), grid.clamp_np(hi[:, 1], f64)
    for i in range(n):
        for cx, cy in itertools.product(range(cx0[i], cx1[i] + 1),
                                        range(cy0[i], cy1[i] + 1)):
            exp.append((i, cx * g + cy))
    assert got == sorted(exp)
    assert all(0 <= c < g * g for _, c in got)


def test_tile_cell_assign_off_grid(spark):
    """Every returned cell intersects its tile and lies on the grid; a
    tile past the grid's last column yields no rows."""
    grid = Grid(16)
    cw, g = grid.cw, grid.g
    tiles = [(0, 20 * cw, 3 * cw, 21 * cw, 4 * cw),      # off-grid in x
             (1, -2 * cw, -5, cw + 1, 10),               # partly negative
             (2, 3 * cw + 7, 5 * cw, 4 * cw + 2, 6 * cw - 1),
             (3, 15 * cw - 1, 15 * cw, 40 * cw, 40 * cw)]  # past the edge
    got = sorted(tuple(r) for r in tile_cell_assign(spark, grid, tiles)
                 .collect())
    exp = sorted((t, cx * g + cy) for t, x0, y0, x1, y1 in tiles
                 for cx in range(g) for cy in range(g)
                 if cx * cw <= x1 and x0 <= cx * cw + cw - 1
                 and cy * cw <= y1 and y0 <= cy * cw + cw - 1)
    assert got == exp
    assert all(0 <= c < g * g for _, c in got)
    assert not [c for t, c in got if t == 0]
