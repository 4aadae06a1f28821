"""Global grid — the *top* level of the two-level distributed index.

The reference builds the top of its kd-tree by sampling ~2048 points and
picking 63 median pivots per 6-level round (`build_tree.hpp:49-70`), then
counting-sort-shuffling all points into the 64 buckets
(`build_tree.hpp:84-121`). In Spark, that shuffle IS the top of the tree:
we use a fixed integer grid-cell id over the first two coordinate
dimensions as the partition/shuffle key, and per-cell bounding-box stats
(over ALL dims) as the pruning metadata (the analogue of interior-node
bounding boxes, `utility/box_op.hpp`).

Everything here is pure integer arithmetic so the same cell id is
computable in three places with bit-identical results:
  - a Spark SQL expression (JVM-side, codegen, no UDF),
  - a DuckDB SQL expression (the driver's oracle),
  - numpy (inside pandas UDFs for candidate generation).

Domain: coordinates are int64 in [0, COORD_LIMIT) — matching the
reference's `long` coords in [0, 1e6] (`tests/data_generate.cpp:19,33-42`,
`README.md:125`).
"""

from __future__ import annotations

import numpy as np

COORD_LIMIT = 1_000_000  # exclusive upper bound on generated coords


class Grid:
    """g-per-dim row-major cell grid over [0, COORD_LIMIT)^dims.

    dims = number of GRIDDED coordinate dims (the cell/shuffle key);
    default 2. For d >= 3 point sets a dims=3 grid keys cells on the
    first three coords — the kNN candidate region then prunes in three
    dims instead of two (the reference's top-of-tree splits rotate
    through ALL dims, build_tree.hpp:49-70; a 2-D-only key makes every
    z-slab of a column one cell and high-d kNN over-visits). Cell id is
    row-major: ((c0*g + c1)*g + c2)... — dims=2 reproduces the
    historical cx*g + cy exactly."""

    def __init__(self, g: int, dims: int = 2):
        assert g >= 1 and dims >= 2
        self.g = g
        self.dims = dims
        self.cw = (COORD_LIMIT + g - 1) // g  # cell width, ceil

    @staticmethod
    def for_count(n: int, target_per_cell: int = 8192,
                  dims: int = 2) -> "Grid":
        """Pick a grid size so the average cell holds ~target rows.

        The scale story: at 10^12 rows and target 8k/cell this yields a
        ~11k×11k grid (1.2e8 cells) — cells stay executor-memory-sized
        and the stats table stays a few GB (broadcastable in chunks or
        range-partitioned). At test scale it degrades gracefully to a
        handful of cells.
        """
        cells = max(1, n // max(1, target_per_cell))
        g = max(1, int(np.ceil(cells ** (1.0 / dims))))
        return Grid(g, dims=dims)

    # ---- row-major cell-id algebra (shared by Spark SQL and numpy) --
    def coord_sql(self, cell: str, j: int, g: int | None = None) -> str:
        """SQL expr: the j-th grid coordinate of a row-major cell id."""
        g = self.g if g is None else g
        div = g ** (self.dims - 1 - j)
        s = f"({cell} DIV {div})" if div > 1 else f"({cell})"
        return f"({s} % {g})" if j > 0 else s

    def parent_cell_sql(self, cell: str, child_g: int, fac: int,
                        parent_g: int) -> str:
        """SQL: row-major parent id on a parent_g-per-dim grid, each
        parent covering fac x .. x fac children of a child_g-per-dim
        grid (the pyramid / super-cell coarsening)."""
        expr = f"({self.coord_sql(cell, 0, child_g)} DIV {fac})"
        for j in range(1, self.dims):
            expr = (f"({expr} * {parent_g} "
                    f"+ ({self.coord_sql(cell, j, child_g)} DIV {fac}))")
        return expr

    def child_ranges_sql(self, cell: str, parent_g: int, fac: int,
                         child_g: int) -> list:
        """Per-dim (lo, hi) SQL for the children of a coarse cell on the
        child grid — the `ranges` of explode_cells."""
        out = []
        for j in range(self.dims):
            p = self.coord_sql(cell, j, parent_g)
            out.append((f"{p} * {fac}",
                        f"LEAST({p} * {fac} + {fac - 1}, {child_g - 1})"))
        return out

    def compose_sql(self, coords: list, g: int | None = None) -> str:
        """SQL: row-major cell id from per-dim coordinate exprs."""
        g = self.g if g is None else g
        expr = coords[0]
        for c in coords[1:]:
            expr = f"({expr} * {g} + {c})"
        return expr

    # -- point -> cell and extent -> covered cells (Spark SQL). Int mode
    # divides with DIV; f64 mode floors an IEEE double divide — Spark,
    # DuckDB and numpy floor the SAME correctly-rounded quotient, so
    # the three agree bit-for-bit on every input.
    @staticmethod
    def _div_sql(v: str, cw: int, f64: bool) -> str:
        if f64:
            return f"CAST(FLOOR({v} / CAST({cw} AS DOUBLE)) AS BIGINT)"
        return f"({v} DIV {cw})"

    def cell_sql(self, cols, f64: bool = False) -> str:
        """Row-major home cell of a point over the first `dims`
        coordinate columns (in-domain coords, so no clamp)."""
        assert len(cols) >= self.dims, (cols, self.dims)
        return self.compose_sql([self._div_sql(c, self.cw, f64)
                                 for c in cols[:self.dims]])

    def clamp_sql(self, v: str, level=None, f64: bool = False) -> str:
        """Grid coordinate of coordinate expr `v` on the (g, cw) `level`
        (default: this grid), clamped to [0, g-1] — THE cover rule.
        Monotone, so lo <= hi maps to an ascending in-grid range that
        never aliases; truncating DIV and floor agree under it."""
        g, cw = level or (self.g, self.cw)
        return (f"LEAST(GREATEST({self._div_sql(f'({v})', cw, f64)}, 0), "
                f"{g - 1})")

    def explode_cells(self, df, ranges, out: str, g: int):
        """df with one row per cell of the per-dim inclusive grid-
        coordinate `ranges` [(lo_sql, hi_sql), ...], its row-major id
        (on a g-per-dim grid) in column `out` (replacing any old one)."""
        cols = []
        for j, (lo, hi) in enumerate(ranges):
            df = df.selectExpr(
                "*", f"explode(sequence({lo}, {hi})) AS _c{j}")
            cols.append(f"_c{j}")
        return (df.drop(out)
                .selectExpr("*", f"{self.compose_sql(cols, g)} AS {out}")
                .drop(*cols))

    def cover(self, df, ext, out: str, level=None, f64: bool = False):
        """df with one row per grid cell covered by each row's extent
        `ext` = per-gridded-dim (lo_sql, hi_sql) coordinate exprs, both
        ends clamped (clamp_sql). Off-grid extents land on the boundary
        cells, so callers keep their exact predicate after the join."""
        ranges = [(self.clamp_sql(lo, level, f64),
                   self.clamp_sql(hi, level, f64)) for lo, hi in ext]
        return self.explode_cells(df, ranges, out,
                                  level[0] if level else self.g)

    # -- DuckDB SQL (oracle side)
    def duckdb_cell_sql(self, x: str = "x", y: str = "y") -> str:
        assert self.dims == 2
        return f"(({x} // {self.cw}) * {self.g} + ({y} // {self.cw}))"

    # -- numpy
    def clamp_np(self, v: np.ndarray, f64: bool = False) -> np.ndarray:
        """numpy mirror of clamp_sql on this grid: the clamped grid
        coordinate of coordinates `v` (floor division; under the clamp
        it agrees with Spark's truncating DIV)."""
        q = np.floor(v / self.cw) if f64 else v // self.cw
        return np.clip(q, 0, self.g - 1).astype(np.int64)

    def cell_coord(self, cell: np.ndarray, j: int) -> np.ndarray:
        """j-th grid coordinate of a row-major cell id (numpy)."""
        c = cell // (self.g ** (self.dims - 1 - j))
        return c % self.g if j > 0 else c

    def cell_bounds(self, cell: np.ndarray):
        """Geometric bounds of cells in the first two gridded dims:
        (xlo, ylo, xhi, yhi) inclusive."""
        xlo = self.cell_coord(cell, 0) * self.cw
        ylo = self.cell_coord(cell, 1) * self.cw
        return xlo, ylo, xlo + self.cw - 1, ylo + self.cw - 1
