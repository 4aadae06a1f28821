"""Seeded input generator for the benchmark.

Every point set, query batch, box batch and insert batch is a pure
function of (row id, seed, stream): `spark.range` supplies the ids and
Spark's `xxhash64` scrambles them, so the same seed gives the same
inputs on any machine and at any parallelism. Streams keep the
coordinates of different inputs independent. Nothing here calls the
engine's own generators (`points.synth_points` takes no seed); the
engine only ever receives the DataFrames and arrays made here.

Coordinates live in the engine's integer domain [0, 1_000_000).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession

DOMAIN = 1_000_000

# stream ids: one per independent hash draw
S_X, S_Y, S_PICK, S_CLUSTER, S_CX, S_CY, S_DX, S_DY = range(1, 9)
S_BOX = 20

# range-box width brackets (small / medium / large), the same size
# classes as the engine's fixtures: boxes hold roughly n^(1/4), n^(1/2)
# and n^(3/4) points of a uniform set
BOX_BRACKETS = ((2_000, 12_000), (20_000, 90_000), (150_000, 450_000))

# varden clusters: CLUSTERS clusters on a LATTICE x LATTICE grid of
# slots, each centre jittered by up to +-JITTER inside its slot, so the
# clusters never overlap and every seed gives the same density
# structure. Cluster 0 is hot: it takes HOT_SHARE_PERMILLE of the
# points within HOT_SIGMA of a centre snapped to the middle of an index
# grid cell (cell width passed in), so it lands in one cell. The other
# clusters share the rest evenly, with half-widths cycling through
# WIDE_SIGMAS.
LATTICE = 8
CLUSTERS = LATTICE * LATTICE
JITTER = 25_000
HOT_SHARE_PERMILLE = 500
HOT_SIGMA = 300
WIDE_SIGMAS = (1_000, 10_000, 40_000)


def _h(seed: int, stream: int, col: str = "id") -> str:
    return f"xxhash64({col}, {int(seed)}L, {int(stream)})"


def _u(seed: int, stream: int, m, col: str = "id") -> str:
    """SQL: hash-uniform integer in [0, m); m is a number or an SQL
    expression."""
    return f"pmod({_h(seed, stream, col)}, {m})"


def uniform_sql(seed: int) -> tuple[str, str]:
    return _u(seed, S_X, DOMAIN), _u(seed, S_Y, DOMAIN)


def varden_sql(seed: int, cell_width: int, hot: bool = True
               ) -> tuple[str, str, str]:
    """(cluster, x, y) SQL of the clustered ('varden') distribution;
    x and y read the cluster as column `_c`. hot=False draws only from
    the wide clusters (the same clusters, without the hot one)."""
    pick = _u(seed, S_PICK, 1000)
    hot_cut = HOT_SHARE_PERMILLE if hot else 0
    cl = (f"(CASE WHEN {pick} < {hot_cut} THEN 0 "
          f"ELSE 1 + {_u(seed, S_CLUSTER, CLUSTERS - 1)} END)")
    sig = (f"(CASE WHEN _c = 0 THEN {HOT_SIGMA} "
           + " ".join(f"WHEN _c % 3 = {j} THEN {s}"
                      for j, s in enumerate(WIDE_SIGMAS[:-1]))
           + f" ELSE {WIDE_SIGMAS[-1]} END)")
    slot = DOMAIN // LATTICE
    cw = int(cell_width)
    out = []
    for axis, (s_c, s_d) in enumerate(((S_CX, S_DX), (S_CY, S_DY))):
        lattice = "_c DIV {0}".format(LATTICE) if axis == 0 \
            else "_c % {0}".format(LATTICE)
        raw = (f"(({lattice}) * {slot} + {slot // 2} - {JITTER} "
               f"+ {_u(seed, s_c, 2 * JITTER + 1, '_c')})")
        centre = (f"(CASE WHEN _c = 0 "
                  f"THEN ({raw} DIV {cw}) * {cw} + {cw // 2} ELSE {raw} END)")
        off = f"({_u(seed, s_d, f'2 * {sig} + 1')} - {sig})"
        out.append(f"GREATEST(0, LEAST({DOMAIN - 1}, {centre} + {off}))")
    return cl, out[0], out[1]


def points(spark: SparkSession, start: int, n: int, seed: int,
           dist: str = "uniform", cell_width: int = 1,
           id_col: str = "pid") -> DataFrame:
    """(id_col, x, y) for ids [start, start + n); ids double as pids,
    so every batch drawn from disjoint id ranges has distinct pids."""
    rng = spark.range(start, start + n)
    if dist == "uniform":
        x, y = uniform_sql(seed)
        return rng.selectExpr(f"id AS {id_col}", f"{x} AS x", f"{y} AS y")
    if dist in ("varden", "varden_wide"):
        cl, x, y = varden_sql(seed, cell_width, hot=dist == "varden")
        return (rng.selectExpr("id", f"{cl} AS _c")
                .selectExpr(f"id AS {id_col}", f"{x} AS x", f"{y} AS y"))
    raise ValueError(f"unknown distribution {dist!r}")


def boxes(spark: SparkSession, n: int, seed: int, stream: int,
          classes: tuple = (0, 1, 2)) -> np.ndarray:
    """(n, 5) int64 array of inclusive boxes (box_id, xlo, ylo, xhi,
    yhi), cycling through the given size classes."""
    ncls = len(classes)
    wlo = "CASE " + " ".join(f"WHEN id % {ncls} = {j} THEN {BOX_BRACKETS[c][0]}"
                             for j, c in enumerate(classes)) + " END"
    whi = "CASE " + " ".join(f"WHEN id % {ncls} = {j} THEN {BOX_BRACKETS[c][1]}"
                             for j, c in enumerate(classes)) + " END"
    s = S_BOX + 4 * stream
    df = (spark.range(n)
          .selectExpr("id", f"{wlo} AS wlo", f"{whi} AS whi")
          .selectExpr("id",
                      f"wlo + {_u(seed, s, 'whi - wlo')} AS w",
                      f"wlo + {_u(seed, s + 1, 'whi - wlo')} AS h")
          .selectExpr("id AS box_id",
                      f"{_u(seed, s + 2, f'{DOMAIN} - w')} AS xlo",
                      f"{_u(seed, s + 3, f'{DOMAIN} - h')} AS ylo", "w", "h")
          .selectExpr("box_id", "xlo", "ylo", "xlo + w AS xhi",
                      "ylo + h AS yhi"))
    pdf = df.toPandas().sort_values("box_id")
    return pdf[["box_id", "xlo", "ylo", "xhi", "yhi"]].to_numpy(np.int64)


def collect_xy(df: DataFrame, id_col: str = "pid"):
    """(ids, pts) numpy arrays of a generated (id, x, y) frame."""
    pdf = df.toPandas()
    return (pdf[id_col].to_numpy(np.int64),
            pdf[["x", "y"]].to_numpy(np.int64))
