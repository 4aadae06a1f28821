"""Distributed exact kNN join (Q1/Q2/Q3 + H3 of SURVEY §2).

The reference answers each kNN query by descending one in-memory tree,
visiting the sibling subtree only when its bounding-box min-distance
beats the current kth-best (`query_op/nn_search.hpp:83-126`). Across a
cluster that sibling-pruning becomes *cell* pruning:

  phase 1  PROBE-SAMPLE seed bound: each index blob carries a ~1024-pt
           deterministic live sample (localtree.probe_sample); queries
           cogroup with ONLY their distinct home cells' samples
           (broadcast semi-join) and take the kth smallest distance² to
           the pooled sample — a VALID upper bound ub on the kth
           distance, tight within a (cell/sample)^(1/d) radius factor
           in any d. Sample bytes are ~1-10% of blob bytes and scale
           with the batch's home-cell set, never with index size; full
           blobs never cross Arrow for bound-seeding. Queries the
           samples cannot bound (empty home cell, k above the pooled
           sample) fall back to a prefix-sum window over the <= 4096-
           row broadcast super-cell stats (index.super_stats): blocks
           ordered by farthest-corner distance², cumulative live count
           >= k -> bound. Only an index with < k live points total
           leaves ub = inf.
  phase 2  candidate (query, cell) pairs, fully Spark-side: each query
           geometrically enumerates the grid cells inside its ub-radius
           square (pure numpy on the regular grid — no stats broadcast,
           work proportional to output), then an equi-join on `cell`
           against the cluster-resident cell-stats table refines with
           the data-bbox min-distance² <= ub test
           (p2b_min_distance analogue, nn_search.hpp:22-35) and drops
           empty cells. Queries whose radius covers > ENUM_CAP cells
           (or ub = inf) instead broadcast-join the super-cell stats,
           keep super cells within ub, and explode only those into
           their fine children — never an O(#queries x #cells) plan.
  phase 3  candidates shuffle to their cells in ONE cogroup round;
           the blob side is PRUNED FIRST by a broadcast semi-join on
           the distinct candidate cells (the same pattern update() uses
           for touched cells), so the bytes crossing the Arrow hop
           scale with candidate cells, not index size; then per-blob
           batched tree search with ub as the prune bound -> local
           top-k per cell
  phase 4  global top-k: queries that enumerated exactly one candidate
           cell (fin0) keep their kernel ranks as final; the rest take
           min-k over per-cell top-k's via a window on (dist², nid) —
           deterministic tie-break identical to the DuckDB oracle's
           ORDER BY

The reference searches the child holding the query first
(nn_search.hpp:107-125). A two-stage home-cell-first phase 3 scanned
13-27% fewer points but ran 15-25% slower: the extra cogroup barrier
costs more than the scans it saves at ~8k-point blobs.

Exactness: any true neighbour at distance d <= true-kth <= ub lies in a
cell whose bbox min-dist <= ub, so phase 2 never drops it; phase 3's
per-cell top-k keeps everything that can reach the global top-k.

Distances are squared L2 on int64 coords — exact in float64 (< 2^53),
emitted as BIGINT so oracle hashes match bit-for-bit.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..index import SpatialIndex, stats_cols
from ..localtree import LocalKDTree
from .skew import pruned_blob_sides, scan_blobs


def _group_knn(qpts: np.ndarray, blobs, k: int, ub: np.ndarray | None,
               stats: dict | None = None, tighten: bool | None = None):
    """Best-k over every blob of one cell group; returns (dist2, ids)."""
    m = qpts.shape[0]
    best_d = best_i = None
    bound = None if ub is None else np.asarray(ub, np.float64).copy()
    for blob in blobs:
        tree = LocalKDTree.from_bytes(blob)
        d, i = tree.knn(qpts, k, ub=bound, stats=stats, tighten=tighten)
        if best_d is None:
            # knn() rows are (dist², id)-sorted with (inf, -1) padding
            # at the end — for the first (and most often only) blob the
            # result IS the running best; no merge sort needed
            best_d, best_i = d, i
        else:
            cat_d = np.concatenate([best_d, d], axis=1)
            cat_i = np.concatenate([best_i, i], axis=1)
            ordr = np.lexsort((cat_i, cat_d), axis=1)[:, :k]
            rows = np.arange(m)[:, None]
            best_d = cat_d[rows, ordr]
            best_i = cat_i[rows, ordr]
        if bound is not None:
            bound = np.minimum(bound, best_d[:, k - 1])
    if best_d is None:
        best_d = np.full((m, k), np.inf)
        best_i = np.full((m, k), -1, np.int64)
    return best_d, best_i


ENUM_CAP = 4096  # max geometrically-enumerated cells per query; beyond
                 # this (or ub = inf) the query takes the super-cell path


def _bbox_exprs(cc: list, lo_cols: list, hi_cols: list):
    """(mind2, maxd2) Spark expressions: squared L2 from the point in
    columns `cc` to the nearest / farthest corner of the bbox in
    (lo_cols, hi_cols). Exact in float64 for int64 coords < 2^20 per
    dim (diffs < 2^21, squares < 2^42, d <= 16 sums < 2^46) — identical
    to the numpy kernels bit-for-bit, whole-stage-codegen JVM-side."""
    mind2 = maxd2 = None
    for c, lo, hi in zip(cc, lo_cols, hi_cols):
        mn = F.pow(F.greatest(F.col(lo) - F.col(c),
                              F.col(c) - F.col(hi), F.lit(0)), 2)
        # farthest corner: per-dim max(q - lo, hi - q) is >= 0 when lo <= hi
        mx = F.pow(F.greatest(F.col(c) - F.col(lo),
                              F.col(hi) - F.col(c)), 2)
        mind2 = mn if mind2 is None else mind2 + mn
        maxd2 = mx if maxd2 is None else maxd2 + mx
    return mind2, maxd2


def _cdt(index: SpatialIndex):
    return np.float64 if index.float_coords else np.int64


def _coord_schema(index: SpatialIndex, cc: list) -> str:
    t = "double" if index.float_coords else "long"
    return ", ".join(f"{c} {t}" for c in cc)


PROBE_POOL_CAP = 65536       # max pooled probe points per cell group
# (a backstop for extreme salted cells: per-query bound cost is one
# descent + one block scan regardless of pool size; only the one-off
# pool-tree build grows with it)


def _enum_rows(q: list, ub: np.ndarray, grid, fmode: bool):
    """Vectorized candidate-cell enumeration on the regular grid: for
    each query row i with finite ub[i], every grid cell in the cube of
    half-width floor(sqrt(ub))+1 around the query point; rows whose
    cube exceeds ENUM_CAP cells (or ub = inf) get one sentinel row with
    cell = -1 (the super-cell path). Returns (rows_i, cells, fin0):
    int indices into the input rows, the cell id per output row, and a
    single-candidate flag — True iff the query enumerated EXACTLY one
    cell, in which case that cell's kernel ranks are globally final
    (the cell is the query's non-empty home cell, distance 0 <= ub, so
    it always survives the stats join) and the merge window can be
    bypassed without ever counting candidates per query. Pure
    arithmetic — no metadata needed; work proportional to output."""
    g, gd = grid.g, grid.dims
    n = len(ub)
    finite = np.isfinite(ub)
    # +1 guards the (theoretical) downward rounding of sqrt at the
    # boundary; over-coverage is corrected by the bbox join
    if fmode:
        r = np.zeros(n)
        r[finite] = np.sqrt(ub[finite]) + 1.0
    else:
        r = np.zeros(n, np.int64)
        r[finite] = np.floor(np.sqrt(ub[finite])).astype(np.int64) + 1
    # the cube's clamped per-dim cell ranges (the numpy mirror of
    # Grid.cover, so float cells floor exactly like Grid.cell_sql)
    c0 = [grid.clamp_np(qj - r, fmode) for qj in q]
    c1 = [grid.clamp_np(qj + r, fmode) for qj in q]
    nper = [h - l + 1 for l, h in zip(c0, c1)]
    ncand = nper[0].copy()
    for nj in nper[1:]:
        ncand *= nj
    small = finite & (ncand <= ENUM_CAP)
    idx = np.flatnonzero(small)
    counts = ncand[idx]
    total = int(counts.sum())
    # flat row-major enumeration of each query's per-dim block
    qrep = np.repeat(idx, counts)
    starts = np.zeros(len(idx), np.int64)
    if len(idx):
        starts[1:] = np.cumsum(counts)[:-1]
    within = np.arange(total, dtype=np.int64) - np.repeat(starts, counts)
    # mixed-radix decode, last dim fastest (row-major id)
    cells = np.zeros(total, np.int64)
    rem = within
    for j in range(gd - 1, -1, -1):
        nj = np.repeat(nper[j][idx], counts)
        cj = rem % nj + np.repeat(c0[j][idx], counts)
        rem = rem // nj
        cells += cj * (g ** (gd - 1 - j))
    big = np.flatnonzero(~small)
    rows_i = np.concatenate([qrep, big])
    cellcol = np.concatenate([cells, np.full(len(big), -1, np.int64)])
    fin0 = np.concatenate([np.repeat(counts == 1, counts),
                           np.zeros(len(big), bool)])
    return rows_i, cellcol, fin0


def _seed_enum(index: SpatialIndex, queries: DataFrame, cc: list, k: int
               ) -> DataFrame:
    """Fused phases 1+2 (kernel side): (qid, coords, ub, cell) rows out
    of ONE probe cogroup.

    Phase 1 — a VALID kth-distance² upper bound per query from the home
    cell's probe samples (index.probes): the kth smallest distance² to
    the pooled live sample upper-bounds the true kth for any d, within
    a (cell/sample)^(1/d) radius factor. Only the probe arrays of the
    batch's distinct home cells cross Arrow (broadcast semi-join) —
    ~1-10% of blob bytes, once per job.

    Phase 2 is fused into the same pandas kernel: bounded queries
    enumerate their candidate cells (_enum_rows) before leaving the
    cogroup, so the bounded hot path pays no second Python/Arrow hop
    (the round-4 phase profile measured the seed cogroup and the
    separate enumeration pass at ~1 s of stage floor each at gate
    scale). Sentinels: cell = -1 -> enum cube exceeded ENUM_CAP (super-
    cell path refines it); cell = -2 -> the samples could not bound the
    query (home cell empty, or k above the pooled sample) — the
    prefix-sum fallback over the broadcast super-cell stats computes ub
    and a mapInPandas pass enumerates (rare: only empty-home or
    k > pool queries)."""
    d = len(cc)
    cdt = _cdt(index)
    coord_schema = _coord_schema(index, cc)
    grid = index.grid
    gd = grid.dims
    fmode = index.float_coords
    home = queries.selectExpr(
        "qid", *cc, f"{grid.cell_sql(cc, index.float_coords)} AS cell")
    probes = index.probes().join(
        F.broadcast(home.select("cell").distinct()), "cell", "semi")
    out_schema = (f"qid long, {coord_schema}, ub double, cell long, "
                  f"fin0 boolean")
    # guard columns derived from the declared schema so they cannot
    # drift apart (the r5 fusion once widened the schema but not the
    # guard, crashing the probes-only-key branch)
    out_cols = [f.split()[0] for f in out_schema.split(", ")]

    def probe_enum(key, qpdf: pd.DataFrame, ppdf: pd.DataFrame
                   ) -> pd.DataFrame:
        if len(qpdf) == 0:
            return pd.DataFrame(columns=out_cols)
        # -1.0 = unbounded (NOT NaN: pandas NaN becomes SQL NULL
        # through the Arrow hop and would slip every filter on ub)
        ub = np.full(len(qpdf), -1.0)
        if len(ppdf):
            pool = np.concatenate([
                np.asarray(a, cdt).reshape(-1, d) for a in ppdf["probe"]])
            if len(pool) > PROBE_POOL_CAP:  # salted cells pool many
                pool = pool[::-(-len(pool) // PROBE_POOL_CAP)]
            P = len(pool)
            if P >= k:
                # one tiny tree over the pool, then the block-scan
                # bound kernel: per query a descent plus one
                # >=max(2k,128)-point block scan — ~8x fewer flops than
                # a full-pool distance matrix at P=1024, with the same
                # bound quality (the enclosing sample block holds the
                # query's nearest sample points)
                ptree = LocalKDTree.build(
                    pool, np.arange(P, dtype=np.int64))
                b = ptree.knn_bound(qpdf[cc].to_numpy(cdt), k)
                ub = np.where(np.isfinite(b), b, -1.0)
        bounded = ub >= 0
        bidx = np.flatnonzero(bounded)
        q = [qpdf[cc[j]].to_numpy(cdt)[bidx] for j in range(gd)]
        rows_b, cells_b, fin_b = _enum_rows(q, ub[bidx], grid, fmode)
        needy = np.flatnonzero(~bounded)
        rows_i = np.concatenate([bidx[rows_b], needy])
        cellcol = np.concatenate(
            [cells_b, np.full(len(needy), -2, np.int64)])
        out = {"qid": qpdf["qid"].to_numpy(np.int64)[rows_i]}
        for c in cc:
            out[c] = qpdf[c].to_numpy(cdt)[rows_i]
        out["ub"] = ub[rows_i]
        out["cell"] = cellcol
        out["fin0"] = np.concatenate([fin_b, np.zeros(len(needy), bool)])
        return pd.DataFrame(out)

    # the bounded rows and the needy fallback below both re-read this;
    # a lazy checkpoint runs the probe cogroup exactly once
    return (home.groupby("cell")
            .cogroup(probes.groupby("cell"))
            .applyInPandas(probe_enum, out_schema)
            .localCheckpoint(eager=False))


def _super_prefix_ub(index: SpatialIndex, needy: DataFrame, cc: list,
                     k: int) -> DataFrame:
    """Fallback bound for queries the probe samples cannot bound:
    super-cell prefix-sum — blocks ordered by farthest-corner dist²;
    the first prefix whose live counts reach k holds k points all
    within that maxd2 -> valid bound. Enumeration is TOTAL (every super
    cell), so ub = inf only when the index has < k live points."""
    sup = index.super_stats()
    _, maxd2_s = _bbox_exprs(cc, *stats_cols(len(cc)))
    wq = Window.partitionBy("qid")
    wcum = (wq.orderBy(F.col("maxd2").asc(), F.col("scell").asc())
            .rowsBetween(Window.unboundedPreceding, 0))
    return (needy.crossJoin(F.broadcast(sup))
            .withColumn("maxd2", maxd2_s)
            .withColumn("cum", F.sum("ccnt").over(wcum))
            .groupBy("qid", *cc)
            .agg(F.coalesce(
                F.min(F.when(F.col("cum") >= k, F.col("maxd2"))),
                F.lit(float("inf"))).alias("ub")))


def _candidate_cells(index: SpatialIndex, enum: DataFrame, cc: list
                     ) -> DataFrame:
    """Phase 2 (refinement side): (qid, coords, ub, cell, maxsalt)
    candidate pairs from the fused enumeration rows.

    Enumerated rows (cell >= 0) equi-join on `cell` with the cell-stats
    table to (a) drop empty cells and (b) keep only cells whose
    data-bbox min-dist² <= ub — the same <= test the reference's
    p2b_min_distance makes, so equal-distance candidates survive for
    the (dist, id) tie-break. Sentinel rows (cell = -1: cube exceeded
    ENUM_CAP, or ub = inf) broadcast-join the <= 4096-row super-cell
    stats instead: super cells within ub explode into their S^dims
    fine children, which the fine stats join then prunes — work scales
    with the query's true candidate region, never with total cell
    count."""
    grid = index.grid
    stats = index.cell_stats()
    # fine and super-cell stats share these column names
    mind2, _ = _bbox_exprs(cc, *stats_cols(len(cc)))
    # fin0 is the enumeration-time single-candidate flag (see
    # _enum_rows) consumed by knn_join's merge bypass
    keep = ["qid", *cc, "ub", "cell", "maxsalt", "fin0"]

    near_out = (enum.filter(F.col("cell") >= 0).join(stats, "cell")
                .filter(mind2 <= F.col("ub")).select(*keep))

    # super-cell path: bounded by 4096 broadcast rows per query, then
    # exploded only where the data-bbox can reach the query's bound
    far = enum.filter(F.col("cell") < 0).drop("cell")
    sup = index.super_stats()
    S, sg = index.super_grid()
    fsup = (far.crossJoin(F.broadcast(sup))
            .filter(mind2 <= F.col("ub"))
            .select("qid", *cc, "ub", "fin0", "scell"))
    children = grid.explode_cells(
        fsup, grid.child_ranges_sql("scell", sg, S, grid.g), "cell", grid.g)
    far_out = (children.join(stats, "cell")
               .filter(mind2 <= F.col("ub")).select(*keep))
    return near_out.unionByName(far_out)


def knn_candidates(index: SpatialIndex, queries: DataFrame, k: int
                   ) -> DataFrame:
    """Phases 1+2: (qid, coords, ub, cell, maxsalt) candidate pairs.
    Exposed separately so bench can audit pruning quality (candidate
    cells per query — the reference's visited-node counters analogue,
    testFramework.h:505-517)."""
    cc = list(index.coord_cols)
    coord_schema = _coord_schema(index, cc)
    fused = _seed_enum(index, queries, cc, k)
    enum = fused.filter(F.col("cell") >= -1)
    needy = fused.filter(F.col("cell") == -2).drop("ub", "cell")
    needy_ub = _super_prefix_ub(index, needy, cc, k)

    # rare leg (empty home cell / k above the pooled sample): enumerate
    # with the shared numpy kernel in a mapInPandas pass
    grid = index.grid
    gd = grid.dims
    fmode = index.float_coords
    cdt = _cdt(index)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            q = [pdf[cc[j]].to_numpy(cdt) for j in range(gd)]
            ub = pdf["ub"].to_numpy(np.float64)
            rows_i, cells, fin0 = _enum_rows(q, ub, grid, fmode)
            out = {"qid": pdf["qid"].to_numpy(np.int64)[rows_i]}
            for c in cc:
                out[c] = pdf[c].to_numpy(cdt)[rows_i]
            out["ub"] = ub[rows_i]
            out["cell"] = cells
            # needy queries had an EMPTY home cell: their one enumerated
            # cell is not guaranteed to survive the stats join, so they
            # always merge through the window
            out["fin0"] = np.zeros(len(rows_i), bool)
            yield pd.DataFrame(out)

    needy_enum = needy_ub.mapInPandas(
        gen,
        f"qid long, {coord_schema}, ub double, cell long, fin0 boolean")
    return _candidate_cells(index, enum.unionByName(needy_enum), cc)


def _cell_knn_maker(cc: list, cdt, k: int):
    """Phase-3 kernel factory for knn_join.

    allow_fin=True on cold (one group per cell) cogroups: their kernel
    ranks are exact within the group, so a row is final when its
    query's `fin0` flag says the cell was its only candidate. Hot
    (per-blob, skew.scan_blobs) groups never emit fin rows: per-blob
    searches lose cross-blob bound tightening, which the exact merge
    absorbs. Cold groups also force the per-blob block-scan bound
    tighten."""
    def make_cell_knn(allow_fin: bool):
        def cell_knn(key, qpdf: pd.DataFrame, ipdf: pd.DataFrame
                     ) -> pd.DataFrame:
            if len(qpdf) == 0 or len(ipdf) == 0:
                return pd.DataFrame(
                    columns=["qid", "nid", "dist_sq", "rank", "fin"])
            qpts = qpdf[cc].to_numpy(cdt)
            ub = qpdf["ub"].to_numpy(np.float64)
            d, i = _group_knn(qpts, ipdf["blob"], k, ub,
                              tighten=True if allow_fin else None)
            m = len(qpdf)
            qid = np.repeat(qpdf["qid"].to_numpy(np.int64), k)
            rank = np.tile(np.arange(1, k + 1, dtype=np.int32), m)
            row_fin = (qpdf["fin0"].to_numpy(bool) if allow_fin
                       else np.zeros(m, bool))
            fin = np.repeat(row_fin, k)
            dd = d.ravel()
            ii = i.ravel()
            ok = np.isfinite(dd)
            return pd.DataFrame({"qid": qid[ok], "nid": ii[ok],
                                 "dist_sq": dd[ok], "rank": rank[ok],
                                 "fin": fin[ok]})
        return cell_knn
    return make_cell_knn


def knn_join(index: SpatialIndex, queries: DataFrame, k: int) -> DataFrame:
    """queries: (qid long, <coord cols> long) -> (qid, rank, nid, dist_sq).

    d >= 2 supported: distances use all coord dims; the cell-level bbox
    pruning (phase 2) uses only the grid dims — a lower bound on the
    full-d distance, so exactness is preserved for any d.

    Phase 3: all candidate cells scan concurrently in ONE cogroup
    round. Queries whose enumeration had exactly one candidate cell
    (fin0, ~85% on uniform data; their home cell's ranks are globally
    final, see _enum_rows) take their kernel-emitted ranks and skip the
    merge window; no per-query candidate count is computed. Queries
    whose extra enumerated cells drop in the stats join (~15% at d=2)
    conservatively take the merge window — same results."""
    cc = list(index.coord_cols)
    # the cold/hot split and the blob semi-joins consume the candidate
    # set several times; checkpoint the (small, O(queries x
    # cells-per-query)) candidates so phases 1+2 run once, not once per
    # consumer (blocks are freed by the ContextCleaner once the result
    # is no longer referenced). LAZY: an eager checkpoint blocks the
    # driver on a dedicated materialization job (~1 s of the round-4
    # phase profile's stage floor); lazy folds the materialization into
    # the first consumer job with identical plan-truncation semantics
    # (the logical plan becomes a LogicalRDD either way, so the blob
    # semi-joins never see index.df lineage).
    cand = knn_candidates(index, queries, k).localCheckpoint(eager=False)
    cdt = _cdt(index)
    maker = _cell_knn_maker(cc, cdt, k)
    out_schema = "qid long, nid long, dist_sq double, rank int, fin boolean"

    local = scan_blobs(index, cand, maker(True), maker(False), out_schema) \
        .localCheckpoint(eager=False)
    done = local.filter(F.col("fin"))
    w = Window.partitionBy("qid").orderBy(F.col("dist_sq").asc(),
                                          F.col("nid").asc())
    merged = (local.filter(~F.col("fin"))
              .withColumn("rank", F.row_number().over(w))
              .filter(F.col("rank") <= k))
    dist = (F.col("dist_sq") if index.float_coords
            else F.col("dist_sq").cast("long"))
    return (done.unionByName(merged)
            .select("qid", "rank", "nid", dist.alias("dist_sq")))


def knn_shipped_blobs(index: SpatialIndex, queries: DataFrame, k: int
                      ) -> dict:
    """Bench/scale audit: how many blob rows (and bytes) a kNN job
    ships through the Arrow cogroup vs the whole index — evidence that
    phase 3's semi-join prunes blob shipping to the candidate set."""
    cand = knn_candidates(index, queries, k).localCheckpoint(eager=True)
    _, _, cold_blobs, hblobs = pruned_blob_sides(index, cand)
    shipped = cold_blobs.unionByName(hblobs)
    srow = shipped.agg(
        F.count("*").alias("rows"),
        F.sum(F.length("blob")).alias("bytes")).collect()[0]
    trow = index.df.agg(
        F.count("*").alias("rows"),
        F.sum(F.length("blob")).alias("bytes")).collect()[0]
    return {"shipped_rows": int(srow["rows"] or 0),
            "shipped_bytes": int(srow["bytes"] or 0),
            "index_rows": int(trow["rows"] or 0),
            "index_bytes": int(trow["bytes"] or 0)}


def knn_scan_stats(index: SpatialIndex, queries: DataFrame, k: int
                   ) -> DataFrame:
    """Per-query work counters for the exact kNN join: (qid, scanned,
    leaves) — points distance-compared and leaf blocks visited across
    all candidate cells (phase-3 work only; the phase-1 seed bound is
    metadata arithmetic and scans nothing). This is the bench-side
    analogue of the reference's visited-node kNN audit
    (tests/testFramework.h:505-517, knn.csv last column); it reruns the
    search with counting on, so it is for audits, not the hot path."""
    cc = list(index.coord_cols)
    cand = knn_candidates(index, queries, k).localCheckpoint(eager=True)

    cdt = _cdt(index)

    def make_cell_count(allow_fin: bool):
        # mirror knn_join's tighten flags (cold forces the block-scan
        # tighten; its scanned points are counted via knn_bound's stats
        # hook, so the audit reflects ALL distance comparisons)
        def cell_count(key, qpdf: pd.DataFrame, ipdf: pd.DataFrame
                       ) -> pd.DataFrame:
            if len(qpdf) == 0 or len(ipdf) == 0:
                return pd.DataFrame(columns=["qid", "scanned", "leaves"])
            qpts = qpdf[cc].to_numpy(cdt)
            ub = qpdf["ub"].to_numpy(np.float64)
            st: dict = {}
            _group_knn(qpts, ipdf["blob"], k, ub, stats=st,
                       tighten=True if allow_fin else None)
            return pd.DataFrame({"qid": qpdf["qid"].to_numpy(np.int64),
                                 "scanned": st["scanned"],
                                 "leaves": st["leaves"]})
        return cell_count

    per_cell = scan_blobs(index, cand, make_cell_count(True),
                          make_cell_count(False),
                          "qid long, scanned long, leaves long")
    return (per_cell.groupBy("qid")
            .agg(F.sum("scanned").alias("scanned"),
                 F.sum("leaves").alias("leaves")))
