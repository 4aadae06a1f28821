"""End-to-end tests of the distributed index: build -> query, verified
against the brute-force numpy oracle and DuckDB SQL (the same checks the
driver's correctness gate performs)."""

import duckdb
import numpy as np
import pytest

from kdtree_spark import bruteforce as bf
from kdtree_spark import fixtures, points
from kdtree_spark.grid import Grid
from kdtree_spark.index import SpatialIndex
from kdtree_spark.queries.knn import knn_join
from kdtree_spark.queries.ranges import circle_count, range_count, range_report


@pytest.fixture(scope="module", params=["uniform", "varden"])
def built(request, spark, sf_dir):
    dist = request.param
    pts_df = points.load_points(spark, sf_dir, dist).select("pid", "x", "y")
    idx = SpatialIndex.build(spark, pts_df, grid=Grid(4))
    pts_pd = pts_df.toPandas()
    return dist, idx, pts_pd


def duck(sf_dir, sql):
    con = duckdb.connect()
    con.sql(f"CREATE VIEW lineitem AS SELECT * FROM "
            f"'{sf_dir}/lineitem.parquet'")
    return con.sql(sql).df()


def test_build_invariants(built, sf_dir):
    dist, idx, pts_pd = built
    info = idx.validate(expected_n=len(pts_pd))
    assert info["cells"] >= 1
    # per-cell counts match a plain group-by oracle
    g = idx.grid
    oracle = duck(sf_dir, f"""
        SELECT {g.duckdb_cell_sql()} AS cell, count(*) AS cnt
        FROM (SELECT {points.points_select_sql('{0}'.format(dist))} FROM lineitem)
        GROUP BY 1 ORDER BY 1""")
    got = (idx.df.groupBy("cell").sum("cnt").toPandas()
           .sort_values("cell").reset_index(drop=True))
    assert got["cell"].tolist() == oracle["cell"].tolist()
    assert got["sum(cnt)"].tolist() == oracle["cnt"].tolist()


def test_range_count_vs_oracle(built):
    dist, idx, pts_pd = built
    boxes = fixtures.gen_boxes(30)
    got = (range_count(idx, boxes).toPandas()
           .sort_values("box_id").reset_index(drop=True))
    P = pts_pd[["x", "y"]].to_numpy(np.int64)
    exp = bf.range_count(P, np.array([b[1:] for b in boxes], np.int64))
    assert got["cnt"].to_numpy().tolist() == exp.tolist()


def test_range_report_vs_oracle(built):
    dist, idx, pts_pd = built
    boxes = fixtures.gen_boxes(12)
    got = range_report(idx, boxes).toPandas()
    got_set = sorted(zip(got["box_id"], got["pid"], got["x"], got["y"]))
    P = pts_pd[["x", "y"]].to_numpy(np.int64)
    ids = pts_pd["pid"].to_numpy(np.int64)
    exp = bf.range_report(P, ids, np.array([b[1:] for b in boxes], np.int64))
    exp_set = sorted((b, i, p[0], p[1]) for b, p, i in exp)
    assert got_set == exp_set


def test_circle_count_vs_oracle(built):
    dist, idx, pts_pd = built
    circles = fixtures.gen_circles(15)
    got = (circle_count(idx, circles).toPandas()
           .sort_values("circle_id").reset_index(drop=True))
    P = pts_pd[["x", "y"]].to_numpy(np.int64)
    centers = np.array([(c[1], c[2]) for c in circles], np.int64)
    radii = np.array([c[3] for c in circles], np.float64)
    exp = bf.circle_count(P, centers, radii)
    assert got["cnt"].to_numpy().tolist() == exp.tolist()


@pytest.mark.parametrize("k", [1, 10, 100])
def test_knn_vs_oracle(built, spark, sf_dir, k):
    dist, idx, pts_pd = built
    qdf = points.load_query_points(spark, sf_dir, dist)
    qpd = qdf.toPandas().sort_values("qid").reset_index(drop=True)
    got = (knn_join(idx, qdf, k).toPandas()
           .sort_values(["qid", "rank"]).reset_index(drop=True))
    P = pts_pd[["x", "y"]].to_numpy(np.int64)
    ids = pts_pd["pid"].to_numpy(np.int64)
    Q = qpd[["x", "y"]].to_numpy(np.int64)
    gd, gi = bf.knn(P, ids, Q, k)
    rows = []
    for qi, qid in enumerate(qpd["qid"]):
        for r in range(k):
            if np.isfinite(gd[qi, r]):
                rows.append((qid, r + 1, gi[qi, r], int(gd[qi, r])))
    exp = sorted(rows)
    gotrows = sorted(zip(got["qid"], got["rank"], got["nid"], got["dist_sq"]))
    assert gotrows == exp


def test_knn_ood(built, spark, sf_dir):
    """Build on one distribution, query with the other (H11)."""
    dist, idx, pts_pd = built
    other = "varden" if dist == "uniform" else "uniform"
    qdf = points.load_query_points(spark, sf_dir, dist, qdist=other).limit(200)
    qpd = qdf.toPandas()
    got = knn_join(idx, qdf, 10).toPandas()
    P = pts_pd[["x", "y"]].to_numpy(np.int64)
    ids = pts_pd["pid"].to_numpy(np.int64)
    gd, gi = bf.knn(P, ids, qpd[["x", "y"]].to_numpy(np.int64), 10)
    exp = []
    for qi, qid in enumerate(qpd["qid"]):
        for r in range(10):
            if np.isfinite(gd[qi, r]):
                exp.append((qid, r + 1, gi[qi, r], int(gd[qi, r])))
    assert sorted(zip(got["qid"], got["rank"], got["nid"], got["dist_sq"])) \
        == sorted(exp)


def test_update_then_query(built, spark, sf_dir):
    dist, idx, pts_pd = built
    view = points.lineitem_view(spark, sf_dir)
    ins = spark.sql(points.insert_batch_sql(view))
    dele = spark.sql(points.delete_batch_sql(view, dist=dist))
    idx2 = idx.update(inserts=ins, deletes=dele)

    ins_pd = ins.toPandas()
    del_pd = dele.toPandas()
    live = pts_pd[~pts_pd["pid"].isin(set(del_pd["pid"]))]
    P = np.concatenate([live[["x", "y"]].to_numpy(np.int64),
                        ins_pd[["x", "y"]].to_numpy(np.int64)])
    ids = np.concatenate([live["pid"].to_numpy(np.int64),
                          ins_pd["pid"].to_numpy(np.int64)])
    assert idx2.validate()["total"] == len(ids)

    boxes = fixtures.gen_boxes(15)
    got = (range_count(idx2, boxes).toPandas()
           .sort_values("box_id").reset_index(drop=True))
    exp = bf.range_count(P, np.array([b[1:] for b in boxes], np.int64))
    assert got["cnt"].to_numpy().tolist() == exp.tolist()

    qdf = points.load_query_points(spark, sf_dir, dist).limit(100)
    qpd = qdf.toPandas()
    got_k = knn_join(idx2, qdf, 10).toPandas()
    gd, gi = bf.knn(P, ids, qpd[["x", "y"]].to_numpy(np.int64), 10)
    exp_k = []
    for qi, qid in enumerate(qpd["qid"]):
        for r in range(10):
            if np.isfinite(gd[qi, r]):
                exp_k.append((qid, r + 1, gi[qi, r], int(gd[qi, r])))
    assert sorted(zip(got_k["qid"], got_k["rank"], got_k["nid"],
                      got_k["dist_sq"])) == sorted(exp_k)


def test_save_load_roundtrip(built, spark, tmp_path):
    dist, idx, pts_pd = built
    path = str(tmp_path / f"idx_{dist}")
    idx.save(path)
    idx2 = SpatialIndex.load(spark, path)
    assert idx2.validate()["total"] == len(pts_pd)
    boxes = fixtures.gen_boxes(6)
    a = range_count(idx, boxes).toPandas().sort_values("box_id")
    b = range_count(idx2, boxes).toPandas().sort_values("box_id")
    assert a["cnt"].tolist() == b["cnt"].tolist()


def test_knn_d3_vs_bruteforce(spark, sf_dir):
    """d=3: per-cell trees split on all dims; xy cell pruning stays exact."""
    import numpy as np
    from kdtree_spark import points as P
    from kdtree_spark.grid import Grid
    from kdtree_spark.index import SpatialIndex
    from kdtree_spark.queries.knn import knn_join

    pts3 = (P.load_points(spark, sf_dir, dims=3)
            .select("pid", "x", "y", "z"))
    idx = SpatialIndex.build(spark, pts3, grid=Grid(4),
                             coord_cols=("x", "y", "z"))
    q = P.load_query_points(spark, sf_dir, dims=3).limit(20)
    got = (knn_join(idx, q, 5).toPandas()
           .sort_values(["qid", "rank"]).reset_index(drop=True))
    allp = pts3.toPandas()
    m = allp[["x", "y", "z"]].to_numpy(np.int64)
    ids = allp["pid"].to_numpy(np.int64)
    for qid, grp in got.groupby("qid"):
        qrow = allp[allp.pid == qid].iloc[0]
        d2 = ((m - np.array([qrow.x, qrow.y, qrow.z])) ** 2).sum(axis=1)
        order = sorted(range(len(ids)), key=lambda i: (d2[i], ids[i]))[:5]
        assert list(grp.nid) == [ids[i] for i in order], qid
        assert list(grp.dist_sq) == [int(d2[i]) for i in order], qid


def test_knn_d16_vs_bruteforce(spark, sf_dir):
    """d=16 (reference max dim, tests/test.cpp:569-617): grid keys on
    2 dims, trees split all 16; full-d bbox pruning stays exact."""
    import numpy as np
    from kdtree_spark import points as P
    from kdtree_spark.grid import Grid
    from kdtree_spark.index import SpatialIndex
    from kdtree_spark.queries.knn import knn_join

    cols = list(P.dim_cols(16))
    pts16 = P.load_points(spark, sf_dir, dims=16).select("pid", *cols)
    idx = SpatialIndex.build(spark, pts16, grid=Grid(4),
                             coord_cols=tuple(cols))
    q = P.load_query_points(spark, sf_dir, dims=16).limit(15)
    got = (knn_join(idx, q, 5).toPandas()
           .sort_values(["qid", "rank"]).reset_index(drop=True))
    allp = pts16.toPandas()
    m = allp[cols].to_numpy(np.int64)
    ids = allp["pid"].to_numpy(np.int64)
    qp = q.toPandas()
    for qid, grp in got.groupby("qid"):
        qrow = qp[qp.qid == qid].iloc[0]
        d2 = ((m - qrow[cols].to_numpy(np.int64)) ** 2).sum(axis=1)
        order = sorted(range(len(ids)), key=lambda i: (d2[i], ids[i]))[:5]
        assert list(grp.nid) == [ids[i] for i in order], qid
        assert list(grp.dist_sq) == [int(d2[i]) for i in order], qid
