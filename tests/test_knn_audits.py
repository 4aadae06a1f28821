"""kNN audit functions (knn_scan_stats, knn_shipped_blobs) on a salted
index: output shape, per-query work floors and blob-shipping bounds."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from kdtree_spark import points
from kdtree_spark.grid import Grid
from kdtree_spark.index import SpatialIndex
from kdtree_spark.queries.knn import knn_scan_stats, knn_shipped_blobs

K = 10


@pytest.fixture(scope="module")
def salted(spark, sf_dir):
    pts = (points.load_points(spark, sf_dir, "varden")
           .select("pid", "x", "y").toPandas())
    idx = SpatialIndex.build(spark, spark.createDataFrame(pts),
                             grid=Grid(4), hot_cell_cap=128)
    assert idx.cell_stats().agg(F.max("maxsalt")).collect()[0][0] >= 1
    yield idx, pts[["x", "y"]].to_numpy(np.int64)
    idx.unpersist()


def _queries(spark, q):
    return spark.createDataFrame(pd.DataFrame(
        {"qid": np.arange(len(q), dtype=np.int64),
         "x": q[:, 0], "y": q[:, 1]}))


def test_knn_scan_stats_shape_and_floors(spark, salted):
    idx, P = salted
    rng = np.random.default_rng(5)
    q = np.concatenate([P[:12], rng.integers(0, 1_000_000, (12, 2))])
    got = knn_scan_stats(idx, _queries(spark, q), K).toPandas()
    assert list(got.columns) == ["qid", "scanned", "leaves"]
    assert sorted(got["qid"]) == list(range(len(q)))
    assert (got["scanned"] >= K).all()
    assert (got["leaves"] >= 1).all()


def test_knn_shipped_blobs_bounds(spark, salted):
    idx, P = salted
    rng = np.random.default_rng(6)
    spread = rng.integers(0, 1_000_000, (24, 2))
    # the 16 data points nearest the first one: a spatially local batch
    local = P[np.argsort(((P - P[0]) ** 2).sum(axis=1))[:16]]
    got = {}
    for name, q in (("spread", spread), ("local", local)):
        got[name] = g = knn_shipped_blobs(idx, _queries(spark, q), K)
        assert g["shipped_rows"] <= g["index_rows"]
        assert g["shipped_bytes"] <= g["index_bytes"]
    assert 0 < got["local"]["shipped_rows"] < got["local"]["index_rows"]
