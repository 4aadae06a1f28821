"""The spatial gates' DuckDB oracle generators against numpy brute force
(Spark-free): each spec's points, batches and query sample are read back
from DuckDB, the live set is rebuilt in pandas, and the generated kNN
and box-count SQL must agree with kdtree_spark.bruteforce."""

import duckdb
import numpy as np
import pandas as pd
import pytest

from kdtree_spark import bruteforce as bf
from kdtree_spark import fixtures
from kdtree_spark.driver_queries import spatial

NO_BATCH = {"d16"}  # insert/delete batches are defined for d <= 5


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duckdb.connect()
    c.sql(f"CREATE VIEW lineitem AS SELECT * FROM "
          f"'{sf_dir}/lineitem.parquet'")
    return c


def test_every_query_has_an_oracle():
    assert set(spatial.QUERIES) == set(spatial.ORACLES)
    assert all(isinstance(s, str) and s.strip()
               for s in spatial.ORACLES.values())


@pytest.mark.parametrize("name", ["uniform", "d3", "d5", "d16", "f64"])
def test_generated_oracles_match_bruteforce(con, name):
    spec = spatial.SPECS[name]
    cols = list(spec.cols)
    dt = np.float64 if spec.f64 else np.int64
    base = con.sql(spec.points_sql()).df()
    update = name not in NO_BATCH
    live = base[["pid", *cols]]
    if update:
        dele = con.sql(spec.delete_sql()).df()
        ins = con.sql(spec.insert_sql()).df()
        assert len(dele) and len(ins)
        live = pd.concat([live[~live.pid.isin(dele.pid)],
                          ins[["pid", *cols]]], ignore_index=True)
    P = live[cols].to_numpy(dt)
    ids = live.pid.to_numpy(np.int64)

    qs = con.sql(spec.queries_sql()).df().sort_values("qid")
    _, oracle = spatial.knn_gate(spec, 10, update=update)
    got = con.sql(oracle).df().sort_values(["qid", "rank"])
    assert got.qid.unique().tolist() == qs.qid.tolist()
    assert (got["rank"].to_numpy().reshape(len(qs), 10)
            == np.arange(1, 11)).all()
    exp_d, exp_i = bf.knn(P, ids, qs[cols].to_numpy(dt), 10)
    np.testing.assert_array_equal(
        got.nid.to_numpy(np.int64).reshape(len(qs), 10), exp_i)
    np.testing.assert_allclose(
        got.dist_sq.to_numpy(np.float64).reshape(len(qs), 10), exp_d,
        rtol=1e-12)

    boxes = (fixtures.gen_boxes(12) if spec.dims == 2
             else fixtures.gen_boxes_d(12, spec.dims))
    cnt = con.sql(spatial.box_count_sql(spec, boxes)).df() \
        .sort_values("box_id")
    B = base[cols].to_numpy(dt)
    exp = bf.range_count(B, np.array([b[1:] for b in boxes], np.int64))
    assert cnt.box_id.tolist() == list(range(len(boxes)))
    assert cnt.cnt.tolist() == exp.tolist()
    assert exp.sum() > 0
