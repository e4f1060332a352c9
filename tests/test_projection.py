"""JL random projection: numpy parity, rounding, distance preservation,
and kNN recall in the reduced space."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from bigvectorbench_spark.operators import projection as pj
from bigvectorbench_spark.operators.knn import knn


@pytest.fixture(scope="module")
def emb(spark):
    from tests.conftest import make_blobs

    # clustered data: nearest neighbors are same-cluster, which a JL
    # projection preserves (iid gaussian has no neighbor structure to keep)
    X = make_blobs(400, 32, centers=12, seed=3)
    return spark.createDataFrame(
        [(i, X[i].tolist()) for i in range(400)], "id bigint, vec array<float>"
    ).cache(), X


def test_expr_matches_numpy(spark, emb):
    df, X = emb
    M = pj.projection_matrix(32, 8, seed=1)
    got = {r["id"]: np.array(r["vec"]) for r in
           pj.project(df, out_dim=8, seed=1).collect()}
    want = X.astype(np.float64) @ M.T
    for i in range(400):
        assert np.allclose(got[i], want[i], atol=1e-9)


def test_rounding_applied(spark, emb):
    df, _ = emb
    raw = {r["id"]: r["vec"] for r in pj.project(df, out_dim=4).collect()}
    rounded = {r["id"]: r["vec"] for r in
               pj.project(df, out_dim=4, round_to=3).collect()}
    assert raw.keys() == rounded.keys()
    for i, v in rounded.items():
        assert v == [round(x, 3) for x in v]
        assert np.allclose(v, raw[i], atol=5e-4 + 1e-12)


def test_distance_preservation_and_knn_recall(spark, emb):
    df, X = emb
    # JL: 32→16 keeps most pairwise structure on gaussian data
    proj = pj.project(df, out_dim=16, seed=1).cache()
    q_full = df.filter("id < 20").select(F.col("id").alias("qid"), "vec")
    q_proj = proj.filter("id < 20").select(F.col("id").alias("qid"), "vec")
    full = knn(df, q_full, k=10, method="expr")
    red = knn(proj, q_proj, k=10, method="expr")
    truth = {r["qid"]: set() for r in full.collect()}
    for r in full.collect():
        truth[r["qid"]].add(r["id"])
    got = {qid: set() for qid in truth}
    for r in red.collect():
        got[r["qid"]].add(r["id"])
    recalls = [len(truth[q] & got[q]) / 10 for q in truth]
    assert np.mean(recalls) >= 0.5  # far above the 10/400 = 2.5% random rate
