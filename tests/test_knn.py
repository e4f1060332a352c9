"""Exact kNN operator tests: both physical paths agree with a numpy oracle
implementing the reference's brute-force semantics
(/root/reference/bigvectorbench/bruteforce/module.py:162-213)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from bigvectorbench_spark.operators import knn as knn_ops
from tests.conftest import arrow_batch_rows, brute_force_knn, make_blobs, make_ties


@pytest.fixture(scope="module")
def data(spark):
    X = make_blobs(600, 16, seed=1)
    Xtr, Xte = X[:500], X[500:520]
    train = spark.createDataFrame(
        [(i, [float(x) for x in Xtr[i]]) for i in range(len(Xtr))],
        "id bigint, vec array<float>",
    ).repartition(4).cache()
    test = spark.createDataFrame(
        [(i, [float(x) for x in Xte[i]]) for i in range(len(Xte))],
        "qid bigint, vec array<float>",
    ).cache()
    return Xtr, Xte, train, test


@pytest.fixture(scope="module")
def tie_data(spark):
    """Duplicates tied at the k-th distance, >k of them per 32-row batch
    (ids stay in partition order) and spread over several batches."""
    Xtr, Xte = make_ties(500)
    train = spark.createDataFrame(
        [(i, [float(x) for x in Xtr[i]]) for i in range(len(Xtr))],
        "id bigint, vec array<float>",
    ).cache()
    test = spark.createDataFrame(
        [(i, [float(x) for x in Xte[i]]) for i in range(len(Xte))],
        "qid bigint, vec array<float>",
    ).cache()
    return Xtr, Xte, train, test


@pytest.mark.parametrize(
    "method,corpus",
    [("expr", "data"), ("gemm", "data"), ("expr", "tie_data"), ("gemm", "tie_data")],
    ids=["expr", "gemm", "expr-ties", "gemm-ties"])
@pytest.mark.parametrize("metric", ["euclidean", "angular"])
def test_knn_matches_numpy_oracle(request, method, corpus, metric):
    Xtr, Xte, train, test = request.getfixturevalue(corpus)
    k = 10
    res = knn_ops.knn(train, test, k=k, metric=metric, method=method)
    with arrow_batch_rows(train.sparkSession, 32):
        rows = res.orderBy("qid", "rank").collect()
    got = {qid: [r["id"] for r in rs] for qid, rs in _group(rows).items()}
    expect = brute_force_knn(Xtr, Xte, k, metric)
    for qid in range(len(Xte)):
        assert got[qid] == list(expect[qid]), f"qid={qid} method={method} metric={metric}"


def test_knn_paths_agree_on_distances(data):
    _, _, train, test = data
    a = knn_ops.knn(train, test, k=5, method="expr").orderBy("qid", "rank").collect()
    b = knn_ops.knn(train, test, k=5, method="gemm").orderBy("qid", "rank").collect()
    assert [(r["qid"], r["id"]) for r in a] == [(r["qid"], r["id"]) for r in b]
    assert np.allclose([r["dist"] for r in a], [r["dist"] for r in b], atol=1e-9)


def test_knn_pre_filter(data):
    Xtr, Xte, train, test = data
    res = knn_ops.knn(train.withColumn("lab", F.col("id") % 2), test, k=5, pre_filter="lab = 0")
    ids = [r["id"] for r in res.collect()]
    assert ids and all(i % 2 == 0 for i in ids)


def test_hamming_knn(spark):
    rng = np.random.RandomState(3)
    B = rng.rand(80, 16) > 0.5
    train = spark.createDataFrame(
        [(i, [bool(b) for b in B[i]]) for i in range(60)], "id bigint, vec array<boolean>"
    )
    test = spark.createDataFrame(
        [(i, [bool(b) for b in B[60 + i]]) for i in range(20)], "qid bigint, vec array<boolean>"
    )
    res = knn_ops.knn(train, test, k=5, metric="hamming", method="expr")
    expect = brute_force_knn(B[:60], B[60:], 5, "hamming")
    got = _group(res.orderBy("qid", "rank").collect())
    for qid in range(20):
        assert [r["id"] for r in got[qid]] == list(expect[qid])


def test_jaccard_knn_validity(spark):
    train = spark.createDataFrame(
        [(0, [1, 2, 3]), (1, [3, 4]), (2, [99])], "id bigint, vec array<int>"
    )
    test = spark.createDataFrame([(0, [1, 2, 3, 4])], "qid bigint, vec array<int>")
    res = knn_ops.knn(train, test, k=3, metric="jaccard").collect()
    # id=2 has no overlap -> distance 1 -> dropped (distance.py:38)
    assert sorted(r["id"] for r in res) == [0, 1]
    assert res[0]["id"] == 0  # 3/4 overlap ranks first


def test_dim_mismatch_raises(spark):
    t = spark.createDataFrame([(0, [1.0, 2.0, 3.0])], "id bigint, vec array<float>")
    q = spark.createDataFrame([(0, [1.0, 2.0])], "qid bigint, vec array<float>")
    with pytest.raises(ValueError, match="dimension mismatch"):
        knn_ops.knn(t, q, k=1)


def test_ragged_queries_raise(spark):
    """The GEMM path checks widths on the query matrix it collects."""
    t = spark.createDataFrame([(0, [1.0, 2.0])], "id bigint, vec array<float>")
    q = spark.createDataFrame([(0, [1.0, 2.0]), (1, [1.0])], "qid bigint, vec array<float>")
    with pytest.raises(ValueError):
        knn_ops.knn(t, q, k=1)


def test_uniqueness_assertion(data):
    _, _, train, test = data
    res = knn_ops.knn(train, test, k=5)
    knn_ops.assert_unique_candidates(res)


def _group(rows):
    out = {}
    for r in rows:
        out.setdefault(r["qid"], []).append(r)
    return out


def test_jaccard_sparse_matches_expr(spark):
    rng = np.random.RandomState(5)
    sets = [sorted(set(rng.randint(0, 40, size=rng.randint(3, 15)).tolist()))
            for _ in range(80)]
    train = spark.createDataFrame(
        [(i, [int(x) for x in sets[i]]) for i in range(60)], "id bigint, vec array<int>")
    test = spark.createDataFrame(
        [(i, [int(x) for x in sets[60 + i]]) for i in range(20)], "qid bigint, vec array<int>")
    a = knn_ops.knn(train, test, k=5, metric="jaccard", method="expr")
    b = knn_ops.knn(train, test, k=5, metric="jaccard", method="sparse")
    ra = [(r["qid"], r["id"], round(r["dist"], 9), r["rank"])
          for r in a.orderBy("qid", "rank").collect()]
    rb = [(r["qid"], r["id"], round(r["dist"], 9), r["rank"])
          for r in b.orderBy("qid", "rank").collect()]
    assert ra == rb
