import contextlib
import os

import numpy as np
import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")

from bigvectorbench_spark import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        "bvb-tests",
        **{
            "spark.sql.shuffle.partitions": "8",
            "spark.ui.enabled": "false",
            "spark.sql.warehouse.dir": "/tmp/bvb-test-warehouse",
        },
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def make_blobs(n, d, centers=10, seed=1):
    """Deterministic gaussian blobs mirroring the reference's random_float
    fixtures (datasets.py:332-340, random_state=1)."""
    rng = np.random.RandomState(seed)
    C = rng.randn(centers, d) * 5
    idx = rng.randint(0, centers, size=n)
    return (C[idx] + rng.randn(n, d)).astype(np.float32)


def make_ties(n, d=16, n_dup=40, n_queries=20, seed=5):
    """Vectors whose distances are exact and tie bit-for-bit: every row has
    four ±1 entries and zeros elsewhere (norm 2), so euclidean, angular and
    PQ ADC arithmetic are exact in float64.  Ids 20, 22, … hold ``n_dup``
    copies of one vector; the first four queries are that vector with one
    sign flipped, so its copies are all nearest at the same distance.  The
    other queries are random rows of the same form (distances take few
    values, so ties at the k-th are routine).  Returns (X, Q) float32."""
    rng = np.random.RandomState(seed)

    def rows(m):
        out = np.zeros((m, d), dtype=np.float32)
        for r in out:
            r[rng.choice(d, 4, replace=False)] = rng.choice([-1.0, 1.0], 4)
        return out

    X, Q = rows(n), rows(n_queries)
    X[20:20 + 2 * n_dup:2] = X[20]
    for i, j in enumerate(np.flatnonzero(X[20])):
        Q[i] = X[20]
        Q[i, j] = -Q[i, j]
    return X, Q


@contextlib.contextmanager
def arrow_batch_rows(spark, n):
    """Arrow kernels see batches of at most ``n`` rows inside the block."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, old)


@pytest.fixture(scope="session")
def vec_fixture(spark):
    """9000/1000 split, d=32 — the random-xs-32-euclidean analog."""
    X = make_blobs(1000, 16, seed=1)
    train = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(900)], "id bigint, vec array<float>"
    ).cache()
    test = spark.createDataFrame(
        [(i, [float(x) for x in X[900 + i]]) for i in range(100)], "qid bigint, vec array<float>"
    ).cache()
    return train, test


def brute_force_knn(X_train, X_test, k, metric="euclidean"):
    """Numpy oracle with the reference's exact formulas (distance.py)."""
    out = []
    for q in X_test:
        if metric == "euclidean":
            d = np.sqrt(((X_train.astype(np.float64) - q.astype(np.float64)) ** 2).sum(axis=1))
        elif metric == "angular":
            a = X_train.astype(np.float64)
            d = 1 - (a @ q.astype(np.float64)) / (np.linalg.norm(a, axis=1) * np.linalg.norm(q))
        elif metric == "hamming":
            d = (X_train != q).mean(axis=1)
        else:
            raise ValueError(metric)
        order = np.lexsort((np.arange(len(d)), d))[:k]
        out.append(order)
    return np.array(out)
