"""OPQ: rotation learning, kernel parity, and the it-actually-helps pin."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from bigvectorbench_spark.operators.knn import knn
from bigvectorbench_spark.operators.opq import ROUND_TO, OPQIndex, opq_fit_numpy
from bigvectorbench_spark.operators.pq import PQIndex
from tests.conftest import make_blobs


def _vec_df(spark, X, id_name="id"):
    return spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(len(X))],
        f"{id_name} bigint, vec array<float>")


def _correlated(n, d=16, seed=31):
    """Anisotropic, cross-correlated data — the case OPQ exists for: blob
    structure pushed through a fixed skew so variance straddles the
    contiguous subspace boundaries PQ cuts at."""
    rng = np.random.RandomState(seed)
    A = np.eye(d) + 0.9 * rng.randn(d, d) / np.sqrt(d)
    S = np.diag(np.linspace(2.0, 0.2, d))
    return (make_blobs(n, d, seed=seed) @ (S @ A)).astype(np.float32)


def test_fit_rotation_is_orthogonal_and_deterministic():
    X = _correlated(400).astype(np.float64)
    R1, B1 = opq_fit_numpy(X, m=4, ksub=8, iters=3, seed=1)
    R2, B2 = opq_fit_numpy(X, m=4, ksub=8, iters=3, seed=1)
    np.testing.assert_array_equal(R1, R2)
    np.testing.assert_array_equal(B1, B2)
    np.testing.assert_allclose(R1 @ R1.T, np.eye(16), atol=1e-10)


def _anisotropic(n, d=16, seed=31):
    """Variance concentrated in a few global directions, misaligned with
    every contiguous subspace — the spectrum shape (PCA-like decay) where
    rotation buys the most (Ge et al. §4 'GIST' regime)."""
    rng = np.random.RandomState(seed)
    Q, _ = np.linalg.qr(rng.randn(d, d))
    return rng.randn(n, d) @ np.diag(np.linspace(3.0, 0.05, d)) @ Q


def test_fit_reduces_quantization_error_vs_pq():
    """The OPQ objective: rotated-space reconstruction error must beat the
    unrotated PQ fit on correlated data (Ge et al. Table 1 behavior)."""
    X = _anisotropic(600)
    m, ksub = 4, 16

    def mse(Xs, books, dsub):
        err = 0.0
        for j in range(m):
            S = Xs[:, j * dsub:(j + 1) * dsub]
            c2 = (books[j] * books[j]).sum(axis=1)
            d2 = (S * S).sum(1)[:, None] - 2.0 * (S @ books[j].T) + c2[None, :]
            err += np.maximum(d2.min(axis=1), 0).sum()
        return err / len(Xs)

    R, books = opq_fit_numpy(X, m=m, ksub=ksub, iters=4, seed=1)
    _, books_pq = opq_fit_numpy(X, m=m, ksub=ksub, iters=0, seed=1)  # R = I
    assert mse(X @ R, books, 4) < 0.8 * mse(X, books_pq, 4)


def test_rotate_kernel_matches_numpy(spark):
    X = _correlated(120)
    df = _vec_df(spark, X)
    idx = OPQIndex.fit(df, m=4, ksub=8, iters=2, sort_col="id")
    got = {r["id"]: np.array(r["rvec"]) for r in
           idx.rotate(df).select("id", "rvec").collect()}
    want = np.round(X.astype(np.float64) @ idx.R, ROUND_TO)
    for i in range(len(X)):
        np.testing.assert_array_equal(got[i], want[i], err_msg=f"row {i}")


def test_search_exact_at_full_overfetch(spark):
    """Orthogonal rotation preserves L2: with the candidate stage covering
    the corpus, OPQ refine IS exact kNN in the original space."""
    X = _correlated(150)
    tdf = _vec_df(spark, X)
    q = _vec_df(spark, X[:3], id_name="qid")
    idx = OPQIndex.fit(tdf, m=4, ksub=8, iters=2, sort_col="id")
    enc = idx.encode(tdf)
    got = idx.search(enc, q, k=10, refine_train=tdf, overfetch=15)
    want = knn(tdf, q, k=10, method="expr")
    a = sorted((r["qid"], r["rank"], r["id"]) for r in got.collect())
    b = sorted((r["qid"], r["rank"], r["id"]) for r in want.collect())
    assert a == b


def test_search_recall_not_worse_than_pq(spark):
    """End-to-end: same code budget (m, ksub, overfetch), OPQ's rotated
    codes must match-or-beat plain PQ recall on correlated data."""
    X = _correlated(800, seed=37)
    train, queries = X[:700], X[700:730]
    tdf, qdf = _vec_df(spark, train), _vec_df(spark, queries, id_name="qid")
    exact = {}
    for r in knn(tdf, qdf, k=10, method="expr").collect():
        exact.setdefault(r["qid"], set()).add(r["id"])

    def recall(res):
        got = {}
        for r in res.collect():
            got.setdefault(r["qid"], set()).add(r["id"])
        return float(np.mean([len(got[q] & exact[q]) / 10 for q in exact]))

    m, ksub, over = 4, 16, 4
    opq = OPQIndex.fit(tdf, m=m, ksub=ksub, iters=4, sort_col="id")
    enc = opq.encode(tdf)
    r_opq = recall(opq.search(enc, qdf, k=10,
                              refine_train=tdf, overfetch=over))
    # the exact refine of the k·overfetch ADC candidates dominates pure ADC
    r_adc = recall(opq.search(enc, qdf, k=10))
    assert r_opq >= r_adc, (r_opq, r_adc)
    pq = PQIndex.fit(tdf, m=m, ksub=ksub, seed=1, max_iter=8, sort_col="id")
    r_pq = recall(pq.search(pq.encode(tdf), qdf, k=10,
                            refine_train=tdf, overfetch=over))
    assert r_opq >= r_pq - 0.02, (r_opq, r_pq)
    assert r_opq >= 0.5, r_opq


def test_fit_validates(spark):
    X = _correlated(30)
    with pytest.raises(ValueError, match="sample rows"):
        OPQIndex.fit(_vec_df(spark, X), m=4, ksub=64)
    with pytest.raises(ValueError, match="divisible"):
        opq_fit_numpy(X.astype(np.float64), m=5, ksub=4)


