"""Product quantization: encode layout, reconstruction error, ADC recall
vs the exact engine, persistence, edge cases."""

import numpy as np
import pytest

from bigvectorbench_spark.operators.knn import knn
from bigvectorbench_spark.operators.pq import PQIndex
from tests.conftest import arrow_batch_rows, make_blobs, make_ties


@pytest.fixture(scope="module")
def pq_data(spark):
    X = make_blobs(740, 16, centers=20, seed=7)
    train = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(700)], "id bigint, vec array<float>"
    ).cache()
    test = spark.createDataFrame(
        [(i, [float(x) for x in X[700 + i]]) for i in range(40)], "qid bigint, vec array<float>"
    ).cache()
    idx = PQIndex.fit(train, m=4, ksub=64, seed=1)
    encoded = idx.encode(train).cache()
    return X, train, test, idx, encoded


def _recall(res, exact, k):
    got, want = {}, {}
    for r in res.collect():
        got.setdefault(r["qid"], set()).add(r["id"])
    for r in exact.collect():
        want.setdefault(r["qid"], set()).add(r["id"])
    return np.mean([len(got.get(q, set()) & want[q]) / k for q in want])


def test_pq_codes_shape_and_range(pq_data):
    _, _, _, idx, encoded = pq_data
    rows = encoded.limit(100).collect()
    for r in rows:
        assert len(r["codes"]) == idx.m
        assert all(0 <= c < idx.ksub for c in r["codes"])
    # all original columns preserved
    assert set(encoded.columns) == {"id", "vec", "codes"}


def test_pq_encode_is_argmin_and_reconstruction_close(pq_data):
    X, _, _, idx, encoded = pq_data
    rows = encoded.orderBy("id").limit(60).collect()
    codes = np.array([r["codes"] for r in rows], dtype=np.int64)
    V = np.array([r["vec"] for r in rows], dtype=np.float64)
    # argmin check per subspace
    for j in range(idx.m):
        S = V[:, j * idx.dsub:(j + 1) * idx.dsub]
        d2 = ((S[:, None, :] - idx.codebooks[j][None, :, :]) ** 2).sum(axis=2)
        assert (codes[:, j] == d2.argmin(axis=1)).all()
    # quantization error well below the data scale
    rec = idx.decode(codes)
    rel = np.linalg.norm(rec - V, axis=1) / np.maximum(np.linalg.norm(V, axis=1), 1e-9)
    assert rel.mean() < 0.25


def test_pq_adc_recall_euclidean(pq_data):
    _, train, test, idx, encoded = pq_data
    exact = knn(train, test, k=10, method="expr")
    got = idx.search(encoded, test, k=10)
    assert _recall(got, exact, 10) > 0.5
    # ADC distance approximates the true distance
    true_d = {(r["qid"], r["id"]): r["dist"] for r in exact.collect()}
    both = [(r["dist"], true_d[(r["qid"], r["id"])])
            for r in got.collect() if (r["qid"], r["id"]) in true_d]
    err = [abs(a - t) / max(t, 1e-9) for a, t in both if t > 1e-6]
    assert np.mean(err) < 0.35


def test_pq_refine_lifts_recall(pq_data):
    _, train, test, idx, encoded = pq_data
    exact = knn(train, test, k=10, method="expr")
    pure = _recall(idx.search(encoded, test, k=10), exact, 10)
    refined_df = idx.search(encoded, test, k=10, refine_train=train, overfetch=5)
    refined = _recall(refined_df, exact, 10)
    assert refined >= pure - 1e-9
    assert refined > 0.9
    # refined distances are EXACT for the ids it returns
    true_d = {(r["qid"], r["id"]): r["dist"] for r in exact.collect()}
    for r in refined_df.collect():
        key = (r["qid"], r["id"])
        if key in true_d:
            assert abs(r["dist"] - true_d[key]) < 1e-6


def test_pq_angular_recall(spark):
    X = make_blobs(540, 16, centers=15, seed=11)
    train = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(500)], "id bigint, vec array<float>").cache()
    test = spark.createDataFrame(
        [(i, [float(x) for x in X[500 + i]]) for i in range(30)], "qid bigint, vec array<float>")
    idx = PQIndex.fit(train, m=4, ksub=32, metric="angular", seed=2)
    encoded = idx.encode(train).cache()
    exact = knn(train, test, k=10, metric="angular", method="expr")
    pure = _recall(idx.search(encoded, test, k=10), exact, 10)
    assert pure > 0.25  # pure ADC on the unit sphere is noisy at m=4/ksub=32
    refined = _recall(
        idx.search(encoded, test, k=10, refine_train=train, overfetch=8), exact, 10)
    assert refined > 0.85


def test_pq_filtered_search(pq_data, spark):
    import pyspark.sql.functions as F
    _, train, test, idx, encoded = pq_data
    lab = encoded.withColumn("lab", F.col("id") % 3)
    got = idx.search(lab, test, k=5, pre_filter="lab = 0")
    assert all(r["id"] % 3 == 0 for r in got.collect())
    assert got.count() == 40 * 5


def test_pq_save_load_roundtrip(pq_data, tmp_path, spark):
    _, _, test, idx, encoded = pq_data
    idx.save(spark, str(tmp_path / "pq"))
    loaded = PQIndex.load(spark, str(tmp_path / "pq"))
    assert np.allclose(loaded.codebooks, idx.codebooks)
    assert loaded.metric == idx.metric
    a = [(r["qid"], r["id"]) for r in
         idx.search(encoded, test, k=5).orderBy("qid", "rank").collect()]
    b = [(r["qid"], r["id"]) for r in
         loaded.search(encoded, test, k=5).orderBy("qid", "rank").collect()]
    assert a == b


def test_pq_fit_engines_identical(pq_data, spark):
    _, train, _, idx, _ = pq_data
    # the spark fan-out fit must reproduce the driver fit bit-for-bit (same
    # sample, same per-subspace seed)
    sp = PQIndex.fit(train, m=4, ksub=64, seed=1, engine="spark")
    dr = PQIndex.fit(train, m=4, ksub=64, seed=1, engine="driver")
    assert np.array_equal(sp.codebooks, dr.codebooks)
    assert np.array_equal(dr.codebooks, idx.codebooks)


def test_pq_edges(pq_data, spark):
    _, train, test, idx, encoded = pq_data
    # empty query set → empty result with the contract schema
    empty = spark.createDataFrame([], "qid bigint, vec array<float>")
    res = idx.search(encoded, empty, k=5)
    assert res.count() == 0
    assert res.columns == ["qid", "id", "dist", "rank"]
    # k larger than n → every train row returned per query
    small = idx.encode(train.limit(3)).cache()
    res2 = idx.search(small, test.limit(2), k=10)
    assert res2.count() == 2 * 3
    # dimension mismatch fails fast
    bad = spark.createDataFrame([(0, [1.0] * 8)], "qid bigint, vec array<float>")
    with pytest.raises(ValueError, match="query d="):
        idx.search(encoded, bad, k=3)


def test_ivfpq_composition(pq_data, spark):
    from bigvectorbench_spark.operators.pq import ivfpq_search
    from bigvectorbench_spark.operators.similarity import IVFIndex
    _, train, test, idx, encoded = pq_data
    ivf = IVFIndex.fit(train, nlist=8, seed=3)
    table = ivf.assign(encoded).cache()
    exact = knn(train, test, k=10, method="expr")
    # full probe == pure-PQ result set (cell mask admits everything)
    full = ivfpq_search(ivf, idx, table, test, k=10, nprobe=8)
    pure = idx.search(encoded, test, k=10)
    a = sorted((r["qid"], r["id"]) for r in full.collect())
    b = sorted((r["qid"], r["id"]) for r in pure.collect())
    assert a == b
    # recall monotone in nprobe; refine lifts it
    r2 = _recall(ivfpq_search(ivf, idx, table, test, k=10, nprobe=2), exact, 10)
    r8 = _recall(full, exact, 10)
    assert r2 <= r8 + 1e-9
    refined = _recall(
        ivfpq_search(ivf, idx, table, test, k=10, nprobe=8,
                     refine_train=train, overfetch=5), exact, 10)
    assert refined > 0.9


@pytest.mark.parametrize("path", ["pq", "ivfpq"])
def test_adc_topk_matches_numpy_lexsort(spark, path):
    """ADC top-k is the (ADC distance, id) lexsort of a numpy replay of the
    LUT sums, on a corpus with >k duplicates tied at the k-th distance
    inside one 32-row batch and across batches."""
    from bigvectorbench_spark.operators.pq import ivfpq_search
    from bigvectorbench_spark.operators.similarity import CLUSTER_COL, IVFIndex
    X, Q = make_ties(500)
    train = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(len(X))], "id bigint, vec array<float>")
    test = spark.createDataFrame(
        [(i, [float(x) for x in Q[i]]) for i in range(len(Q))], "qid bigint, vec array<float>")
    # 1-d subspaces over {-1, 0, 1}: three codes reproduce every row, so
    # ADC distances are exact and the copies' ties survive encoding
    idx = PQIndex.fit(train, m=16, ksub=3, seed=1)
    ivf = IVFIndex.fit(train, nlist=8, seed=3)
    table = ivf.assign(idx.encode(train)).cache()
    k = 10
    if path == "pq":
        res = idx.search(table, test, k=k)
    else:
        res = ivfpq_search(ivf, idx, table, test, k=k, nprobe=2)
    with arrow_batch_rows(spark, 32):
        got = [(r["qid"], r["id"]) for r in res.orderBy("qid", "rank").collect()]

    rows = table.select("id", "codes", CLUSTER_COL).collect()
    ids = np.array([r["id"] for r in rows])
    codes = np.array([r["codes"] for r in rows], dtype=np.int64)
    Qs = Q.astype(np.float64).reshape(len(Q), idx.m, idx.dsub)
    acc = np.zeros((len(ids), len(Q)))
    for j in range(idx.m):
        lut = ((idx.codebooks[j][:, None, :] - Qs[None, :, j, :]) ** 2).sum(axis=2)
        acc += lut[codes[:, j], :]
    D = np.sqrt(np.maximum(acc, 0.0))
    if path == "ivfpq":
        cells = np.array([r[CLUSTER_COL] for r in rows])
        member = np.zeros((8, len(Q)), dtype=bool)
        for qi, probe in enumerate(ivf.probe_lists(Q.astype(np.float64), 2)):
            member[probe, qi] = True
        D = np.where(member[cells], D, np.inf)
    want = [(qi, int(ids[i])) for qi in range(len(Q))
            for i in np.lexsort((ids, D[:, qi]))[:k] if np.isfinite(D[i, qi])]
    assert got == want


def test_ivfpq_filtered(pq_data, spark):
    import pyspark.sql.functions as F
    from bigvectorbench_spark.operators.pq import ivfpq_search
    from bigvectorbench_spark.operators.similarity import IVFIndex
    _, train, test, idx, encoded = pq_data
    ivf = IVFIndex.fit(train, nlist=8, seed=3)
    table = ivf.assign(encoded).withColumn("lab", F.col("id") % 3)
    got = ivfpq_search(ivf, idx, table, test, k=5, nprobe=8, pre_filter="lab = 0")
    assert all(r["id"] % 3 == 0 for r in got.collect())
    assert got.count() == 40 * 5


def test_pq_delta_report_accounting(pq_data, spark):
    """pq_delta_report vs a full numpy recomputation: population
    conservation, per-side mean squared reconstruction error (same
    9-dp-round -> exact-sum -> 6-dp-round ladder), and the drift ratio
    from the ROUNDED means — the ivf_delta_report test convention."""
    from decimal import Decimal

    from bigvectorbench_spark.operators.pq import pq_delta_report

    X, train, _, _, _ = pq_data
    base = train.filter("id % 10 != 0")
    delta = train.filter("id % 10 = 0")
    idx = PQIndex.fit(base, m=4, ksub=16, seed=1, sort_col="id")
    row = pq_delta_report(idx, idx.encode(base), idx.encode(delta)).collect()[0]

    ids = np.arange(700)
    codes = np.empty((700, 4), dtype=np.int64)
    Xs = X[:700].reshape(700, 4, 4)
    c2 = (idx.codebooks * idx.codebooks).sum(axis=2)
    for j in range(4):
        S = Xs[:, j, :]
        codes[:, j] = ((S * S).sum(1)[:, None] - 2.0 * (S @ idx.codebooks[j].T)
                       + c2[j][None, :]).argmin(axis=1)
    recon = idx.decode(codes)
    err = ((X[:700] - recon) ** 2).sum(axis=1)

    def side_mean(mask):
        s = sum(Decimal(str(round(float(e), 9))) for e in err[mask])
        return round(float(s) / int(mask.sum()), 6)

    mb = side_mean(ids % 10 != 0)
    md = side_mean(ids % 10 == 0)
    assert row["n_base"] == 630 and row["n_delta"] == 70
    assert row["mean_qerr_base"] == pytest.approx(mb, abs=1e-9)
    assert row["mean_qerr_delta"] == pytest.approx(md, abs=1e-9)
    assert row["qerr_drift"] == pytest.approx(round(md / mb, 6), abs=1e-9)


def test_pq_delta_report_shifted_arrivals_drift_up(spark):
    """The meter's purpose: arrivals from a SHIFTED distribution must read
    qerr_drift > 1 under base-fit frozen codebooks (in-distribution
    arrivals sit near 1) — the rebuild-on-evidence signal."""
    from bigvectorbench_spark.operators.pq import pq_delta_report

    X = make_blobs(600, 16, centers=10, seed=11)
    base = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(500)],
        "id bigint, vec array<float>")
    shifted = spark.createDataFrame(
        [(1000 + i, [float(x) + 6.0 for x in X[500 + i]]) for i in range(100)],
        "id bigint, vec array<float>")
    idx = PQIndex.fit(base, m=4, ksub=16, seed=1, sort_col="id")
    row = pq_delta_report(idx, idx.encode(base), idx.encode(shifted)).collect()[0]
    assert row["qerr_drift"] > 1.5
