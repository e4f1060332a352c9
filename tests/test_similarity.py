"""IVF index: recall-vs-nprobe behavior, full-probe exactness, partition
pruning layout."""

import numpy as np
import pytest

from bigvectorbench_spark.operators import similarity as sim
from bigvectorbench_spark.operators.knn import knn
from tests.conftest import arrow_batch_rows, make_blobs, make_ties


@pytest.fixture(scope="module")
def ivf_data(spark):
    X = make_blobs(800, 16, centers=20, seed=4)
    train = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(700)], "id bigint, vec array<float>"
    ).cache()
    test = spark.createDataFrame(
        [(i, [float(x) for x in X[700 + i]]) for i in range(40)], "qid bigint, vec array<float>"
    ).cache()
    idx = sim.IVFIndex.fit(train, nlist=8, seed=1)
    indexed = idx.assign(train).cache()
    return X, train, test, idx, indexed


@pytest.fixture(scope="module")
def ivf_tie_data(spark):
    """make_ties corpus: >k duplicates tied at the k-th distance per
    32-row batch, spread over several batches."""
    X, Q = make_ties(500)
    train = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(len(X))], "id bigint, vec array<float>"
    ).cache()
    test = spark.createDataFrame(
        [(i, [float(x) for x in Q[i]]) for i in range(len(Q))], "qid bigint, vec array<float>"
    ).cache()
    idx = sim.IVFIndex.fit(train, nlist=8, seed=1)
    indexed = idx.assign(train).cache()
    return X, train, test, idx, indexed


def _recall(res, exact, k):
    got, want = {}, {}
    for r in res.collect():
        got.setdefault(r["qid"], set()).add(r["id"])
    for r in exact.collect():
        want.setdefault(r["qid"], set()).add(r["id"])
    return np.mean([len(got.get(q, set()) & want[q]) / k for q in want])


def test_ivf_full_probe_is_exact(ivf_data, ivf_tie_data):
    for _, train, test, idx, indexed in (ivf_data, ivf_tie_data):
        exact = knn(train, test, k=10, method="expr")
        full = idx.search(indexed, test, k=10, nprobe=8)
        with arrow_batch_rows(train.sparkSession, 32):
            assert _recall(full, exact, 10) == 1.0


def test_ivf_recall_monotone_in_nprobe(ivf_data):
    _, train, test, idx, indexed = ivf_data
    exact = knn(train, test, k=10, method="expr")
    r1 = _recall(idx.search(indexed, test, k=10, nprobe=1), exact, 10)
    r4 = _recall(idx.search(indexed, test, k=10, nprobe=4), exact, 10)
    assert r1 <= r4 + 1e-9
    assert r1 > 0.5          # blobs: nearest cell holds most true neighbors
    assert r4 > 0.9


def test_auto_nprobe_calibrated_points(ivf_data):
    """auto_nprobe pins the decade-ladder calibration: the ceil
    power law reproduces the verify-pass probe counts at the measured
    ladder rungs, floors at 1, and never exceeds nlist."""
    assert sim.auto_nprobe(141) == 3      # verify rung n=20k
    assert sim.auto_nprobe(251) == 3      # verify rung n=63k
    assert sim.auto_nprobe(447) == 5      # verify rung n=200k
    assert sim.auto_nprobe(795) == 6      # verify rung n=632k
    assert sim.auto_nprobe(8) == 1        # tiny-nlist floor
    assert sim.auto_nprobe(1) == 1        # cap at nlist


def test_search_auto_nprobe_mode_identity(ivf_data):
    """nprobe="auto" must be row-identical to passing the resolved
    integer — the mode is a resolution point, not a different path."""
    _, train, test, idx, indexed = ivf_data
    npb = sim.auto_nprobe(len(idx.centroids))
    got = idx.search(indexed, test, k=10, nprobe="auto")
    want = idx.search(indexed, test, k=10, nprobe=npb)
    g = [(r["qid"], r["id"], r["rank"])
         for r in got.orderBy("qid", "rank").collect()]
    w = [(r["qid"], r["id"], r["rank"])
         for r in want.orderBy("qid", "rank").collect()]
    assert g == w and len(g) > 0


def test_auto_nprobe_inherited_by_composed_paths(ivf_data, spark):
    """The resolution point is probe_lists, so every composed caller
    (filtered search here; ivfpq in test_pq's grid) inherits "auto"
    without its own plumbing — row-identical to the resolved integer."""
    _, train, test, idx, indexed = ivf_data
    npb = sim.auto_nprobe(len(idx.centroids))
    flt = "id % 2 = 0"
    got = idx.search(indexed, test, k=5, nprobe="auto", pre_filter=flt)
    want = idx.search(indexed, test, k=5, nprobe=npb, pre_filter=flt)
    g = [(r["qid"], r["id"]) for r in got.orderBy("qid", "rank").collect()]
    w = [(r["qid"], r["id"]) for r in want.orderBy("qid", "rank").collect()]
    assert g == w and len(g) > 0
    assert all(i % 2 == 0 for _, i in g)


def test_ivf_assignment_is_argmin(ivf_data):
    X, train, _, idx, indexed = ivf_data
    rows = indexed.orderBy("id").limit(50).collect()
    for r in rows:
        d = ((idx.centroids - np.array(r["vec"], dtype=np.float64)) ** 2).sum(axis=1)
        assert r["cluster_id"] == int(np.argmin(d))


def test_ivf_partitioned_layout_prunes(ivf_data, tmp_path, spark):
    _, train, test, idx, _ = ivf_data
    path = str(tmp_path / "ivf")
    idx.write_indexed(train, path)
    re_read = spark.read.parquet(path)
    res = idx.search(re_read, test, k=5, nprobe=2)
    assert res.count() == 40 * 5
    # physical layout: one directory per cluster
    import os
    parts = [p for p in os.listdir(path) if p.startswith("cluster_id=")]
    assert len(parts) == 8


def test_ivf_angular_full_probe_exact(spark):
    from tests.conftest import arrow_batch_rows, make_blobs, make_ties
    X = make_blobs(500, 12, centers=15, seed=9)
    train = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(450)], "id bigint, vec array<float>").cache()
    test = spark.createDataFrame(
        [(i, [float(x) for x in X[450 + i]]) for i in range(20)], "qid bigint, vec array<float>")
    idx = sim.IVFIndex.fit(train, nlist=6, metric="angular", seed=1)
    exact = knn(train, test, k=10, metric="angular", method="expr")
    full = idx.search(idx.assign(train), test, k=10, nprobe=6)
    assert _recall(full, exact, 10) == 1.0
    # partial probe still reasonable for clustered data
    r2 = _recall(idx.search(idx.assign(train), test, k=10, nprobe=2), exact, 10)
    assert r2 > 0.5


def test_ivf_filtered_search(ivf_data, spark):
    import pyspark.sql.functions as F
    _, train, test, idx, indexed = ivf_data
    lab = indexed.withColumn("lab", F.col("id") % 3)
    exact = knn(train.withColumn("lab", F.col("id") % 3), test, k=5, method="expr",
                pre_filter="lab = 0")
    got = idx.search(lab, test, k=5, nprobe=8, pre_filter="lab = 0")
    assert _recall(got, exact, 5) == 1.0
    assert all(r["id"] % 3 == 0 for r in got.collect())


def test_ivf_delta_report_accounting(spark):
    """Incremental maintenance: delta rows are assigned to EXISTING
    centroids (no refit — index identity pinned), and the per-cell report
    conserves both populations and matches a numpy recomputation."""
    import pyspark.sql.functions as F

    X = make_blobs(600, 16, seed=41)
    df = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(600)],
        "id bigint, vec array<float>")
    base, delta = df.filter("id < 500"), df.filter("id >= 500")
    idx = sim.IVFIndex.fit(base, nlist=4, seed=1, max_iter=8, sort_col="id")
    rep = sim.ivf_delta_report(idx, idx.assign(base), idx.assign(delta))
    rows = {r["cluster_id"]: r for r in rep.collect()}
    assert sum(r["n_base"] for r in rows.values()) == 500
    assert sum(r["n_delta"] for r in rows.values()) == 100
    # numpy recomputation of the same accounting
    C = idx.centroids
    d2 = ((X[:, None, :].astype(np.float64) - C[None, :, :]) ** 2).sum(axis=2)
    cid = d2.argmin(axis=1)
    for c in rows:
        mask = cid == c
        assert rows[c]["n_base"] + rows[c]["n_delta"] == int(mask.sum())
        want = float(np.round(np.mean(np.round(np.sqrt(d2[mask, c]), 9)), 6))
        assert abs(rows[c]["mean_dist"] - want) < 2e-6, (c, rows[c]["mean_dist"], want)
