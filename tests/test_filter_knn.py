"""Filtered kNN: per-query predicates, template compilation, pre/post plans."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from bigvectorbench_spark.operators import filter_knn as fknn
from tests.conftest import make_blobs


def test_template_compilation():
    t = "label_0 <= {label_0} and label_1 == {label_1} or label_0 != {x}"
    assert (
        fknn.compile_filter_template(t)
        == "label_0 <= __q_label_0 and label_1 = __q_label_1 or label_0 != __q_x"
    )
    # >= / <= must survive the == rewrite
    assert fknn.compile_filter_template("a >= {b}") == "a >= __q_b"


@pytest.fixture(scope="module")
def fdata(spark):
    X = make_blobs(400, 8, seed=2)
    rng = np.random.RandomState(7)
    labs = rng.randint(0, 100, size=(400, 2))
    train = spark.createDataFrame(
        [(i, [float(x) for x in X[i]], int(labs[i, 0]), int(labs[i, 1])) for i in range(350)],
        "id bigint, vec array<float>, label_0 int, label_1 int",
    ).cache()
    test = spark.createDataFrame(
        [(i, [float(x) for x in X[350 + i]], int(labs[350 + i, 0]), int(labs[350 + i, 1]))
         for i in range(30)],
        "qid bigint, vec array<float>, label_0 int, label_1 int",
    ).cache()
    return X, labs, train, test


def _numpy_filtered(X, labs, qi, k):
    """Oracle: the random_filter dataset semantics (datasets.py:385-394)."""
    q = X[350 + qi].astype(np.float64)
    mask = (labs[:350, 0] <= labs[350 + qi, 0]) & (labs[:350, 1] <= labs[350 + qi, 1])
    ids = np.where(mask)[0]
    d = np.sqrt(((X[ids].astype(np.float64) - q) ** 2).sum(axis=1))
    order = np.lexsort((ids, d))[:k]
    return list(ids[order])


TEMPLATE = "label_0 <= {label_0} and label_1 <= {label_1}"


def test_filtered_knn_matches_oracle(fdata):
    X, labs, train, test = fdata
    res = fknn.filtered_knn(
        train, test, k=10, filter_template=TEMPLATE, query_param_cols=["label_0", "label_1"]
    )
    got = {}
    for r in res.orderBy("qid", "rank").collect():
        got.setdefault(r["qid"], []).append(r["id"])
    for qi in range(30):
        assert got.get(qi, []) == _numpy_filtered(X, labs, qi, 10), f"qid={qi}"


def test_filtered_knn_angular_matches_numpy(fdata):
    """Covers the below-join norm-fold branch (pair_dist_below_join)."""
    X, labs, train, test = fdata
    res = fknn.filtered_knn(
        train, test, k=5, metric="angular",
        filter_template=TEMPLATE, query_param_cols=["label_0", "label_1"],
    )
    got = {}
    for r in res.orderBy("qid", "rank").collect():
        got.setdefault(r["qid"], []).append(r["id"])
    for qi in range(30):
        q = X[350 + qi].astype(np.float64)
        mask = (labs[:350, 0] <= labs[350 + qi, 0]) & (labs[:350, 1] <= labs[350 + qi, 1])
        ids = np.where(mask)[0]
        T = X[ids].astype(np.float64)
        d = 1.0 - (T @ q) / (np.linalg.norm(T, axis=1) * np.linalg.norm(q))
        order = np.lexsort((ids, d))[:5]
        assert got.get(qi, []) == list(ids[order]), f"qid={qi}"


def test_filtered_knn_or_template(fdata):
    """The DSL admits or-disjunctions (weaviate/utils.py:105-179 grammar);
    most reference backends raise on them — we support them for free via
    Catalyst."""
    X, labs, train, test = fdata
    res = fknn.filtered_knn(
        train, test, k=5,
        filter_template="label_0 <= {label_0} or label_1 == {label_1}",
        query_param_cols=["label_0", "label_1"],
    )
    got = {}
    for r in res.orderBy("qid", "rank").collect():
        got.setdefault(r["qid"], []).append(r["id"])
    for qi in list(got)[:5]:
        q = X[350 + qi].astype(np.float64)
        mask = (labs[:350, 0] <= labs[350 + qi, 0]) | (labs[:350, 1] == labs[350 + qi, 1])
        ids = np.where(mask)[0]
        d = np.sqrt(((X[ids].astype(np.float64) - q) ** 2).sum(axis=1))
        assert got[qi] == list(ids[np.lexsort((ids, d))[:5]])


def test_filtered_knn_queries_with_no_matches(fdata):
    _, _, train, test = fdata
    res = fknn.filtered_knn(
        train,
        test.withColumn("label_0", F.lit(-1)),
        k=5,
        filter_template=TEMPLATE,
        query_param_cols=["label_0", "label_1"],
    )
    assert res.count() == 0


def test_postfilter_knn_agrees_when_overfetch_sufficient(fdata):
    X, labs, train, test = fdata
    # high-selectivity predicate: label_0 <= 95 keeps ~95% of rows
    t95 = test.withColumn("label_0", F.lit(95)).withColumn("label_1", F.lit(95))
    pre = fknn.filtered_knn(train, t95, k=5, filter_template=TEMPLATE,
                            query_param_cols=["label_0", "label_1"])
    post = fknn.postfilter_knn(train, t95, k=5, metric="euclidean",
                               filter_template=TEMPLATE,
                               query_param_cols=["label_0", "label_1"],
                               selectivity=0.9)
    a = [(r["qid"], r["id"]) for r in pre.orderBy("qid", "rank").collect()]
    b = [(r["qid"], r["id"]) for r in post.orderBy("qid", "rank").collect()]
    assert a == b


@pytest.fixture(scope="module")
def ivf_fdata(spark, fdata):
    from bigvectorbench_spark.operators.similarity import IVFIndex

    X, labs, train, test = fdata
    idx = IVFIndex.fit(train, nlist=4, seed=1, max_iter=8, sort_col="id")
    indexed = idx.assign(train).cache()
    return idx, indexed, train, test


def _probed_filtered_oracle(idx, indexed, train_rows, qrow, k, nprobe, pred):
    """Exact semantics both strategies must produce when the overfetch is
    ample: top-k by L2 over (probed cells ∩ predicate survivors)."""
    q = np.array(qrow["vec"], dtype=np.float64)
    cells = set(idx.probe_lists(q[None, :], nprobe)[0].tolist())
    cand = [(r["id"], float(np.linalg.norm(np.array(r["vec"]) - q)))
            for r in train_rows
            if r["cluster_id"] in cells and pred(r)]
    cand.sort(key=lambda t: (t[1], t[0]))
    return [i for i, _ in cand[:k]]


@pytest.mark.parametrize("strategy,template,selectivity", [
    # range predicate keeps ~50% of rows → the post branch's natural regime
    ("post", "label_0 >= {lo} and label_0 <= {hi}", 0.5),
    # the same predicate through the pre path must agree exactly
    ("pre", "label_0 >= {lo} and label_0 <= {hi}", 0.5),
])
def test_filtered_ivf_matches_probed_oracle(ivf_fdata, strategy, template,
                                            selectivity):
    idx, indexed, train, test = ivf_fdata
    q = (test.limit(8)
         .withColumn("lo", F.col("label_0") - 25)
         .withColumn("hi", F.col("label_0") + 25))
    got = fknn.filtered_ivf_knn(
        idx, indexed, q, k=5, filter_template=template,
        query_param_cols=["lo", "hi"], nprobe=2, strategy=strategy,
        selectivity=selectivity, overfetch_factor=8.0)
    by_q = {}
    for r in got.orderBy("qid", "rank").collect():
        by_q.setdefault(r["qid"], []).append(r["id"])
    rows = indexed.collect()
    for qrow in q.collect():
        lo, hi = qrow["lo"], qrow["hi"]
        want = _probed_filtered_oracle(
            idx, indexed, rows, qrow, 5, 2,
            lambda r: lo <= r["label_0"] <= hi)
        assert by_q.get(qrow["qid"], []) == want, f"qid={qrow['qid']}"


def test_filtered_ivf_auto_branches(ivf_fdata):
    """The G5 branch: ≥0.2 → post (overfetch visible), <0.2 → pre."""
    idx, indexed, train, test = ivf_fdata
    q = test.limit(4).withColumn("l", F.col("label_0"))
    lo_sel = fknn.filtered_ivf_knn(
        idx, indexed, q, k=3, filter_template="label_0 == {l}",
        query_param_cols=["l"], strategy="auto", selectivity=0.01)
    hi_sel = fknn.filtered_ivf_knn(
        idx, indexed, q, k=3, filter_template="label_0 >= {l}",
        query_param_cols=["l"], strategy="auto", selectivity=0.5)
    # pre plan: no window over the raw overfetch — both run, shapes differ
    assert lo_sel.columns == hi_sel.columns == ["qid", "id", "dist", "rank"]
    lo_sel.collect(); hi_sel.collect()
    with pytest.raises(ValueError, match="selectivity"):
        fknn.filtered_ivf_knn(idx, indexed, q, k=3,
                              filter_template="label_0 == {l}",
                              query_param_cols=["l"], strategy="auto")


def test_filtered_ivf_pre_prunes_cells(ivf_fdata):
    """The pre plan's scan is restricted to the probed cells: a query whose
    matching rows all sit in unprobed cells returns nothing (the documented
    approximation an IVF index makes), while exact filtered_knn finds them."""
    idx, indexed, train, test = ivf_fdata
    q = test.limit(30).withColumn("l", F.col("label_0"))
    approx = fknn.filtered_ivf_knn(
        idx, indexed, q, k=5, filter_template="label_0 == {l}",
        query_param_cols=["l"], nprobe=1, strategy="pre")
    exact = fknn.filtered_knn(
        train, q, k=5, filter_template="label_0 == {l}",
        query_param_cols=["l"])
    a, e = approx.count(), exact.count()
    assert a <= e          # pruning can only LOSE matches, never invent them
    got = {(r["qid"], r["id"]) for r in approx.collect()}
    # every returned pair is a true predicate match (no false positives)
    rows = {r["id"]: r for r in indexed.collect()}
    for qrow in q.collect():
        for qid, rid in got:
            if qid == qrow["qid"]:
                assert rows[rid]["label_0"] == qrow["l"]


def test_filtered_ivf_pre_refuses_oversized_query_set(ivf_fdata, monkeypatch):
    """The pre branch collects the query table for probe-list computation —
    the same driver-side staging knn.py's GEMM path guards with
    MAX_BROADCAST_QUERIES.  The guard must fire here too (VERDICT r7 #3):
    an unbounded query table would OOM the driver, and the post branch is
    the distributed alternative."""
    idx, indexed, train, test = ivf_fdata
    q = test.limit(8).withColumn("l", F.col("label_0"))
    from bigvectorbench_spark.operators import knn as knn_mod
    monkeypatch.setattr(knn_mod, "MAX_BROADCAST_QUERIES", 4)
    with pytest.raises(ValueError, match="broadcast envelope"):
        fknn.filtered_ivf_knn(
            idx, indexed, q, k=3, filter_template="label_0 == {l}",
            query_param_cols=["l"], strategy="pre")
