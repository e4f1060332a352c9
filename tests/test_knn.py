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


def _write_parquet(path, ids, X, cols=("id", "vec"), row_group_size=None):
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = X.shape[1]
    vec = pa.ListArray.from_arrays(pa.array(np.arange(len(ids) + 1, dtype=np.int32) * d),
                                   pa.array(X.ravel(), pa.float32()))
    pq.write_table(pa.table({cols[0]: pa.array(ids, pa.int64()), cols[1]: vec}), path,
                   row_group_size=row_group_size)


@pytest.fixture(scope="module")
def parquet_ties(spark, tmp_path_factory):
    """``make_ties`` written as four files of 16-row row groups plus an
    empty file.  The 40 duplicates tied at the k-th distance (ids 20-98)
    cross three files."""
    Xtr, Xte = make_ties(500)
    path = tmp_path_factory.mktemp("fused") / "train.parquet"
    path.mkdir()
    for f, (lo, hi) in enumerate([(0, 50), (50, 80), (80, 300), (300, 500), (500, 500)]):
        _write_parquet(str(path / f"part-{f}.parquet"), np.arange(lo, hi), Xtr[lo:hi],
                       row_group_size=16)
    test = spark.createDataFrame(
        [(i, [float(x) for x in Xte[i]]) for i in range(len(Xte))],
        "qid bigint, vec array<float>",
    )
    return Xtr, Xte, spark.read.parquet(str(path)), test


def _kernel_input(df) -> str:
    """The formatted plan's tree below its Arrow kernel node."""
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    tree = buf.getvalue().split("\n\n", 1)[0]
    return tree[tree.index("MapInArrow"):]


@pytest.mark.parametrize("metric", ["euclidean", "angular"])
def test_fused_scan_matches_arrow_map_path(parquet_ties, metric, monkeypatch):
    """On a bare parquet table ``topk_scan`` reads the files in the Python
    worker (``Range`` under the kernel, no scan), and returns the rows the
    ``arrow_map`` path over Spark's scan returns, ties across files and
    batches included."""
    Xtr, Xte, train, test = parquet_ties
    _, frags = knn_ops.parquet_fragments(train)
    assert len(frags) == 33 and {n for *_, n in frags} == {16, 2, 14, 12, 8}

    def run():
        with arrow_batch_rows(train.sparkSession, 7):
            res = knn_ops.knn(train, test, k=10, metric=metric)
            return _kernel_input(res), res.orderBy("qid", "rank").collect()

    fused_plan, fused = run()
    monkeypatch.setattr(knn_ops, "parquet_fragments", lambda frame: None)
    plain_plan, plain = run()
    assert "Range" in fused_plan and "Scan parquet" not in fused_plan
    assert "Scan parquet" in plain_plan and "Range" not in plain_plan
    assert fused == plain
    expect = brute_force_knn(Xtr, Xte, 10, metric)
    got = _group(fused)
    for qid in range(len(Xte)):
        assert [r["id"] for r in got[qid]] == list(expect[qid])


def test_fused_scan_reads_renamed_columns(spark, tmp_path):
    """Renamed columns (``doc_id``/``emb``) take the fused path: the
    kernel sees them under the frame's names."""
    X = make_blobs(300, 8, seed=2)
    _write_parquet(str(tmp_path / "docs.parquet"), np.arange(300) * 3, X, cols=("doc_id", "emb"))
    train = spark.read.parquet(str(tmp_path / "docs.parquet"))
    test = spark.createDataFrame([(i, [float(x) for x in X[i * 11]]) for i in range(9)],
                                 "qid bigint, emb array<float>")
    projected = train.select(F.col("doc_id").cast("bigint").alias("id"),
                             F.col("emb").alias("vec"))
    assert knn_ops.parquet_fragments(projected)[0] == [("id", "doc_id"), ("vec", "emb")]
    res = knn_ops.knn(train, test, k=5, vec_col="emb", id_col="doc_id")
    assert "Range" in _kernel_input(res) and "Scan parquet" not in _kernel_input(res)
    got = _group(res.orderBy("qid", "rank").collect())
    expect = brute_force_knn(X, X[::11][:9], 5)
    for qid in range(9):
        assert [r["id"] for r in got[qid]] == [3 * i for i in expect[qid]]


@pytest.mark.parametrize("shape", ["filtered", "cast", "computed", "partitioned"])
def test_non_bare_frames_fall_back_to_spark_scan(spark, tmp_path, shape):
    X = make_blobs(200, 8, seed=3)
    path = str(tmp_path / "t.parquet")
    if shape == "partitioned":
        spark.createDataFrame([(i, [float(x) for x in X[i]], i % 3) for i in range(200)],
                              "id bigint, vec array<float>, part int"
                              ).write.partitionBy("part").parquet(path)
    else:
        _write_parquet(path, np.arange(200), X)
    train = spark.read.parquet(path)
    train = {"filtered": lambda t: t.filter(F.col("id") % 2 == 0),
             "cast": lambda t: t.withColumn("vec", F.col("vec").cast("array<double>")),
             "computed": lambda t: t.withColumn("id", F.col("id") * 2),
             "partitioned": lambda t: t}[shape](train)
    test = spark.createDataFrame([(0, [float(x) for x in X[0]])], "qid bigint, vec array<float>")
    assert knn_ops.parquet_fragments(train) is None
    res = knn_ops.knn(train, test, k=5)
    plan = _kernel_input(res)
    assert "Scan parquet" in plan and "Range" not in plan
    assert res.filter("rank = 1").first()["id"] == 0


def test_parquet_train_width_needs_no_spark_job(parquet_ties):
    """``knn`` reads a bare parquet table's vector width from the file,
    and still refuses queries of another width at call time."""
    _, _, train, _ = parquet_ties
    spark = train.sparkSession
    sc = spark.sparkContext
    sc.setJobGroup("width-probe", "width-probe")
    try:
        assert knn_ops._first_dim(train, "vec") == 16
    finally:
        sc.setJobGroup("after-width-probe", "")
    assert sc.statusTracker().getJobIdsForGroup("width-probe") == []
    q = spark.createDataFrame([(0, [1.0, 2.0])], "qid bigint, vec array<float>")
    for method in ("expr", "gemm"):
        with pytest.raises(ValueError, match="dimension mismatch"):
            knn_ops.knn(train, q, k=1, method=method)
