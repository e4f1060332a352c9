"""Binary quantization family: packing parity, hamming pre-rank, refine recall."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from bigvectorbench_spark.functions import distance as dx
from bigvectorbench_spark.operators.bq import (
    MAX_DIM, BQIndex, hamming_packed_int, pack_thresholds)
from bigvectorbench_spark.operators.knn import knn
from tests.conftest import make_blobs


def _vec_df(spark, X, id_name="id"):
    return spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(len(X))],
        f"{id_name} bigint, vec array<float>")


def _pack_py(row, thresholds):
    """Independent python packer: pack_signs layout (first dim = highest bit
    of its word), 64 dims/word, tail word right-aligned to its chunk size."""
    words = []
    for w in range(0, len(thresholds), 64):
        chunk = thresholds[w:w + 64]
        acc = 0
        for j, t in enumerate(chunk):
            acc = (acc << 1) | (1 if row[w + j] > t else 0)
        # interpret as signed 64-bit like Spark's LongType
        if acc >= 1 << 63:
            acc -= 1 << 64
        words.append(acc)
    return words


def test_pack_thresholds_matches_python(spark):
    X = make_blobs(40, 70, seed=7)  # 70 dims -> one full word + 6-bit tail
    thr = [float(t) for t in X.mean(axis=0)]
    df = _vec_df(spark, X)
    got = {r["id"]: list(r["w"]) for r in
           df.select("id", pack_thresholds(F.col("vec"), thr).alias("w")).collect()}
    for i in range(len(X)):
        assert got[i] == _pack_py([float(v) for v in X[i]], thr), f"row {i}"


def test_pack_thresholds_zero_matches_pack_signs(spark):
    """center=False thresholds (all zero) reproduce the existing pack_signs
    sign-bit layout exactly — BQ is a strict generalization."""
    X = make_blobs(30, 64, seed=9)
    df = _vec_df(spark, X)
    a = df.select("id", pack_thresholds(F.col("vec"), [0.0] * 64).alias("w"))
    b = df.select("id", dx.pack_signs(F.col("vec"), 64).alias("w"))
    assert sorted((r["id"], list(r["w"])) for r in a.collect()) == \
        sorted((r["id"], list(r["w"])) for r in b.collect())


def test_hamming_packed_int_matches_python(spark):
    X = make_blobs(20, 32, seed=11)
    thr = [0.0] * 32
    df = _vec_df(spark, X).select(
        "id", pack_thresholds(F.col("vec"), thr).alias("w"))
    q = df.selectExpr("id as qid", "w as qw").filter("qid < 3")
    got = {(r["qid"], r["id"]): r["h"] for r in
           df.crossJoin(q).select(
               "qid", "id",
               hamming_packed_int(F.col("w"), F.col("qw")).alias("h")).collect()}
    bits = (X > 0)
    for qi in range(3):
        for i in range(len(X)):
            assert got[(qi, i)] == int((bits[qi] != bits[i]).sum())


def test_fit_centers_on_sample_mean(spark):
    X = make_blobs(200, 16, seed=13)
    idx = BQIndex.fit(_vec_df(spark, X), sort_col="id")
    np.testing.assert_allclose(
        np.array(idx.thresholds), X.astype(np.float64).mean(axis=0), rtol=1e-12)
    flat = BQIndex.fit(_vec_df(spark, X), center=False)
    assert flat.thresholds == [0.0] * 16


def test_fit_rejects_empty_and_wide(spark):
    empty = spark.createDataFrame([], "id bigint, vec array<float>")
    with pytest.raises(ValueError, match="empty"):
        BQIndex.fit(empty)
    with pytest.raises(ValueError, match="MAX_DIM"):
        pack_thresholds(F.col("vec"), [0.0] * (MAX_DIM + 1))


def test_search_hamming_only_is_exact_on_bits(spark):
    """Without refine_train, search IS packed-hamming top-k: cross-check the
    (hamming, id) ranking against numpy."""
    X = make_blobs(300, 32, seed=17)
    idx = BQIndex.fit(_vec_df(spark, X), center=False)
    codes = idx.encode(_vec_df(spark, X), keep=["id"])
    q = _vec_df(spark, X[:4], id_name="qid")
    res = idx.search(codes, q, k=5)
    bits = (X > 0)
    for qi in range(4):
        ham = (bits != bits[qi]).sum(axis=1)
        order = np.lexsort((np.arange(len(X)), ham))[:5]
        got = [(r["id"], int(r["dist"])) for r in
               sorted(res.filter(F.col("qid") == qi).collect(),
                      key=lambda r: r["rank"])]
        assert got == [(int(i), int(ham[i])) for i in order]


def test_search_refined_recall_beats_hamming(spark):
    """The family's point: hamming pre-rank + exact refine recovers most of
    exact kNN at 1/64th the candidate-scan width; centering beats raw sign
    bits on uncentered data."""
    # shift the whole corpus well past 0: raw sign bits saturate to all-ones
    # (hamming prerank collapses to id order) while centered bits keep the
    # blob geometry — the reason BQ learns thresholds instead of using 0.
    X = make_blobs(800, 32, seed=19) + np.float32(25.0)
    train, queries = X[:700], X[700:730]
    tdf, qdf = _vec_df(spark, train), _vec_df(spark, queries, id_name="qid")
    exact = {}
    for r in knn(tdf, qdf, k=10, method="expr").collect():
        exact.setdefault(r["qid"], set()).add(r["id"])

    def recall(index, overfetch=8):
        codes = index.encode(tdf, keep=["id"])
        res = index.search(codes, qdf, k=10, refine_train=tdf,
                           overfetch=overfetch)
        got = {}
        for r in res.collect():
            got.setdefault(r["qid"], set()).add(r["id"])
        return float(np.mean([len(got[q] & exact[q]) / 10 for q in exact]))

    fitted = BQIndex.fit(tdf, sort_col="id")
    centered = recall(fitted)
    raw = recall(BQIndex.fit(tdf, center=False))
    assert centered >= 0.7, centered
    assert centered > raw, (centered, raw)
    # a wider hamming pre-rank is a superset of candidates for the same
    # exact refine: recall is monotone in overfetch
    assert recall(fitted, overfetch=2) <= centered, centered


def test_search_pre_filter_composes(spark):
    X = make_blobs(200, 16, seed=23)
    tdf = _vec_df(spark, X).withColumn("label", (F.col("id") % 2).cast("int"))
    idx = BQIndex.fit(tdf, sort_col="id")
    codes = idx.encode(tdf, keep=["id", "label"])
    q = _vec_df(spark, X[:2], id_name="qid")
    res = idx.search(codes, q, k=5, refine_train=tdf, pre_filter="label = 0")
    ids = [r["id"] for r in res.collect()]
    assert ids and all(i % 2 == 0 for i in ids)


def test_search_refine_matches_exact_at_full_overfetch(spark):
    """With overfetch covering the whole corpus the refine IS exact kNN —
    the same exactness pin the HNSW family declares at full ef."""
    X = make_blobs(150, 16, seed=25)
    tdf = _vec_df(spark, X)
    q = _vec_df(spark, X[:3], id_name="qid")
    idx = BQIndex.fit(tdf, sort_col="id")
    codes = idx.encode(tdf, keep=["id"])
    got = idx.search(codes, q, k=10, refine_train=tdf, overfetch=15)
    want = knn(tdf, q, k=10, method="expr")
    a = sorted((r["qid"], r["rank"], r["id"]) for r in got.collect())
    b = sorted((r["qid"], r["rank"], r["id"]) for r in want.collect())
    assert a == b


def test_pack_np_matches_spark_packer(spark):
    X = make_blobs(50, 70, seed=27)
    from bigvectorbench_spark.operators.bq import pack_np
    thr = [float(t) for t in X.mean(axis=0)]
    df = _vec_df(spark, X)
    got = {r["id"]: list(r["w"]) for r in
           df.select("id", pack_thresholds(F.col("vec"), thr).alias("w")).collect()}
    want = pack_np(X, thr)
    for i in range(len(X)):
        assert got[i] == [int(v) for v in want[i]], f"row {i}"


def test_kernel_candidates_match_expr_with_ties(spark):
    """Integer hamming ties are routine; the kernel's per-batch partial
    selection must reproduce the global (hamming, id) order exactly —
    pinned on a low-entropy corpus where ties dominate."""
    rng = np.random.RandomState(29)
    X = np.sign(rng.randn(400, 16)).astype(np.float32)  # only ±1 values
    tdf = _vec_df(spark, X).repartition(7)              # force many batches
    q = _vec_df(spark, X[:5], id_name="qid")
    idx = BQIndex.fit(tdf, center=False)
    codes = idx.encode(tdf, keep=["id"])
    a = idx.search(codes, q, k=25, method="kernel")
    b = idx.search(codes, q, k=25, method="expr")
    ka = sorted((r["qid"], r["rank"], r["id"], r["dist"]) for r in a.collect())
    kb = sorted((r["qid"], r["rank"], r["id"], r["dist"]) for r in b.collect())
    assert ka == kb and len(ka) == 125


def test_kernel_refined_matches_expr_refined(spark):
    X = make_blobs(300, 32, seed=33)
    tdf = _vec_df(spark, X).repartition(5)
    q = _vec_df(spark, X[:4], id_name="qid")
    idx = BQIndex.fit(tdf, sort_col="id")
    codes = idx.encode(tdf, keep=["id"])
    a = idx.search(codes, q, k=10, refine_train=tdf, overfetch=4, method="kernel")
    b = idx.search(codes, q, k=10, refine_train=tdf, overfetch=4, method="expr")
    assert sorted((r["qid"], r["rank"], r["id"]) for r in a.collect()) == \
        sorted((r["qid"], r["rank"], r["id"]) for r in b.collect())


def test_kernel_rejects_oversized_query_block(spark):
    from bigvectorbench_spark.operators import knn as knn_mod
    X = make_blobs(10, 16, seed=35)
    tdf = _vec_df(spark, X)
    idx = BQIndex.fit(tdf, center=False)
    codes = idx.encode(tdf, keep=["id"])
    q = _vec_df(spark, X, id_name="qid")
    old = knn_mod.MAX_BROADCAST_QUERIES
    try:
        knn_mod.MAX_BROADCAST_QUERIES = 5
        with pytest.raises(ValueError, match="broadcast envelope"):
            idx.search(codes, q, k=3, method="kernel")
    finally:
        knn_mod.MAX_BROADCAST_QUERIES = old


def test_encode_kernel_matches_expr(spark):
    X = make_blobs(80, 70, seed=39)
    tdf = _vec_df(spark, X)
    idx = BQIndex.fit(tdf, sort_col="id")
    a = idx.encode(tdf, keep=["id"], method="expr")
    b = idx.encode(tdf, keep=["id"], method="kernel")
    assert sorted((r["id"], list(r["words"])) for r in a.collect()) == \
        sorted((r["id"], list(r["words"])) for r in b.collect())
    with pytest.raises(ValueError, match="unknown method"):
        idx.encode(tdf, method="nope")


def test_search_qblock_matches_collect_path(spark):
    """The r13 fused hybrid prelude pre-collects (qids, qmat) and passes it
    as ``qblock`` — the kernel must rank identically to collecting the
    queries frame itself, including under permuted block order (scoring is
    per-qid)."""
    X = make_blobs(200, 32, seed=23)
    idx = BQIndex.fit(_vec_df(spark, X), sort_col="id")
    codes = idx.encode(_vec_df(spark, X), keep=["id"])
    q = _vec_df(spark, X[:5], id_name="qid")
    want = sorted(
        tuple(r) for r in idx.search(codes, q, k=7).collect())
    qids = np.arange(5, dtype=np.int64)
    qmat = X[:5].astype(np.float64)
    got = sorted(
        tuple(r) for r in idx.search(
            codes, None, k=7, qblock=(qids, qmat)).collect())
    assert got == want
    perm = np.array([3, 0, 4, 1, 2])
    got_perm = sorted(
        tuple(r) for r in idx.search(
            codes, None, k=7, qblock=(qids[perm], qmat[perm])).collect())
    assert got_perm == want
    with pytest.raises(ValueError, match="kernel-path shortcut"):
        idx.search(codes, q, k=7, qblock=(qids, qmat), method="expr")
    with pytest.raises(ValueError, match="queries or a qblock"):
        idx.search(codes, None, k=7)
    with pytest.raises(ValueError, match="pass queries with refine_train"):
        idx.search(codes, None, k=7, qblock=(qids, qmat),
                   refine_train=_vec_df(spark, X))


def test_fused_ctx_thresholds_match_fit(spark, monkeypatch):
    """queries.hybrid._dense_leg_ctx's float64 mean over the id-sorted
    collected matrix must reproduce BQIndex.fit(sort_col='id') bit for bit
    (the fused hybrid prelude replaces the fit collect with it).  Its
    collect is capped, and a corpus past the cap raises rather than
    returning a truncated query block."""
    from bigvectorbench_spark.operators import bq
    from bigvectorbench_spark.queries import hybrid

    rng = np.random.RandomState(7)
    V = rng.randint(-50, 50, size=(60, 16)).astype(np.int64)
    base = spark.createDataFrame(
        [(i, [int(x) for x in V[i]], int((V[i] ** 2).sum()))
         for i in range(len(V))],
        "doc_id bigint, v array<bigint>, nsq bigint")
    ids, M = hybrid._dense_leg_ctx(base)
    assert list(ids) == list(range(60))
    fit = BQIndex.fit(
        base.select("doc_id",
                    F.col("v").cast("array<double>").alias("vec")),
        vec_col="vec", sort_col="doc_id")
    assert [float(x) for x in M.mean(axis=0)] == fit.thresholds
    monkeypatch.setattr(bq, "MAX_FIT_SAMPLE_ROWS", 60)
    assert len(hybrid._dense_leg_ctx(base)[0]) == 60
    monkeypatch.setattr(bq, "MAX_FIT_SAMPLE_ROWS", 59)
    with pytest.raises(ValueError, match="MAX_FIT_SAMPLE_ROWS=59"):
        hybrid._dense_leg_ctx(base)
