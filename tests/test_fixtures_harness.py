"""Seeded fixture generators: determinism, shapes, and filter selectivity."""

import pytest
from pyspark.sql import functions as F

from bigvectorbench_spark import fixtures as fx


def test_fixtures_deterministic(spark):
    a_tr, a_te = fx.random_float(spark, n=500, d=8)
    b_tr, b_te = fx.random_float(spark, n=500, d=8)
    assert a_tr.collect() == b_tr.collect()
    assert a_te.collect() == b_te.collect()
    assert a_tr.count() == 450 and a_te.count() == 50


def test_fixture_registry_all_load(spark):
    # smaller instantiations of each family to keep the test fast
    tr, te = fx.random_bitstring(spark, n=300, d=16)
    assert dict(tr.dtypes)["vec"] == "array<boolean>"
    tr, te = fx.random_jaccard(spark, n=300)
    assert tr.select(F.size("vec")).first()[0] == 20
    tr, te, template = fx.random_filter(spark, n=300, d=8, n_labels=2)
    assert "label_0 <= {label_0}" in template
    assert "label_1" in dict(tr.dtypes)
    tr, te = fx.random_mv(spark, n=200, v=4, d=10)
    assert tr.select(F.size("vecs")).first()[0] == 4


def test_zipf_vocab_is_distinct_and_zipf_shaped():
    """gen_sf.py's Zipf corpus mode: exactly n distinct words, normalized
    Zipf-Mandelbrot probabilities, and the head/tail mass ratio a s≈1.07
    law implies (the fixture the n-gram scaling measurement rests on)."""
    import numpy as np
    import sys, os
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "scripts"))
    from gen_sf import zipf_vocab

    rng = np.random.RandomState(7)
    words, p = zipf_vocab(10_000, rng)
    assert len(words) == 10_000 == len(set(words))
    assert abs(p.sum() - 1.0) < 1e-12
    assert (np.diff(p) <= 0).all()            # monotone rank-frequency
    # top-100 words carry far more mass than ranks 1000-1100 (Zipf head)
    assert p[:100].sum() > 10 * p[1000:1100].sum()
    # but no single word dominates (q=2.7 flattens the very head)
    assert p[0] < 0.05
    # determinism under the same seed
    w2, p2 = zipf_vocab(10_000, np.random.RandomState(7))
    assert (w2 == words).all() and np.allclose(p2, p)


def test_random_filter_ratio_hits_requested_selectivity(spark):
    """The ratio-parameterized generator (reference
    create_artificial_datasets.py:286-520 analog): realized per-query
    selectivity concentrates on the request, for one and for composed
    filters (the multi-filter case multiplies per-filter factors)."""
    from pyspark.sql import functions as F
    from bigvectorbench_spark.operators.filter_knn import (
        compile_filter_template, QUERY_PREFIX)

    for n_filters, ratio in ((1, 0.1), (2, 0.04)):
        train, test, template, param_cols = fx.random_filter_ratio(
            spark, n=4_000, d=8, n_filters=n_filters, max_labels=1_000,
            ratio=ratio, m_test=200, seed=3)
        cond = compile_filter_template(template)
        qp = test.select("qid", *[F.col(c).alias(f"{QUERY_PREFIX}{c}")
                                  for c in param_cols])
        n_train = train.count()
        got = (train.crossJoin(F.broadcast(qp)).filter(F.expr(cond))
               .groupBy("qid").count()
               .agg(F.avg(F.col("count") / n_train)).collect()[0][0])
        assert got == pytest.approx(ratio, rel=0.30), (n_filters, ratio, got)


def test_random_filter_ratio_template_runs_through_filtered_knn(spark):
    from bigvectorbench_spark.operators.filter_knn import filtered_knn

    train, test, template, param_cols = fx.random_filter_ratio(
        spark, n=2_000, d=8, n_filters=1, max_labels=100, ratio=0.2,
        m_test=50, seed=5)
    gt = filtered_knn(train, test.limit(10), k=5,
                      filter_template=template, query_param_cols=param_cols)
    rows = gt.collect()
    assert rows and set(gt.columns) == {"qid", "id", "dist", "rank"}
    # every returned neighbor satisfies its query's range predicate
    labels = {r["id"]: r["label_0"] for r in train.collect()}
    bounds = {r["qid"]: (r["label_l_0"], r["label_r_0"])
              for r in test.limit(10).collect()}
    for r in rows:
        lo, hi = bounds[r["qid"]]
        assert lo <= labels[r["id"]] <= hi
