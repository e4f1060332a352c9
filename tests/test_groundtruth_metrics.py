"""Ground-truth builder padding/sorting semantics + metrics pipeline
(reference results.py:76-86, plotting/metrics.py, plotting/utils.py:16-38)."""

import math

import pytest
from pyspark.sql import functions as F

from bigvectorbench_spark.operators import groundtruth as gt
from bigvectorbench_spark.operators import metrics as M


@pytest.fixture(scope="module")
def tiny(spark):
    train = spark.createDataFrame(
        [(i, [float(i), 0.0]) for i in range(20)], "id bigint, vec array<float>"
    )
    test = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [19.0, 0.0])], "qid bigint, vec array<float>"
    )
    return train, test


def test_groundtruth_sorted_and_exact(tiny):
    train, test = tiny
    out = gt.build_groundtruth(train, test, k=5, method="expr").orderBy("qid").collect()
    assert out[0]["neighbors"] == [0, 1, 2, 3, 4]
    assert out[0]["distances"] == pytest.approx([0.0, 1.0, 2.0, 3.0, 4.0])
    assert out[1]["neighbors"] == [19, 18, 17, 16, 15]


def test_groundtruth_padding(tiny):
    train, test = tiny
    # filter keeps only ids < 3 -> 3 real neighbors + 2 pads
    out = gt.build_groundtruth(
        train.withColumn("lab", F.col("id")),
        test.withColumn("maxlab", F.lit(2)),
        k=5,
        filter_template="lab <= {maxlab}",
        query_param_cols=["maxlab"],
    ).orderBy("qid").collect()
    assert out[0]["neighbors"] == [0, 1, 2, -1, -1]
    assert out[0]["distances"][3] == math.inf
    # zero-match query still emits a fully padded row
    out2 = gt.build_groundtruth(
        train.withColumn("lab", F.col("id")),
        test.withColumn("maxlab", F.lit(-1)),
        k=4,
        filter_template="lab <= {maxlab}",
        query_param_cols=["maxlab"],
    ).collect()
    assert all(r["neighbors"] == [-1, -1, -1, -1] for r in out2)


def test_verify_distances_clean_and_dirty(tiny, spark):
    train, test = tiny
    packed = gt.build_groundtruth(train, test, k=3, method="expr")
    assert gt.verify_distances(packed, train, test).count() == 0
    corrupted = packed.withColumn(
        "distances", F.transform("distances", lambda d: d + F.lit(0.5))
    )
    assert gt.verify_distances(corrupted, train, test).count() > 0


def test_recall_reference_values(spark):
    """The reference's metrics_test.py:31-65 recall cases: 0, 0.5, 0.5, 1.0."""
    truth = spark.createDataFrame(
        [(0, [1, 2]), (1, [1, 2]), (2, [1, 2]), (3, [1, 2])],
        "qid bigint, neighbors array<bigint>",
    )
    run = spark.createDataFrame(
        [(0, [3, 4]), (1, [1, 3]), (2, [2, 3]), (3, [2, 1])],
        "qid bigint, neighbors array<bigint>",
    )
    vals = {r["qid"]: r["recall"] for r in M.recall_per_query(run, truth).collect()}
    assert vals == {0: 0.0, 1: 0.5, 2: 0.5, 3: 1.0}


def test_recall_pad_and_empty_truth(spark):
    truth = spark.createDataFrame(
        [(0, [1, -1, -1]), (1, [-1, -1, -1])], "qid bigint, neighbors array<bigint>"
    )
    run = spark.createDataFrame(
        [(0, [1, 5, -1]), (1, [7, 8, 9])], "qid bigint, neighbors array<bigint>"
    )
    vals = {r["qid"]: r["recall"] for r in M.recall_per_query(run, truth).collect()}
    assert vals[0] == 1.0   # pad stripped from both sides
    assert vals[1] == 1.0   # empty truth -> 1.0 (plotting/metrics.py:21)


def test_qps_and_percentiles(spark):
    times = spark.createDataFrame([(0, 0.1), (1, 0.2), (2, 0.3), (3, 0.4)], "qid bigint, latency double")
    p = M.latency_percentiles(times, percentiles=(0.5, 0.9)).collect()[0]
    # np.percentile linear interpolation: p50 = 0.25s -> 250ms
    assert p["p5"] == pytest.approx(250.0)
    assert p["p9"] == pytest.approx(370.0)


def test_pareto_frontier(spark):
    # (recall, qps): the frontier keeps strictly-improving recall as qps falls
    pts = spark.createDataFrame(
        [(0.5, 100.0), (0.6, 90.0), (0.55, 80.0), (0.9, 50.0), (0.8, 40.0), (0.95, 10.0)],
        "recall double, qps double",
    )
    got = sorted(
        (r["recall"], r["qps"]) for r in M.pareto_frontier(pts, x="recall", y="qps").collect()
    )
    assert got == [(0.5, 100.0), (0.6, 90.0), (0.9, 50.0), (0.95, 10.0)]


def test_approx_quantile_buckets_vs_ntile(spark):
    """The parallel threshold-tagging plan agrees with global ntile within
    one bucket on unique values (boundary elements may legally differ by
    one: ntile forces exact counts, thresholds keep ties together), and
    bucket sizes stay balanced."""
    import numpy as np
    from pyspark.sql import Window
    import pyspark.sql.functions as F

    rng = np.random.RandomState(11)
    vals = rng.permutation(1000).astype(float)  # unique -> no tie mass
    df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(vals)], "id bigint, q double")
    got = {r["id"]: r["bucket"]
           for r in M.approx_quantile_buckets(df, "q", n_buckets=10).collect()}
    w = Window.orderBy(F.col("q"), F.col("id"))
    want = {r["id"]: r["nt"] for r in
            df.withColumn("nt", F.ntile(10).over(w)).collect()}
    assert all(abs(got[i] - want[i]) <= 1 for i in got)
    assert sum(got[i] != want[i] for i in got) <= 20  # boundary rows only
    from collections import Counter
    sizes = Counter(got.values())
    assert set(sizes) == set(range(1, 11))
    assert all(80 <= n <= 120 for n in sizes.values())


def test_approx_quantile_buckets_ties_stay_together(spark):
    """Rows with equal values always share a bucket (strict > comparison) —
    the semantic ntile cannot offer."""
    df = spark.createDataFrame(
        [(i, float(i % 3)) for i in range(300)], "id bigint, q double")
    out = M.approx_quantile_buckets(df, "q", n_buckets=4)
    per_val = out.groupBy("q").agg(
        F.countDistinct("bucket").alias("nb")).collect()
    assert all(r["nb"] == 1 for r in per_val)
