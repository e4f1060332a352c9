"""Sharded HNSW: build artifacts, beam search, exactness at full ef.

The key pin: with ef >= shard size the beam visits every reachable node,
so the sharded search must EQUAL brute-force kNN — an approximate index
you can drive to exactness needs no recall hand-waving to test.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from bigvectorbench_spark.operators.hnsw import build_hnsw_shards, hnsw_search
from bigvectorbench_spark.operators.knn import knn
from tests.conftest import make_blobs


@pytest.fixture(scope="module")
def data(spark):
    X = make_blobs(840, 16, centers=12, seed=9)
    train = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(800)],
        "id bigint, vec array<float>").cache()
    queries = spark.createDataFrame(
        [(i, [float(x) for x in X[800 + i]]) for i in range(25)],
        "qid bigint, vec array<float>").cache()
    shards = build_hnsw_shards(train, m=8, ef_construction=64,
                               num_shards=4, seed=3).cache()
    return train, queries, shards


def test_artifact_shape(data):
    train, _, shards = data
    rows = shards.collect()
    assert len(rows) == 4                      # one graph per shard
    assert sum(r["n"] for r in rows) == train.count()
    assert all(len(r["payload"]) > 0 for r in rows)


def test_full_ef_equals_exact_knn(data):
    train, queries, shards = data
    got = hnsw_search(shards, queries, k=10, ef=800)
    want = knn(train, queries, k=10, method="expr")
    g = [(r["qid"], r["id"], r["rank"]) for r in got.orderBy("qid", "rank").collect()]
    w = [(r["qid"], r["id"], r["rank"]) for r in want.orderBy("qid", "rank").collect()]
    assert g == w
    # distances agree with the exact metric too
    gd = {(r["qid"], r["id"]): r["dist"] for r in got.collect()}
    wd = {(r["qid"], r["id"]): r["dist"] for r in want.collect()}
    assert all(abs(gd[k] - wd[k]) < 1e-6 for k in wd)


def test_recall_monotone_in_ef(data):
    train, queries, shards = data
    exact = {(r["qid"], r["id"])
             for r in knn(train, queries, k=10, method="expr").collect()}

    def recall(ef):
        got = {(r["qid"], r["id"])
               for r in hnsw_search(shards, queries, k=10, ef=ef).collect()}
        return len(got & exact) / len(exact)

    r8, r64 = recall(8), recall(64)
    assert r64 >= r8 - 1e-9
    assert r64 >= 0.9


def test_artifact_parquet_round_trip(data, tmp_path, spark):
    train, queries, shards = data
    path = str(tmp_path / "hnsw_index")
    shards.write.mode("overwrite").parquet(path)
    reloaded = spark.read.parquet(path)
    a = [(r["qid"], r["id"]) for r in
         hnsw_search(shards, queries, k=5, ef=800).orderBy("qid", "rank").collect()]
    b = [(r["qid"], r["id"]) for r in
         hnsw_search(reloaded, queries, k=5, ef=800).orderBy("qid", "rank").collect()]
    assert a == b


def test_shard_determinism(spark, data):
    """Same seed -> byte-identical artifacts (driver rebuild == executor
    rebuild, the property the ANN oracles depend on elsewhere)."""
    train, _, shards = data
    again = build_hnsw_shards(train, m=8, ef_construction=64,
                              num_shards=4, seed=3)
    a = {r["shard_id"]: bytes(r["payload"]) for r in shards.collect()}
    b = {r["shard_id"]: bytes(r["payload"]) for r in again.collect()}
    assert a == b


def test_derived_shard_count_keeps_exactness_above_oracle_scale(spark):
    """The r5 regression pin: with a FIXED shard count, a 10× corpus puts
    ef < shard size and sharded search silently stops being exact.  The
    entry queries derive num_shards = ceil(n/500); reproduce that here on
    a corpus where 4 fixed shards would hold ~700 rows each (> ef=512)
    and assert the derived sharding still equals brute force."""
    X = make_blobs(2860, 16, centers=12, seed=11)
    train = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(2800)],
        "id bigint, vec array<float>").cache()
    queries = spark.createDataFrame(
        [(i, [float(x) for x in X[2800 + i]]) for i in range(15)],
        "qid bigint, vec array<float>").cache()
    num_shards = max(4, -(-train.count() // 500))       # = 6 here
    assert num_shards == 6
    shards = build_hnsw_shards(train, m=8, ef_construction=64,
                               num_shards=num_shards, seed=3)
    # worst shard must stay under the beam width the entry query uses
    assert shards.agg(F.max("n")).collect()[0][0] <= 512
    got = hnsw_search(shards, queries, k=10, ef=512)
    want = knn(train, queries, k=10, method="expr")
    g = [(r["qid"], r["id"], r["rank"]) for r in got.orderBy("qid", "rank").collect()]
    w = [(r["qid"], r["id"], r["rank"]) for r in want.orderBy("qid", "rank").collect()]
    assert g == w


def test_load_or_build_caches_and_serves_identical_results(data, tmp_path, spark):
    """The serving contract: first call builds + persists, second call
    reads the stored artifact; both serve bit-identical search results
    (payloads are the same float32-serialized graphs either way)."""
    import os

    from bigvectorbench_spark.operators.hnsw import load_or_build_hnsw

    train, queries, _ = data
    kw = dict(cache_key="t800", m=8, ef_construction=64, num_shards=4,
              seed=3, cache_root=str(tmp_path))
    first = load_or_build_hnsw(train, **kw)
    stored = [p for p in os.listdir(tmp_path) if p.startswith("hnsw_t800")]
    assert len(stored) == 1
    mtime = os.path.getmtime(tmp_path / stored[0] / "_SUCCESS")
    second = load_or_build_hnsw(train, **kw)  # must NOT rebuild
    assert os.path.getmtime(tmp_path / stored[0] / "_SUCCESS") == mtime
    r1 = sorted(map(tuple, hnsw_search(first, queries, k=5, ef=24)
                    .select("qid", "id", "rank").collect()))
    r2 = sorted(map(tuple, hnsw_search(second, queries, k=5, ef=24)
                    .select("qid", "id", "rank").collect()))
    assert r1 == r2 and len(r1) == 125


def test_auto_ef_calibration():
    """ef='auto' reproduces the measured constant-recall ladder (SCALING.md:
    shard 2,500 → 48, shard 25,000 → 384) and floors at exact-search width
    on the oracle-scale shards."""
    from bigvectorbench_spark.operators.hnsw import auto_ef

    assert auto_ef(2_500, k=10) == 48
    assert auto_ef(25_000, k=10) == 384
    assert auto_ef(62, k=10) == 24          # oracle corpus: 24 >= shard → exact
    assert auto_ef(100, k=50) == 100        # 2k floor dominates tiny shards
    # monotone in shard size
    vals = [auto_ef(n) for n in (100, 1_000, 10_000, 100_000, 1_000_000)]
    assert vals == sorted(vals)


def test_auto_ef_search_exact_on_small_shards(data):
    """With ef='auto', shards smaller than the 24-beam floor are searched
    exactly (ef ≥ shard size visits every reachable node) — the serving
    default keeps the oracle-scale exactness property.  800 rows over 40
    shards = 20 rows/shard < 24."""
    train, queries, _ = data
    shards = build_hnsw_shards(train, m=4, ef_construction=32,
                               num_shards=40, seed=3)
    q = queries.limit(8)
    approx = hnsw_search(shards, q, k=5, ef="auto")
    exact = knn(train, q, k=5, method="expr")
    a = {(r["qid"], r["id"]) for r in approx.collect()}
    b = {(r["qid"], r["id"]) for r in exact.collect()}
    assert a == b


def test_delta_absorb_exact_and_base_untouched(data, spark):
    """Incremental maintenance (the ivf_delta twin): arrivals build their
    own shard(s) with ids offset past the base's; the base artifact is
    BYTE-IDENTICAL afterwards (zero reads-modify-writes of stored
    graphs), and at ef >= shard size the union search equals exact kNN
    over base+delta — absorb-then-search == full rebuild."""
    from bigvectorbench_spark.operators.hnsw import hnsw_delta_shards

    train, queries, _ = data
    base = train.filter("id % 10 != 0").cache()
    delta = train.filter("id % 10 = 0").cache()
    base_shards = build_hnsw_shards(base, m=8, ef_construction=64,
                                    num_shards=4, seed=3).cache()
    before = {r["shard_id"]: bytes(r["payload"])
              for r in base_shards.collect()}

    delta_shards = hnsw_delta_shards(delta, base_shards, m=8,
                                     ef_construction=64, seed=3)
    drows = delta_shards.collect()
    assert all(r["shard_id"] >= 4 for r in drows)          # past the base
    assert sum(r["n"] for r in drows) == delta.count()     # all arrivals

    after = {r["shard_id"]: bytes(r["payload"])
             for r in base_shards.collect()}
    assert before == after                                  # byte-identical

    union = base_shards.unionByName(delta_shards)
    got = hnsw_search(union, queries, k=10, ef=800)
    want = knn(train, queries, k=10, method="expr")
    g = [(r["qid"], r["id"], r["rank"])
         for r in got.orderBy("qid", "rank").collect()]
    w = [(r["qid"], r["id"], r["rank"])
         for r in want.orderBy("qid", "rank").collect()]
    assert g == w


def test_delta_report_meters_accumulated_absorbs(data, spark):
    """hnsw_delta_report is the family's rebuild-on-evidence meter
    (ivf_delta_report / sparse_delta_report convention) in the quantity
    graph-shard absorbs actually degrade: search work = shard count.
    Hand-computed on the module fixture: base 800 rows / 4 shards
    (per = 200); two absorbs of 100 rows each -> 1 shard apiece; a
    same-sizing rebuild packs 1000 rows into ceil(1000/200) = 5 shards,
    so 6 resident shards cost work_growth = 6/5 = 1.2 beams per query
    vs the rebuild."""
    from bigvectorbench_spark.operators.hnsw import (
        hnsw_delta_report, hnsw_delta_shards)

    train, _, base_shards = data            # 800 rows / 4 shards
    extra = spark.range(100).select(
        (F.col("id") + 10_000).alias("id"),
        F.array(*[F.rand(seed=i) for i in range(16)])
        .cast("array<float>").alias("vec"))
    extra2 = extra.withColumn("id", F.col("id") + 1_000)
    s1 = hnsw_delta_shards(extra, base_shards, m=8, ef_construction=64,
                           seed=3, n_delta=100).cache()
    s2 = hnsw_delta_shards(extra2, base_shards.unionByName(s1), m=8,
                           ef_construction=64, seed=3, n_delta=100)
    row = hnsw_delta_report(base_shards, s1.unionByName(s2)).collect()[0]
    assert row.asDict() == {
        "n_base_shards": 4, "n_delta_shards": 2,
        "rows_base": 800, "rows_delta": 200,
        "shards_total": 6, "shards_rebuilt": 5, "work_growth": 1.2}


def test_delta_report_empty_delta_is_identity(data, spark):
    """Zero absorbs -> work_growth exactly 1.0 (no delta rows, no delta
    shards, rebuilt == base layout): the meter's fixed point."""
    from bigvectorbench_spark.operators.hnsw import hnsw_delta_report

    _, _, base_shards = data
    row = hnsw_delta_report(
        base_shards, base_shards.filter("shard_id < 0")).collect()[0]
    assert row["n_delta_shards"] == 0 and row["rows_delta"] == 0
    assert row["shards_total"] == 4 and row["shards_rebuilt"] == 4
    assert row["work_growth"] == 1.0


def test_delta_rejects_empty_base(data, spark):
    """An empty base has no shard layout to extend — the sizing contract
    (match the base's rows/shard) is undefined, so refuse loudly instead
    of crashing on int(None)."""
    from bigvectorbench_spark.operators.hnsw import hnsw_delta_shards

    train, _, shards = data
    empty = shards.filter("shard_id < 0")
    with pytest.raises(ValueError, match="base_shards is empty"):
        hnsw_delta_shards(train.limit(5), empty, m=8, ef_construction=64,
                          seed=3, n_delta=5)


def test_delta_shard_sizing_matches_base(data, spark):
    """num_shards defaults to the BASE's rows/shard so arrival shards
    keep the ef-vs-shard-size contract; n_delta skips the sizing job."""
    from bigvectorbench_spark.operators.hnsw import hnsw_delta_shards

    train, _, shards = data                    # 800 rows / 4 shards = 200
    big_delta = train.filter("id < 500")       # 500 arrivals -> 3 shards
    ds = hnsw_delta_shards(big_delta, shards, m=8, ef_construction=64,
                           seed=3, n_delta=500)
    rows = ds.collect()
    assert len(rows) == 3
    assert {r["shard_id"] for r in rows} == {4, 5, 6}
