"""Bloom filter: no false negatives ever, fp rate near theory, build
determinism, and the array-any probe's segmentation edge cases."""

import pytest
from pyspark.sql import functions as F

from bigvectorbench_spark.operators import bloom as bl


def test_params_monotone_and_sane():
    m1, k1 = bl.bloom_params(1000, 0.01)
    m2, k2 = bl.bloom_params(1000, 0.0001)
    assert m2 > m1 >= 64
    assert 1 <= k1 <= 16 and 1 <= k2 <= 16
    # prime m (the full-period guarantee) and minimal-k fp contract
    for m, k, p in ((m1, k1, 0.01), (m2, k2, 0.0001)):
        assert all(m % f for f in range(2, int(m ** 0.5) + 1)), m
        import math
        assert (1 - math.exp(-k * 1000 / m)) ** k <= p
        if k > 1:
            assert (1 - math.exp(-(k - 1) * 1000 / m)) ** (k - 1) > p
    with pytest.raises(ValueError):
        bl.bloom_params(10, 1.5)


def _probe_one(df, bm, m, k):
    """Membership of each row's single value ``v``, through the array
    probe as a one-element array."""
    return bl.bloom_probe_any(df.select(F.array("v").alias("vs")), "vs", bm,
                              m_bits=m, k=k)


def test_no_false_negatives(spark):
    items = spark.range(0, 2000).select((F.col("id") * 7919 + 13).alias("v"))
    m, k = bl.bloom_params(2000, 0.01)
    bm = bl.bloom_build(items, "v", m_bits=m, k=k)
    probed = _probe_one(items, bm, m, k)
    assert probed.filter(~F.col("any_member")).count() == 0


def test_fp_rate_near_theory(spark):
    """Probe 20k values disjoint from the 2k inserted: observed fp rate
    must stay under 3x the designed 1% (binomial slack on 20k trials)."""
    items = spark.range(0, 2000).select((F.col("id") * 7919 + 13).alias("v"))
    m, k = bl.bloom_params(2000, 0.01)
    bm = bl.bloom_build(items, "v", m_bits=m, k=k)
    others = spark.range(0, 20000).select((-F.col("id") * 104729 - 7).alias("v"))
    fp = _probe_one(others, bm, m, k).filter("any_member").count()
    assert fp / 20000 < 0.03


def test_build_is_deterministic_across_partitionings(spark):
    items = spark.range(0, 5000).select((F.col("id") * 31 + 5).alias("v"))
    m, k = bl.bloom_params(5000, 0.001)
    a = bl.bloom_build(items.repartition(2), "v", m_bits=m, k=k)
    b = bl.bloom_build(items.repartition(17), "v", m_bits=m, k=k)
    assert a == b


def test_probe_any_segments_rows(spark):
    """Mixed rows — empty arrays, all-member, no-member, one-of-many —
    exercise the reduceat segmentation."""
    items = spark.createDataFrame([(i,) for i in range(100)], "v bigint")
    m, k = bl.bloom_params(100, 0.0001)
    bm = bl.bloom_build(items, "v", m_bits=m, k=k)
    docs = spark.createDataFrame(
        [(0, [1, 2, 3]),          # all inserted
         (1, []),                  # empty -> False
         (2, [10_000_001, 10_000_002]),  # none inserted
         (3, [10_000_003, 50]),    # one of many
         (4, [99])],
        "doc_id bigint, whs array<bigint>")
    got = {r["doc_id"]: r["any_member"]
           for r in bl.bloom_probe_any(docs, "whs", bm, m_bits=m, k=k).collect()}
    assert got[0] is True and got[3] is True and got[4] is True
    assert got[1] is False
    # doc 2 could only be True via a false positive; at p=1e-4 over 2
    # windows that is a ~2e-4 event — assert the overwhelmingly likely value
    assert got[2] is False


def test_probe_keeps_all_columns(spark):
    items = spark.createDataFrame([(i,) for i in range(10)], "v bigint")
    m, k = bl.bloom_params(10, 0.01)
    bm = bl.bloom_build(items, "v", m_bits=m, k=k)
    df = spark.createDataFrame([(1, [5], "a"), (2, [123456], "b")],
                               "id bigint, vs array<bigint>, tag string")
    out = bl.bloom_probe_any(df, "vs", bm, m_bits=m, k=k)
    assert set(out.columns) == {"id", "vs", "tag", "any_member"}
    rows = {r["id"]: (r["tag"], r["any_member"]) for r in out.collect()}
    assert rows[1] == ("a", True)


def test_bloom_decontaminate_matches_exact_counts(spark):
    """On a corpus with planted eval overlap, the Bloom report's exact
    columns equal decontaminate_report's and both booleans hold."""
    from bigvectorbench_spark.operators import curation as cur

    eval_text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(0, eval_text, "s0")]  # doc 0: the eval slice (0 % 97 == 0)
    rows += [(i, f"unique text number {i} " * 6, "s" + str(i % 2))
             for i in range(1, 40)]
    rows += [(40, "prefix " + eval_text + " suffix", "s0"),  # contaminated
             (41, eval_text, "s1")]                           # contaminated
    docs = spark.createDataFrame(rows, "doc_id bigint, text string, source string")
    got = {r["source"]: r for r in
           cur.bloom_decontaminate_report(docs).collect()}
    exact = {r["source"]: r for r in cur.decontaminate_report(docs).collect()}
    assert set(got) == set(exact)
    for s in exact:
        assert got[s]["n_train"] == exact[s]["n_train"]
        assert got[s]["n_contaminated"] == exact[s]["n_contaminated"]
        assert got[s]["superset_ok"] and got[s]["fp_extra_ok"]
    assert got["s0"]["n_contaminated"] >= 1 and got["s1"]["n_contaminated"] >= 1


def test_probe_any_plan_is_map_only(spark):
    """The array-any probe claims map-only: no join, no exchange, no
    generate (explode) anywhere in its plan."""
    items = spark.createDataFrame([(i,) for i in range(50)], "v bigint")
    m, k = bl.bloom_params(50, 0.01)
    bm = bl.bloom_build(items, "v", m_bits=m, k=k)
    docs = spark.createDataFrame([(0, [1, 2]), (1, [3])],
                                 "doc_id bigint, whs array<bigint>")
    plan = bl.bloom_probe_any(docs, "whs", bm, m_bits=m, k=k)._jdf.queryExecution() \
        .executedPlan().toString()
    for op in ("Join", "Exchange", "Generate"):
        assert op not in plan, op


def test_multichunk_build_is_byte_identical(spark, monkeypatch):
    """The chunked two-stage merge (256MB rows, per-chunk executor OR —
    the >1GiB-bitmap path) produces the same bitmap as the single-chunk
    build: force multi-chunk by shrinking the chunk size."""
    items = spark.range(0, 3000).select((F.col("id") * 104729 + 7).alias("v"))
    m, k = bl.bloom_params(3000, 0.01)
    one = bl.bloom_build(items.repartition(8), "v", m_bits=m, k=k)
    n_bytes = (m + 7) // 8
    monkeypatch.setattr(bl, "_BUILD_CHUNK_BYTES", max(64, n_bytes // 5))
    many = bl.bloom_build(items.repartition(8), "v", m_bits=m, k=k)
    assert many == one and len(many) == n_bytes


