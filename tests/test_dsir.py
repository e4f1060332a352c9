"""DSIR-style hashed-bigram importance selection (operators/dsir.py)."""

import hashlib

import pytest
from pyspark.sql import functions as F

from bigvectorbench_spark.operators import dsir


def _hash60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _buckets(text: str, B: int = 4096) -> list[int]:
    tk = [w for w in text.lower().split() if w]
    th = [_hash60(w) % (1 << 40) for w in tk]
    return [((th[i] * 4093 + th[i + 1]) % (1 << 41)) & (B - 1)
            for i in range(len(th) - 1)]


def _py_weights(corpus: dict[int, str], target_mod: int = 17,
                B: int = 4096):
    """Independent Python reimplementation with the same IEEE op order."""
    occ = [(d, b) for d, t in corpus.items() for b in _buckets(t, B)]
    raw_c: dict[int, int] = {}
    tgt_c: dict[int, int] = {}
    for d, b in occ:
        raw_c[b] = raw_c.get(b, 0) + 1
        tgt_c[b] = tgt_c.get(b, 0) + (1 if d % target_mod == 0 else 0)
    t_raw, t_tgt = sum(raw_c.values()), sum(tgt_c.values())
    term = {b: _round6_half_up(((tgt_c[b] + 1) / (t_tgt + B))
                               / ((raw_c[b] + 1) / (t_raw + B)))
            for b in raw_c}
    out = {}
    for d, t in corpus.items():
        bs = _buckets(t, B)
        if not bs:
            out[d] = (0, None, None, False)
            continue
        # decimal-exact accumulation: sum 6-dp terms in integer micro-units
        ws_u = sum(round(term[b] * 10**6) for b in bs)
        n = len(bs)
        out[d] = (n, ws_u / 10**6, _round6_half_up(ws_u / 10**6 / n),
                  ws_u >= n * 10**6)
    return out


def _round6_half_up(x: float) -> float:
    """Spark's round() on DOUBLE: BigDecimal.valueOf(double) goes through
    Double.toString — the SHORTEST decimal representation — then HALF_UP.
    Mirror with Decimal(repr(x)) (repr is also shortest-round-trip), NOT
    Decimal(x) (exact binary expansion, which loses true 6-dp midpoints
    like 1.170078/4 = 0.2925195) and NOT round() (half-even)."""
    import decimal
    return float(decimal.Decimal(repr(x)).quantize(
        decimal.Decimal("1e-6"), rounding=decimal.ROUND_HALF_UP))


def test_bigram_buckets_match_python(spark):
    texts = {1: "the quick brown fox jumps", 2: "a b", 3: "", 4: "one"}
    df = spark.createDataFrame(list(texts.items()),
                               "doc_id long, text string")
    got = {}
    for r in dsir.bigram_buckets(df).collect():
        got.setdefault(r["doc_id"], []).append(r["b"])
    for d, t in texts.items():
        assert sorted(got.get(d, [])) == sorted(_buckets(t)), d


def test_dsir_weights_match_python(spark):
    corpus = {
        0: "alpha beta gamma alpha beta",        # target (0 % 17 == 0)
        1: "alpha beta gamma delta epsilon",
        2: "zeta eta theta iota kappa",
        17: "alpha beta alpha beta alpha beta",  # target
        3: "zeta eta zeta eta zeta",
        4: "solo",                               # no bigrams
    }
    df = spark.createDataFrame(list(corpus.items()),
                               "doc_id long, text string")
    got = {r["doc_id"]: r for r in dsir.dsir_weights(df).collect()}
    want = _py_weights(corpus)
    assert set(got) == set(corpus)
    for d, (n, ws, mean, keep) in want.items():
        assert got[d]["n_bigrams"] == n, d
        if n == 0:
            assert got[d]["weight_sum"] is None
            assert got[d]["mean_weight"] is None
            assert got[d]["keep"] is False
        else:
            assert float(got[d]["weight_sum"]) == pytest.approx(ws, abs=1e-9)
            assert got[d]["mean_weight"] == pytest.approx(mean, abs=1e-9)
            assert got[d]["keep"] is keep, d
    # target-heavy bigrams should weigh more than never-target ones
    assert got[17]["mean_weight"] > got[2]["mean_weight"]


def test_dsir_report_partitions_docs(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rep = dsir.dsir_report(docs).collect()
    assert sum(r["n_docs"] for r in rep) == docs.count()
    for r in rep:
        assert 0 <= r["n_kept"] <= r["n_scored"] <= r["n_docs"]
        assert r["mean_weight"] is not None and r["mean_weight"] > 0
    # the planted target slice must score above the corpus average:
    # re-run weights and compare slice means
    w = dsir.dsir_weights(docs).filter(F.col("n_bigrams") > 0)
    m = (w.groupBy((F.col("doc_id") % 17 == 0).alias("is_t"))
         .agg(F.avg("mean_weight").alias("mw")).collect())
    mw = {r["is_t"]: r["mw"] for r in m}
    assert mw[True] > mw[False]


def test_dsir_power_of_two_guard(spark):
    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError):
        dsir.bigram_buckets(df, num_buckets=1000)
