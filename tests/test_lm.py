"""Bigram-LM fluency scoring (operators/lm.py) vs a sequential Python
oracle: LM counts, OOV accounting and the exact mean conditional
likelihood."""

from collections import Counter

import pytest
from pyspark.sql import functions as F

from bigvectorbench_spark.operators import lm


TEXTS = [
    (0, "the cat sat on the mat"),
    (1, "the cat sat on the hat"),
    (2, "a dog ran into the park"),
    (3, "quantum flux harmonics destabilize the manifold"),
    (4, "the cat sat"),
    (5, ""),            # no tokens
    (6, "single"),      # one token -> no bigrams
    (7, "the the the the"),
]


def _df(spark):
    return spark.createDataFrame(TEXTS, "doc_id long, text string")


def _python_lm(train_ids):
    bg, ctx = Counter(), Counter()
    for i, t in TEXTS:
        if i not in train_ids:
            continue
        tk = [w for w in t.lower().split() if w]
        for a, b in zip(tk, tk[1:]):
            bg[(a, b)] += 1
            ctx[a] += 1
    return bg, ctx


def _python_report(train_ids):
    bg, ctx = _python_lm(train_ids)
    out = {}
    for i, t in TEXTS:
        tk = [w for w in t.lower().split() if w]
        prs = list(zip(tk, tk[1:]))
        n = len(prs)
        oov = sum(1 for p in prs if p not in bg)
        seen = n - oov
        hit = round(seen / n, 6) if n else None
        mcl = (round(sum(round(bg[p] / ctx[p[0]], 6) for p in prs if p in bg)
                     / seen, 6) if seen else None)
        out[i] = (n, oov, hit, mcl)
    return out


def test_fit_bigram_lm_counts(spark):
    got = {(r["w1"], r["w2"]): (r["c_bg"], r["c_ctx"])
           for r in lm.fit_bigram_lm(
               _df(spark).filter("doc_id % 7 = 0")).collect()}
    bg, ctx = _python_lm({0, 7})
    assert got == {p: (c, ctx[p[0]]) for p, c in bg.items()}
    # doc 7's degenerate repetition: "the the" x3 with context count 3
    assert got[("the", "the")] == (3, 3 + 2)  # +2 "the cat" from doc 0


def test_exact_report_matches_python(spark):
    rep = {r["doc_id"]: (r["n_bigrams"], r["n_oov"], r["hit_rate"],
                         r["mean_cond_lik"])
           for r in lm.lm_score_report(_df(spark)).collect()}
    want = _python_report({0, 7})
    assert set(rep) == set(range(8))  # every doc present, empties included
    for i in range(8):
        g, w = rep[i], want[i]
        assert g[:2] == w[:2], i
        for a, b in zip(g[2:], w[2:]):
            if b is None:
                assert a is None
            else:
                assert a == pytest.approx(b, abs=1e-9)
    # The gibberish doc is all-OOV; the near-duplicate of a train doc is
    # fully in-vocabulary — the separation the filter exists to produce.
    assert rep[3][1] == rep[3][0] > 0 and rep[3][2] == 0.0
    assert rep[1][1] == 1  # only "the hat" unseen
    assert rep[5] == (0, 0, None, None)
    assert rep[6] == (0, 0, None, None)


def test_custom_train_filter(spark):
    rep = {r["doc_id"]: (r["n_bigrams"], r["n_oov"])
           for r in lm.lm_score_report(
               _df(spark), train_filter=F.col("doc_id") < 3).collect()}
    want = _python_report({0, 1, 2})
    assert rep == {i: want[i][:2] for i in range(8)}


# ---------------------------------------------------------------- CCNet bins


def _bins_corpus(spark):
    # 12 scorable docs per lang bucket + one unscorable (single token).
    # doc_id % 7 == 0 docs are the LM train slice; repetitive docs score
    # high, shuffled-vocab docs score low.
    rows = []
    i = 0
    for lang in ("en", "fr"):
        for j in range(12):
            base = ["alpha", "beta", "gamma", "delta"]
            # j >= 6 docs carry one in-LM bigram (alpha beta) so they
            # score (mostly-OOV, not unscorable) plus unique-vocab tails
            txt = (" ".join(base * 3) if j < 6 else
                   "alpha beta " + " ".join(
                       f"w{lang}{j}x{k}" for k in range(12)))
            rows.append((i, lang, txt))
            i += 1
        rows.append((i, lang, "solo"))
        i += 1
    return spark.createDataFrame(rows, "doc_id long, lang string, text string")


def test_ccnet_bins_exact_partitions_and_order(spark):
    df = _bins_corpus(spark)
    out = lm.ccnet_bins_report(df, lang_col="lang").collect()
    by = {(r["lang"], r["bin"]): r for r in out}
    for lang in ("en", "fr"):
        # 12 scored docs -> terciles of exactly 4; 1 unscored
        for b in ("head", "middle", "tail"):
            assert by[(lang, b)]["n_docs"] == 4, (lang, b)
        assert by[(lang, "unscored")]["n_docs"] == 1
        assert by[(lang, "unscored")]["mean_lik"] is None
        # bins are ordered: head mean >= middle mean >= tail mean
        assert (by[(lang, "head")]["mean_lik"]
                >= by[(lang, "middle")]["mean_lik"]
                >= by[(lang, "tail")]["mean_lik"])
    # docs partition: 26 total
    assert sum(r["n_docs"] for r in out) == 26


