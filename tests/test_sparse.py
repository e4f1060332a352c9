"""Sparse inner-product top-k vs a pure-python TF-IDF oracle, impact
pruning semantics, and the no-cartesian plan shape."""

import math

import pytest

from bigvectorbench_spark.operators import sparse as sp


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog", "web"),
        (1, "the lazy dog sleeps in the sun all day", "web"),
        (2, "quick quick quick brown foxes everywhere", "web"),
        (3, "spark shuffles partitions across the cluster", "code"),
        (4, "partitions and shuffles and joins in spark", "code"),
        (5, "a completely different document about gardening roses", "web"),
        (6, "roses are red the sun is bright", "web"),
    ]
    return spark.createDataFrame(
        rows, "doc_id bigint, text string, source string"
    ).cache()


def _py_weights(corpus):
    """SMART ltn weights with the operator's rounding discipline."""
    toks = {i: t.split() for i, t, _ in corpus}
    n = len(toks)
    df = {}
    for tk in toks.values():
        for t in set(tk):
            df[t] = df.get(t, 0) + 1
    return {
        i: {
            t: round((1 + math.log(tk.count(t))) * math.log(n / df[t]), 6)
            for t in set(tk)
        }
        for i, tk in toks.items()
    }


def _py_sparse_topk(corpus, qids, k=10):
    w = _py_weights(corpus)
    out = {}
    for q in qids:
        scores = {}
        for d, wd in w.items():
            s = sum(round(w[q][t] * wd[t], 9) for t in w[q] if t in wd)
            if s != 0.0:
                scores[d] = round(s, 6)
        ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
        out[q] = ranked
    return out


def test_sparse_topk_matches_python_oracle(spark, docs):
    corpus = [(r["doc_id"], r["text"], r["source"]) for r in docs.collect()]
    qids = [0, 3, 5]
    queries = spark.createDataFrame([(q,) for q in qids], "qid bigint")
    got = sp.sparse_topk(docs, queries, k=10).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["qid"], []).append((r["rank"], r["doc_id"], r["score"]))
    expect = _py_sparse_topk(corpus, qids)
    for q in qids:
        ranked = [(d, s) for _, d, s in sorted(by_q[q])]
        assert [d for d, _ in ranked] == [d for d, _ in expect[q]], f"qid={q}"
        assert [s for _, s in ranked] == pytest.approx([s for _, s in expect[q]])


def test_self_match_ranks_first(spark, docs):
    """A document's own sparse vector maximizes its inner product here
    (every weight ≥ 0 and the self dot is the full squared mass)."""
    queries = spark.createDataFrame([(0,), (3,)], "qid bigint")
    got = sp.sparse_topk(docs, queries, k=3).filter("rank = 1").collect()
    assert {r["qid"]: r["doc_id"] for r in got} == {0: 0, 3: 3}


def test_prune_postings_caps_list_length(spark, docs):
    wpost = sp.sparse_postings(docs)
    pruned = sp.prune_postings(wpost, m=2)
    per_term = pruned.groupBy("term").count().collect()
    assert all(r["count"] <= 2 for r in per_term)
    # kept rows are each term's top-2 by (weight desc, doc asc)
    full = {}
    for r in wpost.collect():
        full.setdefault(r["term"], []).append((-r["w"], r["doc_id"]))
    kept = {}
    for r in pruned.collect():
        kept.setdefault(r["term"], set()).add(r["doc_id"])
    for t, lst in full.items():
        expect = {d for _, d in sorted(lst)[:2]}
        assert kept[t] == expect, f"term={t}"


def test_pruned_search_with_full_query_side(spark, docs):
    """Pruned doc index + full query vectors: scores only ever shrink
    (weights ≥ 0 ⇒ dropping postings drops non-negative contributions),
    and with a generous m the ranking equals exact."""
    wpost = sp.sparse_postings(docs).cache()
    queries = spark.createDataFrame([(0,), (4,)], "qid bigint")
    exact = sp.sparse_topk(docs, queries, k=5, wpost=wpost)
    loose = sp.sparse_topk(
        docs, queries, k=5, wpost=sp.prune_postings(wpost, m=100), qwpost=wpost
    )
    e = sorted(map(tuple, exact.collect()))
    l = sorted(map(tuple, loose.collect()))
    assert e == l
    tight = sp.sparse_topk(
        docs, queries, k=5, wpost=sp.prune_postings(wpost, m=2), qwpost=wpost
    ).collect()
    exact_scores = {(r["qid"], r["doc_id"]): r["score"] for r in exact.collect()}
    for r in tight:
        if (r["qid"], r["doc_id"]) in exact_scores:
            assert r["score"] <= exact_scores[(r["qid"], r["doc_id"])] + 1e-9


def test_lexical_postings_bigram_tf(spark, docs):
    """Unigram+bigram features keep duplicates: 'quick quick quick brown
    foxes everywhere' holds bigram 'quick quick' twice (tf=2) and unigram
    'quick' three times (tf=3)."""
    post = {(r["term"], r["doc_id"]): r["tf"]
            for r in sp.lexical_postings(docs).collect()}
    assert post[("quick", 2)] == 3
    assert post[("quick quick", 2)] == 2
    assert post[("quick brown", 2)] == 1
    assert ("quick quick quick", 2) not in post  # bigrams only
    # dl = unigrams + bigrams = 2·len − 1 for a doc with no empty tokens
    one = [r for r in sp.lexical_postings(docs).collect() if r["doc_id"] == 5][0]
    assert one["dl"] == 2 * 7 - 1


def test_single_token_doc_has_no_bigrams(spark):
    docs = spark.createDataFrame([(0, "hello", "w"), (1, "", "w")],
                                 "doc_id bigint, text string, source string")
    rows = sp.lexical_postings(docs).collect()
    assert {(r["term"], r["doc_id"], r["tf"]) for r in rows} == {("hello", 0, 1)}


def test_plan_has_no_cartesian(spark, docs):
    """Score joins are broadcast hash joins on ``term``; the only
    nested-loop is the 1-row corpus-stats frame (the bm25 convention —
    see test_plans.test_approx_quantile_buckets_has_no_global_sort)."""
    queries = spark.createDataFrame([(0,)], "qid bigint")
    plan = sp.sparse_topk(docs, queries, k=5)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    # the corpus never shuffles for the query joins
    assert "WindowGroupLimit" in plan


def _py_lexical(text):
    tk = text.split()
    return tk + [f"{a} {b}" for a, b in zip(tk, tk[1:])]


def test_stale_weight_postings_freeze_base_stats(spark, docs):
    base = docs.filter("doc_id < 5")
    delta = docs.filter("doc_id >= 5")
    base_post = sp.lexical_postings(base)
    got = {(r["term"], r["doc_id"]): r["w"]
           for r in sp.stale_weight_postings(delta, base_post).collect()}
    corpus = {r["doc_id"]: _py_lexical(r["text"]) for r in docs.collect()}
    bdocs = {i: f for i, f in corpus.items() if i < 5}
    n0 = len(bdocs)
    df0 = {}
    for f in bdocs.values():
        for t in set(f):
            df0[t] = df0.get(t, 0) + 1
    import math
    for i, feats in corpus.items():
        if i < 5:
            continue
        for t in set(feats):
            expect = round((1 + math.log(feats.count(t)))
                           * math.log(n0 / df0.get(t, 1)), 6)
            assert got[(t, i)] == pytest.approx(expect), (t, i)
    # unseen-in-base terms got the rarest-known idf (df=1): spot one
    unseen = [t for t in corpus[5] if t not in df0]
    assert unseen, "fixture must contain fresh vocabulary"


def test_sparse_delta_report_matches_python(spark, docs):
    base = docs.filter("doc_id < 5")
    delta = docs.filter("doc_id >= 5")
    row = sp.sparse_delta_report(
        sp.lexical_postings(base), sp.lexical_postings(delta)).collect()[0]
    corpus = {r["doc_id"]: _py_lexical(r["text"]) for r in docs.collect()}
    bsets = {i: set(f) for i, f in corpus.items() if i < 5}
    dsets = {i: set(f) for i, f in corpus.items() if i >= 5}
    df0, dfd = {}, {}
    for s in bsets.values():
        for t in s:
            df0[t] = df0.get(t, 0) + 1
    for s in dsets.values():
        for t in s:
            dfd[t] = dfd.get(t, 0) + 1
    assert row["n_base_docs"] == len(bsets)
    assert row["n_delta_docs"] == len(dsets)
    assert row["vocab_base"] == len(df0)
    assert row["vocab_new"] == len(set(dfd) - set(df0))
    assert row["postings_base"] == sum(df0.values())
    assert row["postings_delta"] == sum(dfd.values())
    import math
    shared = set(df0) & set(dfd)
    assert row["terms_touched"] == len(shared)
    n0, nd = len(bsets), len(dsets)
    drifts = [round(abs(math.log(n0 / df0[t])
                        - math.log((n0 + nd) / (df0[t] + dfd[t]))), 9)
              for t in shared]
    assert row["mean_idf_drift"] == pytest.approx(
        round(sum(drifts) / len(drifts), 6))
    assert row["mean_idf_drift"] >= 0


def test_auto_m_rule():
    """auto_m is the calibrated linear rule (m = 0.04·n, floor 64) — the
    measured decade invariant: 50k→2000, 500k→20000
    (the hand-picked r8 values), small corpora land on the floor the
    declared gates were calibrated at."""
    assert sp.auto_m(500) == 64          # oracle-sf corpora: the floor
    assert sp.auto_m(1600) == 64         # floor holds to 0.04·n = 64
    assert sp.auto_m(50_000) == 2_000    # the r8 calibration point
    assert sp.auto_m(500_000) == 20_000  # m ∝ corpus across the decade
    assert sp.auto_m(5_000_000) == 200_000


def test_prune_postings_auto_resolves_from_corpus(spark, docs):
    """m="auto" (the default) resolves via auto_m on the index's distinct
    doc count — identical output to passing the resolved integer."""
    wpost = sp.sparse_postings(docs).cache()
    n_docs = wpost.select("doc_id").distinct().count()
    auto = sorted(map(tuple, sp.prune_postings(wpost).collect()))
    explicit = sorted(map(tuple, sp.prune_postings(
        wpost, m=sp.auto_m(n_docs)).collect()))
    assert auto == explicit and len(auto) > 0


def test_filtered_sparse_equals_postfilter(spark, docs):
    """Prefilter (posting-side semi-join) equals post-filtering the exact
    unfiltered search: weights stay corpus-global, only candidates
    shrink.  Every returned doc satisfies the predicate."""
    wpost = sp.sparse_postings(docs).cache()
    queries = spark.createDataFrame([(0,), (3,)], "qid bigint")
    got = sp.filtered_sparse_topk(
        docs, queries, predicate="source = 'web'", k=5, wpost=wpost)
    rows = got.collect()
    web_ids = {r["doc_id"] for r in
               docs.filter("source = 'web'").select("doc_id").collect()}
    assert rows and all(r["doc_id"] in web_ids for r in rows)
    exact = sp.sparse_topk(docs, queries, k=100, wpost=wpost).collect()
    expect = {}
    for r in sorted(exact, key=lambda r: (r["qid"], r["rank"])):
        if r["doc_id"] in web_ids:
            expect.setdefault(r["qid"], []).append((r["doc_id"], r["score"]))
    for qid, lst in expect.items():
        mine = [(r["doc_id"], r["score"]) for r in
                sorted(rows, key=lambda r: r["rank"]) if r["qid"] == qid]
        assert mine == lst[:5], f"qid={qid}"


def test_filtered_sparse_plan_semi_join_no_cartesian(spark, docs):
    """The filter reaches the posting side as a (broadcast) LEFT SEMI
    join; the only nested-loop join in the plan is the one-row stats
    broadcast — never a doc x doc or doc x query cartesian."""
    wpost = sp.sparse_postings(docs)
    queries = spark.createDataFrame([(0,)], "qid bigint")
    plan = sp.filtered_sparse_topk(
        docs, queries, predicate="source = 'web'", k=5, wpost=wpost
    )._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan
    for line in plan.splitlines():
        if "NestedLoopJoin" in line:
            # only the broadcast one-row stats cross survives
            assert "BroadcastNestedLoopJoin" in line and "Cross" in line


def test_auto_m_spectrum_holds_cut_fraction():
    """The spectrum solver holds the postings cut fraction on ANY df
    shape: uniform df=100 at cut 0.14 -> m=86 (cut exactly 14%); a
    Zipf-ish mixed spectrum lands the realized cut at/below the target
    with m minimal (m-1 overshoots)."""
    uniform = [(100, 50)]
    m = sp.auto_m_spectrum(None, cut_frac=0.14, spectrum=uniform)
    assert m == 86
    zipf = [(1, 1000), (2, 400), (5, 120), (20, 40), (100, 8), (400, 2)]
    total = sum(df * c for df, c in zipf)

    def cut(m):
        return sum((df - m) * c for df, c in zipf if df > m)

    m = sp.auto_m_spectrum(None, cut_frac=0.14, spectrum=zipf)
    assert cut(m) <= 0.14 * total
    assert m == 1 or cut(m - 1) > 0.14 * total
    assert sp.auto_m_spectrum(None, spectrum=[]) == 1


def test_prune_postings_spectrum_mode(spark, docs):
    """m="spectrum" resolves via the df-spectrum histogram computed from
    the index itself — identical output to passing the resolved integer,
    and the histogram matches a driver-side recount."""
    wpost = sp.sparse_postings(docs).cache()
    hist = sp.df_spectrum(wpost)
    dfs = {}
    for r in wpost.groupBy("term").count().collect():
        dfs[r["count"]] = dfs.get(r["count"], 0) + 1
    assert hist == sorted(dfs.items())
    m = sp.auto_m_spectrum(wpost)
    got = sorted(map(tuple, sp.prune_postings(wpost, m="spectrum").collect()))
    want = sorted(map(tuple, sp.prune_postings(wpost, m=m).collect()))
    assert got == want and len(got) > 0
