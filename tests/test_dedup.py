"""Dedup operator tests: exact, n-gram Jaccard, MinHash-LSH, SimHash,
embedding cosine — all against small hand-built or numpy oracles."""

import numpy as np
import pytest

from bigvectorbench_spark.operators import dedup as dd


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog while rain falls on the green hills"
    near = base.replace("green", "blue")          # one-token change
    far = "completely unrelated text about spark query engines and shuffle partitions here"
    rows = [
        (0, base), (1, base),                     # exact dupes
        (2, "  THE quick   brown fox jumps over the lazy dog while rain falls on the green hills "),
        (3, near),                                # near-dup of 0
        (4, far),
        (5, "another separate document with its own words and nothing shared at all today"),
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string").cache()


def test_exact_dup_groups(docs):
    groups = {r["canonical_id"]: r["n_docs"] for r in dd.exact_dup_groups(docs).collect()}
    # 0,1,2 normalize to identical text
    assert groups[0] == 3
    assert sum(groups.values()) == 6


def _py_jaccard(a, b, n=3):
    def sh(t):
        tk = t.lower().split()
        return {" ".join(tk[i:i + n]) for i in range(len(tk) - n + 1)}
    A, B = sh(a), sh(b)
    return len(A & B) / len(A | B)


def test_ngram_jaccard_pairs_exact(docs):
    rows = docs.collect()
    texts = {r["doc_id"]: r["text"] for r in rows}
    got = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in dd.ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    # oracle: all pairs with jaccard >= 0.5
    expect = {}
    ids = sorted(texts)
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            jv = _py_jaccard(texts[ids[i]], texts[ids[j]])
            if jv >= 0.5:
                expect[(ids[i], ids[j])] = jv
    assert set(got) == set(expect)
    for k in got:
        assert got[k] == pytest.approx(expect[k])


def test_ngram_freq_order_modes_agree(docs, spark):
    """The broadcast-hot global order (VERDICT r6 ask #7 — replaces the
    per-occurrence freq join-back) yields the IDENTICAL verified pair set
    and jaccards as the exact two-shuffle order: any consistent global
    total order is complete under the prefix theorem, and verification is
    exact either way.  Checked with and without the degenerate-shingle cap,
    and with a hot head far smaller than the vocabulary."""
    for max_f, head in ((None, 5), (3, 50)):
        exact = {(r["id_a"], r["id_b"]): r["jaccard"]
                 for r in dd.ngram_jaccard_pairs(
                     docs, threshold=0.5, max_shingle_freq=max_f,
                     freq_order="exact").collect()}
        hot = {(r["id_a"], r["id_b"]): r["jaccard"]
               for r in dd.ngram_jaccard_pairs(
                   docs, threshold=0.5, max_shingle_freq=max_f,
                   freq_order="hot", max_hot_shingles=head).collect()}
        assert hot == exact
    with pytest.raises(ValueError, match="max_hot_shingles"):
        # drop-list must fit in the hot head: freq>1 shingles exist beyond 2
        dd.ngram_jaccard_pairs(docs, threshold=0.5, max_shingle_freq=1,
                               freq_order="hot", max_hot_shingles=2).collect()


def test_ngram_hot_plan_has_no_freq_joinback(docs):
    """Plan shape: the hot path's prefix side contains no join before the
    candidate self-join — the freq table is a driver-bounded broadcast
    dict, not a shuffle join (the 4.5×/decade s3 residual)."""
    df = dd.ngram_jaccard_pairs(docs, threshold=0.5, freq_order="hot")
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    # exact mode re-assembles per-doc order via aggregate-after-join;
    # the hot mode's only aggregates are the freq rollup and nothing else
    # between the Arrow prefix kernel and the candidate join
    assert "MapInArrow" in plan


def test_minhash_lsh_finds_near_dups(docs):
    pairs = {(r["id_a"], r["id_b"]) for r in
             dd.minhash_lsh_pairs(docs, threshold=0.5, num_perm=64, bands=16).collect()}
    assert (0, 1) in pairs and (0, 2) in pairs and (1, 2) in pairs  # exact dupes
    assert (0, 3) in pairs                                           # near-dup
    assert all(a not in (4, 5) and b not in (4, 5) for a, b in pairs)


def test_minhash_verify_filters_false_positives(docs):
    # with verification on, reported jaccard is the exact one
    for r in dd.minhash_lsh_pairs(docs, threshold=0.5).collect():
        assert r["jaccard"] >= 0.5


def test_simhash_pairs(docs):
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in
             dd.simhash_pairs(docs, max_hamming=3).collect()}
    assert pairs[(0, 1)] == 0 and pairs[(0, 2)] == 0 and pairs[(1, 2)] == 0
    assert all(h <= 3 for h in pairs.values())


def test_simhash64_deterministic(docs, spark):
    a = {r["id"]: r["simhash"] for r in dd.simhash64(docs).collect()}
    b = {r["id"]: r["simhash"] for r in dd.simhash64(docs).collect()}
    assert a == b and len(a) == 6


@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.RandomState(5)
    V = rng.randn(40, 16)
    V[1] = V[0] + rng.randn(16) * 0.01          # near-dup of 0
    V[7] = V[6] * 2.0                            # exact cosine dup of 6
    return V, spark.createDataFrame(
        [(i, [float(x) for x in V[i]]) for i in range(len(V))],
        "vec_id bigint, embedding array<float>",
    ).cache()


def _cos_pairs(V, t):
    U = V / np.linalg.norm(V, axis=1, keepdims=True)
    S = U @ U.T
    return {(i, j) for i in range(len(V)) for j in range(i + 1, len(V)) if S[i, j] >= t}


def test_embedding_dups_brute(vectors):
    V, df = vectors
    got = {(r["id_a"], r["id_b"]) for r in
           dd.embedding_dup_pairs(df, threshold=0.98, method="brute").collect()}
    assert got == _cos_pairs(V, 0.98)
    assert (0, 1) in got and (6, 7) in got


def test_embedding_dups_gemm_matches_brute(vectors):
    """The broadcast-GEMM exact method finds the identical pair set and
    cosines within float fold noise of the expression-join brute."""
    V, df = vectors
    brute = {(r["id_a"], r["id_b"]): r["cosine"] for r in
             dd.embedding_dup_pairs(df, threshold=0.98, method="brute").collect()}
    gemm = {(r["id_a"], r["id_b"]): r["cosine"] for r in
            dd.embedding_dup_pairs(df, threshold=0.98, method="gemm").collect()}
    assert set(gemm) == set(brute)
    for k in brute:
        assert abs(gemm[k] - brute[k]) < 1e-12


def test_embedding_dups_exact_forms_refuse_at_scale(vectors, monkeypatch):
    """Both exact all-pairs forms fail fast past the scale envelope and the
    message points at the SRP path (VERDICT r6 #1 — the brute form used to
    launch the quadratic theta-join unguarded)."""
    import pytest

    V, df = vectors
    monkeypatch.setattr(dd, "ALL_PAIRS_MAX_ROWS", len(V) - 1)
    for method in ("brute", "gemm"):
        with pytest.raises(ValueError, match="srp"):
            dd.embedding_dup_pairs(df, threshold=0.98, method=method)


def test_embedding_dups_srp_no_false_positives(vectors):
    V, df = vectors
    exact = _cos_pairs(V, 0.98)
    got = {(r["id_a"], r["id_b"]) for r in
           dd.embedding_dup_pairs(df, threshold=0.98, method="srp",
                                  num_planes=16, bands=8).collect()}
    assert got.issubset(exact)          # verification: no false positives
    assert (6, 7) in got                # colinear pair always shares all bands


def test_embedding_dups_srp_dim_param_identical(vectors):
    """Passing ``dim`` (the r13 probe-job shortcut) must reproduce the
    probed-dim pair set exactly — same seed, same hyperplanes."""
    V, df = vectors
    probed = sorted((r["id_a"], r["id_b"], round(r["cosine"], 9)) for r in
                    dd.embedding_dup_pairs(df, threshold=0.98, method="srp",
                                           num_planes=16, bands=8).collect())
    given = sorted((r["id_a"], r["id_b"], round(r["cosine"], 9)) for r in
                   dd.embedding_dup_pairs(df, threshold=0.98, method="srp",
                                          num_planes=16, bands=8,
                                          dim=V.shape[1]).collect())
    assert given == probed


def test_minhash_kernel_matches_expr(spark):
    """The Arrow reduceat kernel and the Column aggregate form are the same
    hash family — signatures must be bit-identical, including empty docs:
    between non-empty ones, and last in a batch right after a non-empty
    one (one partition, so all rows share the kernel's batch)."""
    import pyspark.sql.functions as F
    from bigvectorbench_spark.operators.dedup import minhash_from_hashes, minhash_sets
    schema = "id bigint, sh array<bigint>"
    for sets_df in (
        spark.createDataFrame(
            [(0, [11, 22, 33]), (1, []), (2, [-5, 7]), (3, [2**40, -2**40])],
            schema),
        spark.createDataFrame(
            [(0, [11, 22, 33]), (1, []), (2, [-5, 7, 9, 40]), (3, [])],
            schema).coalesce(1),
    ):
        kern = {r["id"]: r["sig"] for r in minhash_sets(sets_df, num_perm=16).collect()}
        expr = {r["id"]: r["sig"] for r in sets_df.select(
            "id", minhash_from_hashes(F.col("sh"), num_perm=16).alias("sig")).collect()}
        assert kern == expr


# ------------------------------------------------- components / canonical


def _py_components(pairs):
    """Union-find oracle."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def test_dup_components_chain_and_star(spark):
    # chain 1-2-3, star 10-{11,12}, isolated pair 20-21
    pairs = [(1, 2), (2, 3), (10, 11), (10, 12), (20, 21)]
    df = spark.createDataFrame(pairs, "id_a bigint, id_b bigint")
    got = {r["id"]: r["component_id"] for r in dd.dup_components(df).collect()}
    assert got == _py_components(pairs)
    assert got[3] == 1 and got[12] == 10 and got[21] == 20


def test_dup_components_long_chain_converges(spark):
    # a 30-node path needs many propagation rounds (diameter 29)
    pairs = [(i, i + 1) for i in range(30)]
    df = spark.createDataFrame(pairs, "id_a bigint, id_b bigint")
    got = {r["id"]: r["component_id"] for r in dd.dup_components(df, max_iter=40).collect()}
    assert set(got.values()) == {0}
    assert len(got) == 31


def test_dup_components_reverse_labels(spark):
    # min id reachable only through higher-id intermediaries
    pairs = [(5, 9), (9, 1), (7, 5)]
    df = spark.createDataFrame(pairs, "id_a bigint, id_b bigint")
    got = {r["id"]: r["component_id"] for r in dd.dup_components(df).collect()}
    assert got == {1: 1, 5: 1, 7: 1, 9: 1}


def test_dup_components_on_ngram_pairs(docs):
    pairs_df = dd.ngram_jaccard_pairs(docs, threshold=0.5)
    pairs = [(r["id_a"], r["id_b"]) for r in pairs_df.collect()]
    got = {r["id"]: r["component_id"] for r in dd.dup_components(pairs_df).collect()}
    assert got == _py_components(pairs)


def test_portable_hash_mode_same_pairs(docs):
    """Hash choice must not change which near-dup pairs are found."""
    fast = {(r["id_a"], r["id_b"]) for r in dd.minhash_lsh_pairs(docs, threshold=0.5).collect()}
    port = {(r["id_a"], r["id_b"]) for r in dd.minhash_lsh_pairs(docs, threshold=0.5, hash="md5").collect()}
    assert fast == port and fast
    fast_s = {(r["id_a"], r["id_b"]) for r in dd.simhash_pairs(docs, max_hamming=10).collect()}
    port_s = {(r["id_a"], r["id_b"]) for r in dd.simhash_pairs(docs, max_hamming=10, hash="md5").collect()}
    # band collisions differ per hash, but the exact-dup pair (0,1,2 group)
    # must appear under both
    assert {(0, 1), (0, 2), (1, 2)} <= fast_s and {(0, 1), (0, 2), (1, 2)} <= port_s


def test_semantic_dup_pairs_matches_cluster_scoped_oracle(vectors):
    """SemDeDup path: pairs must be exactly the brute pairs RESTRICTED to
    same-k-means-cluster, with the assignment recomputed independently in
    numpy (same sorted-sample kmeans++ and norm-expansion argmin)."""
    from bigvectorbench_spark.operators.similarity import _kmeans_pp

    V, df = vectors
    got = {(r["id_a"], r["id_b"]) for r in
           dd.semantic_dup_pairs(df, threshold=0.98, nlist=4).collect()}
    # float32 storage: the oracle must see the same values Spark reads.
    Vf = V.astype(np.float32).astype(np.float64)
    C = _kmeans_pp(Vf, 4, seed=1, max_iter=8)
    d2 = (Vf * Vf).sum(1)[:, None] - 2.0 * (Vf @ C.T) + (C * C).sum(1)[None, :]
    cid = d2.argmin(axis=1)
    brute = _cos_pairs(Vf, 0.98)
    want = {(i, j) for i, j in brute if cid[i] == cid[j]}
    assert got == want
    assert got.issubset(brute)
    # Planted near-dups are ~colinear, so k-means cannot separate them:
    # the cluster-scoped path must still find both.
    assert (0, 1) in got and (6, 7) in got


def test_semantic_dup_pairs_cluster_ids_match_assignment(vectors):
    from bigvectorbench_spark.operators.similarity import _kmeans_pp

    V, df = vectors
    rows = dd.semantic_dup_pairs(df, threshold=0.98, nlist=4).collect()
    Vf = V.astype(np.float32).astype(np.float64)
    C = _kmeans_pp(Vf, 4, seed=1, max_iter=8)
    d2 = (Vf * Vf).sum(1)[:, None] - 2.0 * (Vf @ C.T) + (C * C).sum(1)[None, :]
    cid = d2.argmin(axis=1)
    for r in rows:
        assert r["cluster_id"] == cid[r["id_a"]] == cid[r["id_b"]]


# ---------------------------------------------------------- incremental dedup


def test_incremental_dedup_dispositions(spark):
    from bigvectorbench_spark.operators.dedup import incremental_dedup_report

    corpus = spark.createDataFrame(
        [(1, "a", "known document text"), (2, "a", "another old doc")],
        "doc_id long, source string, text string")
    batch = spark.createDataFrame(
        [(10, "a", "known document text"),   # dup vs corpus
         (11, "a", "fresh content one"),     # new
         (12, "a", "repeated in batch"),     # new (first occurrence)
         (13, "b", "repeated in batch"),     # dup in batch (id 12 first)
         (14, "b", "Known   DOCUMENT text"), # dup vs corpus (normalized)
         ],
        "doc_id long, source string, text string")
    out = {r["source"]: r
           for r in incremental_dedup_report(batch, corpus).collect()}
    assert out["a"]["n_batch"] == 3
    assert out["a"]["n_dup_vs_corpus"] == 1
    assert out["a"]["n_dup_in_batch"] == 0
    assert out["a"]["n_new"] == 2
    assert out["b"]["n_dup_vs_corpus"] == 1  # normalization-insensitive
    assert out["b"]["n_dup_in_batch"] == 1
    assert out["b"]["n_new"] == 0


def test_incremental_dedup_corpus_precedence(spark):
    """A batch doc that duplicates BOTH the corpus and an earlier batch
    doc counts as dup_vs_corpus (the corpus copy is canonical)."""
    from bigvectorbench_spark.operators.dedup import incremental_dedup_report

    corpus = spark.createDataFrame(
        [(1, "a", "shared text")], "doc_id long, source string, text string")
    batch = spark.createDataFrame(
        [(10, "a", "shared text"), (11, "a", "shared text")],
        "doc_id long, source string, text string")
    r = incremental_dedup_report(batch, corpus).collect()[0]
    assert (r["n_dup_vs_corpus"], r["n_dup_in_batch"], r["n_new"]) == (2, 0, 0)


def test_lsh_dedup_report_matches_pair_semantics(spark):
    """Internal consistency with the pair operator: a doc is dropped iff
    it appears as the LARGER id of at least one unverified band-collision
    candidate — the bucket-min election is exactly 'loses to a smaller id
    in some shared bucket'."""
    from bigvectorbench_spark.operators.dedup import (
        lsh_dedup_report, minhash_lsh_pairs)

    rows = []
    for i in range(60):
        base = f"sentence number {i % 20} about topic {i % 20} repeated here"
        rows.append((i, "src0" if i % 2 == 0 else "src1", base))
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    cand = minhash_lsh_pairs(df, verify=False, hash="md5")
    losers = {r["id_b"] for r in cand.collect()}
    rep = {r["source"]: r for r in lsh_dedup_report(df, hash="md5").collect()}
    want_dropped = {
        "src0": sum(1 for i in losers if i % 2 == 0),
        "src1": sum(1 for i in losers if i % 2 == 1),
    }
    for src, r in rep.items():
        assert r["n_dropped"] == want_dropped[src]
        assert r["n_kept"] + r["n_dropped"] == r["n_docs"] == 30


def test_lsh_dedup_report_short_docs_always_kept(spark):
    from bigvectorbench_spark.operators.dedup import lsh_dedup_report

    df = spark.createDataFrame(
        [(1, "s", "too short"), (2, "s", "also short"),
         (3, "s", "a real document with plenty of words to shingle")],
        "doc_id long, source string, text string")
    r = lsh_dedup_report(df, hash="md5").collect()[0]
    assert (r["n_docs"], r["n_kept"], r["n_dropped"]) == (3, 3, 0)


def test_lsh_dedup_report_exact_copies_keep_one(spark):
    from bigvectorbench_spark.operators.dedup import lsh_dedup_report

    text = "the quick brown fox jumps over the lazy dog again and again"
    df = spark.createDataFrame(
        [(i, "s", text) for i in range(10)] +
        [(100, "s", "an entirely different document about other things "
                    "with no overlap whatsoever in its shingle sets")],
        "doc_id long, source string, text string")
    r = lsh_dedup_report(df, hash="md5").collect()[0]
    # identical docs share every bucket -> only doc 0 wins; the distinct
    # doc shares no bucket and survives
    assert (r["n_docs"], r["n_kept"], r["n_dropped"]) == (11, 2, 9)
