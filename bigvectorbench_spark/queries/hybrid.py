"""Hybrid and MMR: the hashed-embedding dense leg, its brute and
BQ-indexed forms, RRF fusion with the lexical or sparse leg, and MMR
re-ranking."""

from __future__ import annotations

import os

import duckdb
import numpy as np
from pyspark.sql import functions as F, Window

from bigvectorbench_spark.functions import embed as em, text as tx
from bigvectorbench_spark.operators import (
    dedup as dd, retrieval as rt, sparse as sp)
from bigvectorbench_spark.operators.bq import BQIndex
from bigvectorbench_spark.operators.retrieval import mmr_select_numpy
from bigvectorbench_spark.operators.sparse import auto_m
from bigvectorbench_spark.sources.tables import load_table, table_rows

from bigvectorbench_spark.queries._common import (
    _bm25_sql, _docs_wide, _gate, _hashed_sql, _ORACLE_SF_DIR, _TOKENS)


def q_hashed_embed_knn(spark, sf):
    """documents -> vectors -> ANN entirely inside the engine: 64-d
    feature-hashing embeddings (signed bucket counts — EXACT INTEGERS)
    derived from the text column, then brute cosine top-10 from the
    doc_id % 250 = 0 query docs.  The dot product and squared norms are
    integer arithmetic; cosine is 4 IEEE ops (2 sqrt, 1 mul, 1 div) in
    the same order both engines, so even the emitted distances
    hash-match.  Plan: query embeddings broadcast, corpus scanned once,
    WindowGroupLimit applies k before the rank shuffle (the knn_* plan
    family)."""
    return (_cosine_topk(_hashed_base_int(spark, sf), 10, "id")
            .select("qid", "id", F.round("d", 6).alias("dist"), "rank"))


def q_hybrid_rrf_topk(spark, sf):
    """Hybrid search: the SAME query documents retrieve through BOTH
    modalities — BM25 over their 3 alphabetically-first terms AND cosine
    over their derived hashed embedding — and Reciprocal Rank Fusion
    merges the two top-20 lists into one top-10 (Milvus's RRFRanker
    beside the reference's WeightedRanker, milvus/module.py:422-458; RRF
    fuses ranks, so BM25's unbounded scores and cosine distances need no
    calibration).  Value-oracled end to end: both constituent pipelines
    are the hash-matched bm25_topk / hashed_embed_knn twins, and the
    fusion arithmetic (1/(60+rank) rounded 9 dp, DECIMAL sum, 6-dp fused
    score, (score desc, id) rank) is engine-exact.  The brute vector leg
    is the size-enveloped ``_brute_vec_leg`` — retained AS the oracle
    anchor; past 200k corpus rows it refuses fast and points at
    hybrid_rrf_scale.  Both legs derive from one shared tokenized corpus
    (one tokenize pass, not one each for postings, stats and
    embeddings)."""
    tkf = _doc_tokens(spark, sf)
    lex = _lex_leg(spark, sf, tkf)
    vec = _brute_vec_leg(
        spark, sf, out_k=20, twin="hybrid_rrf_scale",
        base=_hashed_base_int(spark, sf, persist=True, tk=tkf)).select(
        "qid", "doc_id", "rank")
    return _rrf(lex, vec)


def q_hybrid_sparse_rrf(spark, sf):
    """Milvus 2.4's sparse+dense hybrid (SPARSE_FLOAT_VECTOR field + dense
    field, per-field subqueries merged by RRFRanker — the reference
    backend's multi-vector hybrid form, milvus/module.py:142,422-458):
    the lexical leg is the sparse TF-IDF inner-product top-20
    (operators/sparse.py — full query-document vectors, not the 3-term
    BM25 bag q_hybrid_rrf_topk uses), the dense leg the hashed-embed
    cosine top-20, fused 1/(60+rank) with the engine-exact rounding
    ladder.  Value-oracled end to end: both legs' pipelines and the
    fusion arithmetic are replayed in SQL.

    100× forms of both legs are separately declared: the sparse leg's is
    the impact-pruned index (sparse_prune_recall gates it), the dense
    leg's is the BQ-indexed candidate stage hybrid_rrf_scale already runs
    through the same rrf_fuse — this
    query pins the multi-FIELD composition semantics at oracle scale.
    The dense leg rides the size-enveloped ``_brute_vec_leg`` anchor."""
    docs = _docs_wide(spark, sf)
    qids = load_table(spark, sf, "documents").filter("doc_id % 250 = 0").select(
        F.col("doc_id").alias("qid"))
    tkf = _doc_tokens(spark, sf)
    wpost = sp.sparse_postings(
        docs, post=sp.lexical_postings(docs, tk=tkf)).persist()
    lex = sp.sparse_topk(docs, qids, k=20, wpost=wpost).select(
        "qid", "doc_id", "rank")
    vec = _brute_vec_leg(
        spark, sf, out_k=20, twin="hybrid_sparse_scale",
        base=_hashed_base_int(spark, sf, persist=True, tk=tkf)).select(
        "qid", "doc_id", "rank")
    return _rrf(lex, vec)


def q_hybrid_sparse_scale(spark, sf):
    """The 100× form of q_hybrid_sparse_rrf — the multi-FIELD Milvus 2.4
    hybrid with BOTH legs indexed: the sparse leg serves from the auto_m
    impact-pruned inverted index (query-side vectors stay FULL, the
    sparse_prune_recall-gated configuration), the dense leg from the BQ
    candidate scan + exact integer-cosine refine (the hybrid_rrf_scale
    leg), fused by the engine-exact RRF tail.  Fully value-oracled: the
    pruning is deterministic SQL (row_number over (w desc, doc_id) per
    term at the auto_m cap, recomputed by DuckDB), the BQ candidate sets
    are recomputed at oracle-generation time and embedded as literals
    (the hybrid_rrf_scale convention), and the fusion ladder replays —
    so the 100× multi-field plan is hash-checked end to end, not just
    overlap-gated."""
    docs = _docs_wide(spark, sf)
    qids = load_table(spark, sf, "documents").filter("doc_id % 250 = 0").select(
        F.col("doc_id").alias("qid"))
    tkf = _doc_tokens(spark, sf)
    wpost = sp.sparse_postings(
        docs, post=sp.lexical_postings(docs, tk=tkf)).persist()
    # n_docs from the parquet footer (table_rows, the statistic a cluster
    # catalog serves): the exact count, without a full-table job.
    lex = sp.sparse_topk(
        docs, qids, k=20,
        wpost=sp.prune_postings(
            wpost, n_docs=table_rows(sf, "documents")),
        qwpost=wpost).select("qid", "doc_id", "rank")
    vec = _bq_vec_leg(
        spark, sf, out_k=20,
        base=_hashed_base_int(spark, sf, persist=True, tk=tkf)).select(
        "qid", F.col("id").alias("doc_id"), "rank")
    return _rrf(lex, vec)


def q_mmr_rerank(spark, sf):
    """Diversity-aware re-ranking (Carbonell & Goldstein's Maximal
    Marginal Relevance — the standard RAG diversity stage): the
    hashed-embed cosine top-30 per query is re-ranked greedily by
    λ·relevance − (1−λ)·max-similarity-to-selected (λ=0.5), so the final
    10 cover the query's neighborhood facets instead of repeating the top
    hit.  Deterministic end to end: relevance = round(1 − cosine, 6) from
    the hash-matched hashed-embed pipeline, pairwise cosines over EXACT
    INTEGER vectors rounded to 6 dp, ascending-id tie-break.  The oracle
    re-derives candidates+vectors in DuckDB and runs the SAME numpy greedy
    (mmr_select_numpy, shared code), embedding the selections — the
    ivf_knn independent-recomputation pattern.  Candidates come from the
    size-enveloped ``_brute_vec_leg`` anchor — past 200k corpus rows it
    refuses fast and points at mmr_scale."""
    cand = _brute_vec_leg(spark, sf, out_k=30, twin="mmr_scale").select(
        "qid", "doc_id",
        F.round(F.lit(1.0) - F.col("d"), 6).alias("rel"),
        F.col("tv").alias("vec"))
    return rt.mmr_rerank(cand, k=10, lamb=0.5)


def _rrf(lex, vec):
    """Reciprocal Rank Fusion (k0 = 60) of a lexical and a vector top-20
    (qid, doc_id, rank) leg into the fused top-10."""
    fused = rt.rrf_fuse([lex, vec], k=10, k0=60)
    return fused.select("qid", "doc_id", "score",
                        F.col("rank").cast("bigint").alias("rank"))


def _doc_tokens(spark, sf):
    """The shared ``(doc_id, tk)`` tokenized-corpus frame: hybrid
    queries run a lexical leg (postings + corpus stats) AND a dense leg
    (hashed embeddings) over the same tokens — pass THIS frame to both so
    every consumer derives from one subtree.  Tokenization is
    per-document local, so every derivation is row-identical to
    tokenizing inline.  Deliberately NOT persisted: it is a map-only
    projection (recompute is a columnar scan + tokenizer, cheaper than a
    cache write+read of token arrays — the interleaved persist-on/off
    A/B read off faster on 4 of the 5 hybrids), and its expensive
    consumers (the weighted-postings index, the hashed base) persist
    their own post-shuffle outputs."""
    return _docs_wide(spark, sf).select(
        "doc_id", tx.tokens(F.col("text")).alias("tk"))


def _hashed_base_int(spark, sf, *, persist: bool = False, tk=None):
    """The derived hashed-embedding corpus (EXACT-INTEGER vectors) shared
    by the hybrid/MMR declarations: (doc_id, v, nsq) with zero-norm rows
    dropped.  Each stage materializes in its own select: the d-wide
    embedding fold references the hash array once per component and the
    norm references the vector, so non-materialized inputs re-run every
    md5 dim times (measured 19.1s -> 3.2s at sf0.1 for hashed_embed_knn).

    ``persist=True`` marks the corpus a stage boundary (the
    corpus_curation/retrieval_eval discipline): the BQ leg references it
    four times (fit collect, encode scan, query block, refine scan), and
    without the boundary each reference re-runs the md5 embedding fold —
    measured 20.4s → 11.5s for hybrid_rrf_scale at 50k Zipf docs /
    200 queries, flipping it from 1.5× OVER the brute twin to 1.8×
    under.

    ``tk``: the shared ``(doc_id, tk)`` frame from ``_doc_tokens`` —
    derives the embedding from the same tokens without re-tokenizing."""
    base = ((tk if tk is not None else _doc_tokens(spark, sf))
            .select("doc_id", em.token_hashes(F.col("tk")).alias("th"))
            .select("doc_id", em.hashed_embedding(F.col("th")).alias("v"))
            .withColumn("nsq", F.aggregate("v", F.lit(0).cast("bigint"),
                                           lambda a, x: a + x * x))
            .filter(F.col("nsq") > 0))
    return base.persist() if persist else base


def _cosine_topk(base, k: int, id_col: str, *keep, cand=None):
    """The exact integer cosine ranking of the hashed corpus ``base``: each
    ``doc_id % 250 = 0`` query against every row (broadcast query block)
    or against its ``cand`` (qid, id) candidates, scored
    ``d = 1 - dot/(√qn·√tn)`` — integer dot and norms, then the 4 IEEE
    ops in the oracle's order — and ranked by (d, ``id_col``) to rank
    ``k``.  Returns (qid, ``id_col``, ``keep`` columns, d, rank)."""
    q = base.filter(F.pmod(F.col("doc_id"), F.lit(250)) == 0).select(
        F.col("doc_id").alias("qid"), F.col("v").alias("qv"),
        F.col("nsq").alias("qn"))
    t = base.select(F.col("doc_id").alias("id"), F.col("v").alias("tv"),
                    F.col("nsq").alias("tn"))
    dot = F.aggregate(F.zip_with("qv", "tv", lambda a, b: a * b),
                      F.lit(0).cast("bigint"), lambda a, x: a + x)
    pairs = (t.crossJoin(F.broadcast(q)) if cand is None else
             F.broadcast(cand).join(t, "id").join(F.broadcast(q), "qid"))
    scored = pairs.select(
        "qid", F.col("id") if id_col == "id" else F.col("id").alias(id_col),
        *keep,
        (F.lit(1.0) - dot.cast("double")
         / (F.sqrt(F.col("qn").cast("double"))
            * F.sqrt(F.col("tn").cast("double")))).alias("d"))
    w = Window.partitionBy("qid").orderBy(F.col("d"), F.col(id_col))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def _dense_leg_ctx(base):
    """ONE driver job shared by a hybrid query's dense legs (the
    mv_indexed_fused job-fusion pattern): collect the hashed-embedding
    corpus id-sorted once, bounded by the BQ fit-sample envelope.  The
    brute leg's quadratic-envelope row count (``len(ids)``), the BQ
    per-dimension thresholds (float64 numpy mean over the id-sorted
    matrix — bit-identical to ``BQIndex.fit(sort_col="id")``, which
    collects the same rows in the same order and casts bigint→float64
    exactly as np.array does) and the kernel query block (the
    ``doc_id % 250 == 0`` slice, scored per-qid so block order is
    immaterial) all derive from it — replacing three sequential driver
    jobs (envelope count, fit collect, query-block collect) with one.

    The collect is bounded by the BQ fit-sample cap.  The query block must
    be complete, so a corpus past the cap raises instead of silently
    dropping the queries beyond it."""
    from bigvectorbench_spark.operators.bq import MAX_FIT_SAMPLE_ROWS

    rows = (base.select("doc_id", "v").orderBy("doc_id")
            .limit(MAX_FIT_SAMPLE_ROWS + 1).collect())
    if not rows:
        raise ValueError("cannot fit BQIndex on an empty table")
    if len(rows) > MAX_FIT_SAMPLE_ROWS:
        raise ValueError(
            f"hybrid dense legs collect the whole corpus on the driver; it "
            f"has more than MAX_FIT_SAMPLE_ROWS={MAX_FIT_SAMPLE_ROWS} rows, "
            "so the query block past the cap would be lost")
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    V = np.array([r[1] for r in rows], dtype=np.float64)
    return ids, V


def _brute_vec_leg(spark, sf, *, out_k: int, twin: str, base=None,
                   n_rows: int | None = None):
    """The BRUTE exact-cosine vector leg shared by the hybrid/MMR oracle
    anchors: every (query, doc) pair scored — O(docs × queries) by
    construction, so it wears the dedup.py ALL_PAIRS_MAX_ROWS envelope: a
    corpus past the envelope refuses fast with a pointer at the declared
    indexed twins (q_hybrid_rrf_scale / q_mmr_scale run the same
    fusion/MMR tails over _bq_vec_leg's BQ candidate scan + exact integer
    refine) instead of silently launching the quadratic job.  Within the
    envelope it is the full value-oracle anchor (``_cosine_topk``).

    ``twin`` names the declared indexed counterpart of the CALLER so the
    refusal steers users at the right scale path per call site
    (q_hybrid_sparse_rrf's twin is hybrid_sparse_scale, not the dense
    pair).

    ``n_rows``: the base corpus row count when the caller already holds it
    (the ``_dense_leg_ctx`` fused prelude) — skips the envelope count job.

    Returns (qid, doc_id, tv, d, rank) with rank <= out_k."""
    if base is None:
        base = _hashed_base_int(spark, sf, persist=True)
    if n_rows is None:
        n_rows = base.count()
    if n_rows > dd.ALL_PAIRS_MAX_ROWS:
        raise ValueError(
            f"brute hybrid/MMR vector leg is O(docs × queries) "
            f"({n_rows} rows > {dd.ALL_PAIRS_MAX_ROWS}) — use the indexed "
            f"twin ({twin}: BQ candidate scan + "
            "exact integer refine) at this size")
    return _cosine_topk(base, out_k, "doc_id", "tv")


def _bq_vec_leg(spark, sf, *, out_k: int, base=None, ctx=None):
    """The INDEXED vector leg of the scale-path hybrid (the reference's
    hybrid is per-field ANN subqueries, not brute:
    milvus/module.py:422-458): BQ hamming pre-rank over the derived
    hashed embeddings (1-bit/dim codes — 1/64th the scan width of the
    integer vectors), then an EXACT-INTEGER cosine re-rank of the
    8·out_k survivors.  This replaces q_hybrid_rrf_topk's brute
    crossJoin (O(n·q) per run) with O(n·q/64) candidate scan + O(q·k·8)
    refine — measured 1.6× under brute at 500k rows and 2.9×/decade vs
    4.1×.

    Deterministic end to end: the BQ fit is the id-sorted float64 mean
    (BQIndex.fit contract), the hamming pre-rank breaks ties by ascending
    id (pinned kernel==expr==lexsort in test_bq), and the refine is the
    integer-exact cosine of q_hashed_embed_knn — so the leg takes a FULL
    value oracle (candidates recomputed at oracle-gen time and re-scored
    by DuckDB with the same integer folds).

    ``ctx``: the ``_dense_leg_ctx`` (ids, V) pair when the caller shares
    it across legs (hybrid_rrf_parity); built here otherwise — either
    way the fit thresholds and the kernel query block ride ONE driver
    collect instead of two sequential jobs.

    Returns (qid, id, tv, d, rank) with rank ≤ out_k."""
    if base is None:
        base = _hashed_base_int(spark, sf, persist=True)
    if ctx is None:
        ctx = _dense_leg_ctx(base)
    ids, V = ctx
    fvec = base.select(F.col("doc_id").alias("id"),
                       F.col("v").cast("array<double>").alias("vec"))
    # Identical thresholds to BQIndex.fit(fvec, sort_col="id"): the ctx
    # matrix IS the id-sorted float64 cast of the same rows.
    bq = BQIndex(thresholds=[float(x) for x in V.mean(axis=0)])
    qmask = np.mod(ids, 250) == 0
    cand = bq.search(bq.encode(fvec, keep=["id"]), None, k=out_k * 8,
                     qblock=(ids[qmask], V[qmask])).select("qid", "id")
    return _cosine_topk(base, out_k, "id", "tv", cand=cand)


def _lex_leg(spark, sf, tk):
    """The shared BM25 lexical leg of the hybrid declarations: the top-20
    of the ``doc_id % 250 = 0`` documents' 3 alphabetically-first terms.

    ``tk``: the shared ``(doc_id, tk)`` frame from ``_doc_tokens`` — the
    postings, the corpus stats AND the query term slices all derive from
    it, so the leg adds ZERO tokenize passes to a hybrid query that
    already tokenized for its dense leg."""
    docs = _docs_wide(spark, sf)
    queries_lex = tk.filter("doc_id % 250 = 0").select(
        F.col("doc_id").alias("qid"),
        F.slice(F.array_sort(F.array_distinct(F.col("tk"))), 1, 3)
        .alias("terms"))
    return rt.bm25_topk(docs, queries_lex, k=20, post=rt.postings(docs, tk=tk),
                        stats=rt.corpus_stats(docs, tk=tk)).select(
        "qid", "doc_id", "rank")


def q_hybrid_rrf_scale(spark, sf):
    """The 100× form of q_hybrid_rrf_topk: the SAME BM25 lexical leg and
    RRF fusion tail, with the vector candidate leg served by the BQ index
    instead of the brute corpus-wide crossJoin.  Fully
    value-oracled: the deterministic BQ candidate sets are recomputed at
    oracle-generation time (id-sorted mean fit + (hamming, id) lexsort —
    the bq_knn convention) and embedded as literals; DuckDB re-runs the
    integer-cosine refine, the BM25 CTEs and the RRF rounding ladder on
    top, so fused scores and ranks hash-match end to end.  Both legs
    derive from one shared tokenized corpus."""
    tkf = _doc_tokens(spark, sf)
    lex = _lex_leg(spark, sf, tkf)
    vec = _bq_vec_leg(
        spark, sf, out_k=20,
        base=_hashed_base_int(spark, sf, persist=True, tk=tkf)).select(
        "qid", F.col("id").alias("doc_id"), "rank")
    return _rrf(lex, vec)


def q_hybrid_rrf_parity(spark, sf):
    """The gate closing q_hybrid_rrf_scale's approximation loop (the
    srp_recall pattern): fuse the SAME lexical leg with the brute vector
    leg and with the BQ-indexed vector leg, and emit per-query top-10
    overlap thresholds the oracle asserts TRUE.  Measured (scripted
    calibration): mean 0.75 / min 0.6 at sf0.001 AND
    sf0.01, mean 0.68 / min 0.6 at sf0.1 — the 1-bit/dim pre-rank
    genuinely reorders the fused tail, the same honest-knob behavior
    bq_recall documents.  Tight thresholds 0.7/0.5 sit just under the
    oracle-sf floor so a candidate-stage defect (not only a cratering
    bug) fails the driver gate; off the oracle sf the gate relaxes to a
    defect-only floor 0.4/0.1."""
    mean_thr, min_thr = _gate(sf, tight=(0.7, 0.5), floor=(0.4, 0.1))
    tkf = _doc_tokens(spark, sf)
    lex = _lex_leg(spark, sf, tkf)

    base = _hashed_base_int(spark, sf, persist=True, tk=tkf)
    # One driver collect for BOTH legs: envelope count, BQ fit and
    # kernel query block all derive from _dense_leg_ctx (was 3 jobs).
    ids, V = _dense_leg_ctx(base)
    brute_vec = _brute_vec_leg(spark, sf, out_k=20, base=base,
                               twin="hybrid_rrf_scale",
                               n_rows=len(ids)).select(
        "qid", "doc_id", "rank")
    bq_vec = _bq_vec_leg(spark, sf, out_k=20, base=base,
                         ctx=(ids, V)).select(
        "qid", F.col("id").alias("doc_id"), "rank")

    fused_brute = rt.rrf_fuse([lex, brute_vec], k=10, k0=60)
    fused_bq = rt.rrf_fuse([lex, bq_vec], k=10, k0=60)
    a = fused_brute.groupBy("qid").agg(
        F.collect_list("doc_id").alias("brute_ids"))
    b = fused_bq.groupBy("qid").agg(F.collect_list("doc_id").alias("bq_ids"))
    per = a.join(b, "qid").select(
        "qid",
        (F.size(F.array_intersect("brute_ids", "bq_ids"))
         / F.size("brute_ids")).alias("overlap"))
    return per.agg(
        F.count("*").alias("n_queries"),
        (F.avg("overlap") >= mean_thr).alias("mean_overlap_ok"),
        (F.min("overlap") >= min_thr).alias("min_overlap_ok"),
    )


def q_mmr_scale(spark, sf):
    """The 100× form of q_mmr_rerank: the SAME greedy MMR tail
    (mmr_select_numpy, value-oracled) re-ranking the BQ-indexed leg's
    top-30 instead of the brute crossJoin's — the candidate stage
    q_hybrid_rrf_scale declares, reused.  Fully
    value-oracled: the oracle recomputes the BQ candidates + integer
    cosine re-rank in DuckDB and runs the SAME numpy greedy, embedding
    the selections."""
    cand = _bq_vec_leg(spark, sf, out_k=30).select(
        "qid", F.col("id").alias("doc_id"),
        F.round(F.lit(1.0) - F.col("d"), 6).alias("rel"),
        F.col("tv").alias("vec"))
    return rt.mmr_rerank(cand, k=10, lamb=0.5)


# The sparse leg's weights replayed from ``tk0``: unigram+bigram features,
# corpus-wide df and SMART-ltn weights rounded to 6 dp (sparse.py's ladder)
# as CTEs ending in sw(term, doc_id, w).
_SPARSE_W_SQL = f"""tk0 AS (SELECT doc_id, {_TOKENS} AS tk FROM documents),
ftk AS (SELECT doc_id,
               list_concat(tk, list_transform(range(1, greatest(len(tk), 1)),
                   i -> tk[i] || ' ' || tk[i+1])) AS ft
        FROM tk0),
sstats AS (SELECT count(*)::DOUBLE AS n FROM ftk WHERE len(ft) > 0),
spost AS (SELECT doc_id, unnest(ft) AS term FROM ftk),
stfs AS (SELECT term, doc_id, count(*) AS tf FROM spost GROUP BY term, doc_id),
sdfr AS (SELECT term, count(*) AS df FROM stfs GROUP BY term),
sw AS (SELECT t.term, t.doc_id,
              round((1.0 + ln(t.tf::DOUBLE)) * ln(s.n / sdfr.df::DOUBLE), 6) AS w
       FROM stfs t JOIN sdfr ON t.term = sdfr.term CROSS JOIN sstats s)"""


# hybrid_rrf_parity: the oracle recomputes the fused-query universe (every
# %250 doc with at least one token retrieves itself through the lexical
# leg, so the fused qid set is exactly that) and asserts the Spark-side
# brute-vs-BQ fused-top-10 overlap booleans — the srp_recall pattern: no
# index artifacts embedded, so a bug corrupting both legs identically
# cannot slip through via this gate alone (and the hybrid_rrf_scale value
# oracle pins the BQ leg's exact output besides).
_HYBRID_PARITY_SQL = f"""
WITH tk AS (SELECT doc_id, {_TOKENS} AS tk FROM documents)
SELECT count(*) AS n_queries, TRUE AS mean_overlap_ok, TRUE AS min_overlap_ok
FROM tk WHERE doc_id % 250 = 0 AND len(tk) > 0
"""


def _fuse_sql(cand: bool) -> str:
    """The hashed-embedding cosine top-20 leg over ``vbase``/``vq`` — every
    doc, or with ``cand`` the embedded ``cand`` (qid, doc_id) rows — RRF-fused
    with the ``lexr`` top-20 as CTEs vs, vecr, u and f(qid, doc_id, score):
    1/(60+rank) rounded to 9 dp, summed in DECIMAL, then 6 dp."""
    pairs = ("cand c JOIN vbase b ON b.doc_id = c.doc_id JOIN vq ON vq.qid = c.qid"
             if cand else "vbase b, vq")
    return f"""vs AS (SELECT {"c" if cand else "vq"}.qid, b.doc_id,
   1.0 - list_sum(list_transform(list_zip(vq.qv, b.v), p -> p[1] * p[2]))::DOUBLE
       / (sqrt(vq.qn::DOUBLE) * sqrt(b.nsq::DOUBLE)) AS dd
   FROM {pairs}),
vecr AS (SELECT qid, doc_id,
                row_number() OVER (PARTITION BY qid ORDER BY dd, doc_id) AS rank
         FROM vs QUALIFY rank <= 20),
u AS (SELECT qid, doc_id,
             round(1.0 / (60.0 + rank), 9)::DECIMAL(28,10) AS t FROM lexr
      UNION ALL
      SELECT qid, doc_id,
             round(1.0 / (60.0 + rank), 9)::DECIMAL(28,10) AS t FROM vecr),
f AS (SELECT qid, doc_id, CAST(round(sum(t), 6) AS DOUBLE) AS score
      FROM u GROUP BY qid, doc_id)"""


def _mmr_oracle() -> dict[str, str]:
    """Independent recomputation of q_mmr_rerank: DuckDB derives the
    hashed-embed top-30 candidates (rounded relevance + integer vectors),
    the SAME numpy greedy (retrieval.mmr_select_numpy) runs on them, and
    the selections embed as literals — the ivf_knn candidate-embedding
    pattern."""
    path = f"{_ORACLE_SF_DIR}/documents.parquet"
    if not os.path.exists(path):
        return {}

    cand_sql = f"""
WITH tk AS (SELECT doc_id, {_TOKENS} AS tk FROM read_parquet('{path}')),
{_hashed_sql("tk")},
s AS (SELECT q.qid, b.doc_id, b.v,
   1.0 - list_sum(list_transform(list_zip(q.qv, b.v), p -> p[1] * p[2]))::DOUBLE
       / (sqrt(q.qn::DOUBLE) * sqrt(b.nsq::DOUBLE)) AS d
   FROM base b, q),
r AS (SELECT qid, doc_id, v, round(1.0 - d, 6) AS rel,
             row_number() OVER (PARTITION BY qid ORDER BY d, doc_id) AS rank
      FROM s)
SELECT qid, doc_id, rel, v FROM r WHERE rank <= 30 ORDER BY qid, doc_id
"""
    return {"mmr_rerank": _mmr_sql(cand_sql)}


def _mmr_sql(cand_sql: str) -> str:
    """The MMR selections (λ = 0.5, top-10) of the (qid, doc_id, rel, v)
    candidates ``cand_sql`` yields in DuckDB, run through the SAME numpy
    greedy (retrieval.mmr_select_numpy) and embedded as VALUES."""
    by_q: dict[int, list] = {}
    for qid, doc_id, rel, v in duckdb.connect().execute(cand_sql).fetchall():
        by_q.setdefault(int(qid), []).append((int(doc_id), float(rel), v))
    vals = []
    for qid in sorted(by_q):
        ids = [t[0] for t in by_q[qid]]
        rel = [t[1] for t in by_q[qid]]
        V = [t[2] for t in by_q[qid]]
        chosen, objs = mmr_select_numpy(ids, rel, V, k=10, lamb=0.5)
        for rnk, (d, o) in enumerate(zip(chosen, objs), 1):
            vals.append(f"({qid},{d},{o!r},{rnk})")
    return f"""
WITH m(qid, doc_id, objective, rank) AS (VALUES {", ".join(vals)})
SELECT qid, doc_id, objective, rank FROM m
"""


def _hybrid_scale_oracles() -> dict[str, str]:
    """Full value oracles for the BQ-indexed hybrid/MMR scale twins
    (q_hybrid_rrf_scale / q_mmr_scale): the deterministic BQ candidate
    stage is recomputed at oracle-generation time with the SAME arithmetic
    as BQIndex (float64 mean over the id-sorted nsq>0 matrix, bit =
    x > mean, (hamming, id) lexsort — the bq_knn convention), the
    candidate sets embed as literals, and DuckDB re-runs the
    integer-cosine refine — plus, for the hybrid, the BM25 CTEs and the
    RRF rounding ladder — on top.  The index-controlled part (WHICH rows
    are refined) is therefore hash-checked end to end."""
    path = f"{_ORACLE_SF_DIR}/documents.parquet"
    if not os.path.exists(path):
        return {}

    base_sql = f"""
WITH tk AS (SELECT doc_id, {_TOKENS} AS tk FROM read_parquet('{path}')),
{_hashed_sql("tk", base=False)},
n AS (SELECT doc_id, v, list_sum(list_transform(v, x -> x * x)) AS nsq FROM v)
SELECT doc_id, v FROM n WHERE nsq > 0 ORDER BY doc_id
"""
    rows = duckdb.connect().execute(base_sql).fetchall()
    if not rows:
        return {}
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    X = np.array([r[1] for r in rows], dtype=np.float64)
    means = X.mean(axis=0)            # BQIndex.fit: id-sorted float64 mean
    bits = X > means[None, :]
    qmask = ids % 250 == 0
    qids_, qbits = ids[qmask], bits[qmask]

    def _cand_pairs(n_cand: int) -> str:
        out = []
        for qi, q in enumerate(qids_):
            ham = (bits != qbits[qi][None, :]).sum(axis=1)
            top = ids[np.lexsort((ids, ham))[:n_cand]]
            out.extend(f"({int(q)},{int(i)})" for i in top)
        return ", ".join(out)

    # Shared hashed-embedding CTE text (the mmr_rerank oracle's), built on
    # the registered `documents` view for the final oracle SQL.
    emb_ctes = f"""
vtk AS (SELECT doc_id, {_TOKENS} AS tk FROM documents),
{_hashed_sql("vtk", "v")}"""

    hybrid_sql = f"""
WITH cand(qid, doc_id) AS (VALUES {_cand_pairs(160)}),
{_bm25_sql(250)},
lexr AS (SELECT qid, doc_id,
                row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rank
         FROM agg QUALIFY rank <= 20),
{emb_ctes},
{_fuse_sql(cand=True)},
rr AS (SELECT qid, doc_id, score,
              row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rank
       FROM f)
SELECT qid, doc_id, score, rank FROM rr WHERE rank <= 10
"""

    # mmr_scale: refine the embedded BQ top-240 candidates to the cosine
    # top-30 in DuckDB (rounded relevance + integer vectors), then the
    # SAME numpy greedy — the mmr_rerank oracle with indexed candidates.
    mmr_cand_sql = f"""
WITH cand(qid, doc_id) AS (VALUES {_cand_pairs(240)}),
tk AS (SELECT doc_id, {_TOKENS} AS tk FROM read_parquet('{path}')),
{_hashed_sql("tk")},
s AS (SELECT c.qid, b.doc_id, b.v,
   1.0 - list_sum(list_transform(list_zip(q.qv, b.v), p -> p[1] * p[2]))::DOUBLE
       / (sqrt(q.qn::DOUBLE) * sqrt(b.nsq::DOUBLE)) AS d
   FROM cand c JOIN base b ON b.doc_id = c.doc_id JOIN q ON q.qid = c.qid),
r AS (SELECT qid, doc_id, v, round(1.0 - d, 6) AS rel,
             row_number() OVER (PARTITION BY qid ORDER BY d, doc_id) AS rank
      FROM s)
SELECT qid, doc_id, rel, v FROM r WHERE rank <= 30 ORDER BY qid, doc_id
"""
    mmr_scale_sql = _mmr_sql(mmr_cand_sql)
    # hybrid_sparse_scale: BOTH legs indexed — the sparse leg replays the
    # full weight ladder PLUS the impact-pruning row_number cut at the
    # auto_m cap (deterministic SQL: w is 6-dp rounded, ties by doc_id,
    # so both engines cut identical keep-sets); the dense leg reuses the
    # embedded BQ candidates + integer-cosine refine; the RRF tail is the
    # hybrid_sparse_rrf ladder.  m resolves via sparse.auto_m over the
    # documents row count — the same n_docs the declared queries pass
    # (a metadata-only parquet count; the 0.04 coefficient carries enough
    # slack that all-docs vs tokenized-docs never moves m materially,
    # and at the oracle corpora both land on the floor).

    n_rows = duckdb.connect().execute(
        f"SELECT count(*) FROM read_parquet('{path}')").fetchone()[0]
    m_auto = auto_m(int(n_rows))
    hybrid_sparse_sql = f"""
WITH cand(qid, doc_id) AS (VALUES {_cand_pairs(160)}),
{_SPARSE_W_SQL},
swp AS (SELECT term, doc_id, w FROM (
            SELECT term, doc_id, w,
                   row_number() OVER (PARTITION BY term
                                      ORDER BY w DESC, doc_id) AS pr
            FROM sw) WHERE pr <= {m_auto}),
sqw AS (SELECT doc_id AS qid, term, w AS qwv FROM sw WHERE doc_id % 250 = 0),
ssc AS (SELECT sqw.qid, swp.doc_id, round(swp.w * sqw.qwv, 9)::DECIMAL(28,10) AS c
        FROM swp JOIN sqw ON swp.term = sqw.term),
sagg AS (SELECT qid, doc_id, CAST(round(sum(c), 6) AS DOUBLE) AS score
         FROM ssc GROUP BY qid, doc_id),
lexr AS (SELECT qid, doc_id,
                row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id)
                AS rank
         FROM sagg QUALIFY rank <= 20),
{emb_ctes},
{_fuse_sql(cand=True)},
rr AS (SELECT qid, doc_id, score,
              row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id)
              AS rank
       FROM f)
SELECT qid, doc_id, score, rank FROM rr WHERE rank <= 10
"""
    return {"hybrid_rrf_scale": hybrid_sql, "mmr_scale": mmr_scale_sql,
            "hybrid_sparse_scale": hybrid_sparse_sql}


def oracles() -> dict[str, str]:
    return (_mmr_oracle() | _hybrid_scale_oracles()) | {
        "hybrid_rrf_parity": _HYBRID_PARITY_SQL,
        # hybrid_rrf_topk: BOTH constituent pipelines re-derived (the bm25
        # CTEs at %250/top-20 and the hashed-embed cosine CTEs at top-20),
        # then the RRF tail with the identical rounding ladder.
        "hybrid_rrf_topk": f"""
WITH {_bm25_sql(250)},
lexr AS (SELECT qid, doc_id,
                row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rank
         FROM agg QUALIFY rank <= 20),
{_hashed_sql("tk", "v")},
{_fuse_sql(cand=False)},
rr AS (SELECT qid, doc_id, score,
              row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rank
       FROM f)
SELECT qid, doc_id, score, rank FROM rr WHERE rank <= 10
""",
        # hybrid_sparse_rrf: the sparse-IP leg (unigram+bigram TF-IDF,
        # %250 queries, top-20) + the hashed-embed cosine leg + the RRF
        # tail — every stage the rounding-ladder twin of its Spark form.
        "hybrid_sparse_rrf": f"""
WITH {_SPARSE_W_SQL},
sqw AS (SELECT doc_id AS qid, term, w AS qwv FROM sw WHERE doc_id % 250 = 0),
ssc AS (SELECT sqw.qid, sw.doc_id, round(sw.w * sqw.qwv, 9)::DECIMAL(28,10) AS c
        FROM sw JOIN sqw ON sw.term = sqw.term),
sagg AS (SELECT qid, doc_id, CAST(round(sum(c), 6) AS DOUBLE) AS score
         FROM ssc GROUP BY qid, doc_id),
lexr AS (SELECT qid, doc_id,
                row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id)
                AS rank
         FROM sagg QUALIFY rank <= 20),
{_hashed_sql("tk0", "v")},
{_fuse_sql(cand=False)},
rr AS (SELECT qid, doc_id, score,
              row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id)
              AS rank
       FROM f)
SELECT qid, doc_id, score, rank FROM rr WHERE rank <= 10
""",
        # feature-hashing embeddings: integer bucket-count vectors from
        # the same md5-60bit token hash; cosine = 4 identically-ordered
        # IEEE ops over exact integer dot/norms
        "hashed_embed_knn": f"""
WITH tk AS (SELECT doc_id, {_TOKENS} AS tk FROM documents),
{_hashed_sql("tk", base=False)},
n AS (SELECT doc_id, v,
   list_sum(list_transform(v, x -> x * x)) AS nsq FROM v),
base AS (SELECT doc_id, v, nsq FROM n WHERE nsq > 0),
q AS (SELECT doc_id AS qid, v AS qv, nsq AS qn FROM base
      WHERE doc_id % 250 = 0),
s AS (SELECT q.qid, b.doc_id AS id,
   1.0 - list_sum(list_transform(list_zip(q.qv, b.v), p -> p[1] * p[2]))::DOUBLE
       / (sqrt(q.qn::DOUBLE) * sqrt(b.nsq::DOUBLE)) AS d
   FROM base b, q),
r AS (SELECT qid, id, d,
   row_number() OVER (PARTITION BY qid ORDER BY d, id) AS rank FROM s)
SELECT qid, id, round(d, 6) AS dist, rank FROM r WHERE rank <= 10
""",
    }
