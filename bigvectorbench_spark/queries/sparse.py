"""Sparse and lexical search: BM25, sparse TF-IDF inner-product top-k,
its pruned, filtered and incremental forms, and ranked-list metrics."""

from __future__ import annotations

from pyspark.sql import functions as F

from bigvectorbench_spark.functions import text as tx
from bigvectorbench_spark.operators import retrieval as rt, sparse as sp
from bigvectorbench_spark.operators.retrieval import ndcg_weights
from bigvectorbench_spark.sources.tables import load_table, table_rows

from bigvectorbench_spark.queries._common import (
    _bm25_sql, _docs_wide, _gate, _recall_gate, _TOKENS)


def q_sparse_delta_report(spark, sf):
    """Incremental maintenance for the sparse index — the ivf_delta twin:
    a 10% arrival batch (doc_id % 10 = 7) absorbs with FROZEN base
    statistics (stale idf, map-side append, zero existing postings
    touched), and this one-row report meters the price: posting/vocab
    volumes plus the mean |idf drift| over base terms the delta touched —
    the rebuild-on-evidence signal.  Fully value-oracled (the drift
    arithmetic replays in SQL with the 9-dp/DECIMAL/6-dp ladder)."""
    docs = _docs_wide(spark, sf)
    # One tokenize for both sides: postings are per-document local,
    # so filtering the shared corpus-wide postings frame is row-identical
    # to tokenizing each filtered slice separately.  NOT persisted: all
    # consumers sit in one action and reference the identical aggregation
    # subtree, so ReusedExchange dedups the shuffle for free — the
    # interleaved A/B read persist at 4.79 s vs 2.97 s without (the cache
    # write+read of exploded postings costs more than it saves).
    all_post = sp.lexical_postings(docs)
    base_post = all_post.filter("doc_id % 10 != 7")
    delta_post = all_post.filter("doc_id % 10 = 7")
    return sp.sparse_delta_report(base_post, delta_post)


def q_sparse_delta_parity(spark, sf):
    """Closes the stale-idf loop the hybrid_rrf_parity way: the same
    queries search the absorbed index (base weights + stale-weight delta
    postings union) AND a full rebuild over base+delta; top-10 overlap is
    emitted as oracle-asserted threshold booleans.  Measured 0.96/0.9 at
    sf0.001 and 0.92/0.7 at sf0.01 (a 10% arrival barely moves idf);
    tight gate 0.85/0.6, off-sf floor 0.5/0.2."""
    mean_thr, min_thr = _gate(sf, tight=(0.85, 0.6), floor=(0.5, 0.2))
    docs = _docs_wide(spark, sf)
    base = docs.filter("doc_id % 10 != 7")
    delta = docs.filter("doc_id % 10 = 7")
    # One tokenize for base, delta AND rebuild (not three full
    # tokenize→postings pipelines): postings are per-document local, so
    # slicing the shared corpus-wide frame is row-identical.  all_post is
    # NOT persisted (ReusedExchange dedups the identical aggregation
    # subtree within the absorbed/rebuilt materializations; the A/B read
    # persist-off faster) — absorbed/rebuilt stay persisted because
    # sparse_topk consumes each through three non-identical subtrees
    # (query weights, query vocab, postings probe).
    all_post = sp.lexical_postings(docs)
    base_post = all_post.filter("doc_id % 10 != 7")
    absorbed = sp.sparse_postings(base, post=base_post).unionByName(
        sp.stale_weight_postings(delta, base_post,
                                 post=all_post.filter("doc_id % 10 = 7"))
    ).persist()
    rebuilt = sp.sparse_postings(docs, post=all_post).persist()
    queries = load_table(spark, sf, "documents").filter("doc_id % 100 = 0").select(
        F.col("doc_id").alias("qid"))
    return _recall_gate(sp.sparse_topk(docs, queries, k=10, wpost=absorbed),
                        sp.sparse_topk(docs, queries, k=10, wpost=rebuilt),
                        mean_thr, min_thr, col="doc_id")


def q_bm25_topk(spark, sf):
    """Inverted-index BM25 top-10: postings semi-joined to the broadcast
    query-term set before scoring, DECIMAL-accumulated per-term scores for
    engine-stable ranks.  Queries = every 500th doc, terms = its 3
    alphabetically-first distinct tokens."""
    docs = _docs_wide(spark, sf)
    queries = load_table(spark, sf, "documents").filter("doc_id % 500 = 0").select(
        F.col("doc_id").alias("qid"),
        F.slice(F.array_sort(F.array_distinct(tx.tokens(F.col("text")))), 1, 3).alias("terms"),
    )
    return rt.bm25_topk(docs, queries, k=10)


def q_top_terms_per_source(spark, sf):
    """Vocabulary heavy hitters: exact top-10 terms per source slice
    (explode → map-side-combined count → per-group top-n window)."""
    return rt.top_terms(_docs_wide(spark, sf), group_col="source", n=10)


def _sparse_index(spark, sf):
    """(docs, queries, wpost): the corpus, its every-100th document as
    query ids, and its weighted sparse index, persisted.  The index
    persists across its three consumers (query weights, query vocabulary,
    hits) — without the stage boundary the full tokenize→postings→df
    lineage recomputes 3× (measured 9.0s → 2.9s at sf0.1); at scale this
    boundary is the stored index itself."""
    docs = _docs_wide(spark, sf)
    queries = load_table(spark, sf, "documents").filter("doc_id % 100 = 0").select(
        F.col("doc_id").alias("qid"))
    wpost = sp.sparse_postings(docs, post=sp.lexical_postings(docs)).persist()
    return docs, queries, wpost


def q_sparse_knn(spark, sf):
    """Sparse-vector inner-product top-10 (the Milvus SPARSE_FLOAT_VECTOR
    field type, milvus/module.py:142, served IP-only): documents become
    SMART-ltn TF-IDF sparse vectors over unigram+bigram features and every
    100th document queries the corpus through ONE inverted-index term
    equi-join — scored rows are O(postings in the query vocabulary), never
    O(docs × queries).  Fully value-oracled: weights (6 dp), per-term
    products (9 dp, DECIMAL sum), final score (6 dp before ranking) follow
    the bm25_topk engine-stability ladder, so scores and ranks hash-match."""
    docs, queries, wpost = _sparse_index(spark, sf)
    return sp.sparse_topk(docs, queries, k=10, wpost=wpost)


def q_sparse_prune_recall(spark, sf):
    """Closes the sparse scale path the ivf_recall way: the impact-ordered
    pruned index (per-term posting lists truncated to the top-``auto_m``
    documents by weight — the knob that caps stopword-term join cost at
    100 TB) serves the same queries with FULL query-side vectors, and its
    top-10 recall against the exact join is emitted as oracle-asserted
    threshold booleans.  m resolves via sparse.auto_m (the hnsw auto_ef
    twin: m ∝ corpus holds the cut fraction ≈14% and
    recall ≈constant across decades); at the
    500-doc oracle corpora the floor gives m=64, which removes 26-28% of
    all postings (every cut from the high-df unigram head, whose idf≈0.25
    weights carry little score mass; the df≈28 bigram tail survives whole)
    at measured recall mean 0.96/min 0.9 (sf0.001) and 0.98/0.9 (sf0.01).
    Tight gate 0.9/0.8 trips on a pruning-order defect; the off-sf floor
    0.6/0.3 only on a cratering bug."""
    mean_thr, min_thr = _gate(sf, tight=(0.9, 0.8), floor=(0.6, 0.3))
    docs, queries, wpost = _sparse_index(spark, sf)
    exact = sp.sparse_topk(docs, queries, k=10, wpost=wpost)
    pruned = sp.sparse_topk(
        docs, queries, k=10,
        wpost=sp.prune_postings(wpost, m="auto", n_docs=table_rows(sf, "documents")),
        qwpost=wpost)
    return _recall_gate(pruned, exact, mean_thr, min_thr, col="doc_id")


def q_sparse_filter_knn(spark, sf):
    """Filtered sparse search — the sparse twin of Q4's filtered kNN (the
    Milvus form: SPARSE_FLOAT_VECTOR ANN under a scalar filter
    expression, milvus/module.py:142 + the search-expr path): candidates
    restrict to lang = 'en' documents (~40% selective here) BEFORE
    scoring via a posting-side semi-join, while weights keep whole-corpus
    statistics — so ranks equal post-filtering the exact search and the
    join cost is O(allowed postings).  Fully value-oracled: the SQL twin
    applies the same candidate restriction at the scoring join on top of
    the corpus-global weight ladder, so scores and ranks hash-match."""
    docs, queries, wpost = _sparse_index(spark, sf)
    return sp.filtered_sparse_topk(
        docs, queries, predicate="lang = 'en'", k=10, wpost=wpost)


def q_sparse_filter_adaptive(spark, sf):
    """Filtered sparse search at high selectivity — the G5 pre/post-filter
    policy for the sparse family (reference policy
    create_artificial_datasets.py:165-283 + the pgvector filtered-search
    SQL, pgvector/module.py:90-102): the predicate here keeps ~85% of
    documents (lang <> 'zh'), where the reference would post-filter.
    Here both authorings return identical rows (weights are corpus-global)
    AND converge physically — Catalyst sinks a postfilter semi-join below
    the score aggregate, and a 500k-doc sweep measured them equal at every
    selectivity — so the one prefilter plan serves every selectivity.
    Fully value-oracled by the same filtered SQL form as
    sparse_filter_knn."""
    docs, queries, wpost = _sparse_index(spark, sf)
    return sp.filtered_sparse_topk(
        docs, queries, predicate="lang <> 'zh'", k=10, wpost=wpost)


def q_sparse_quantile_recall(spark, sf):
    """The spectrum-general auto_m gate: ``m`` is
    resolved by sparse.auto_m_spectrum — a bounded df-spectrum aggregate
    holding the postings CUT FRACTION at the Zipf-decade operating point
    (≈14.2%) on ANY term-frequency shape, where the
    0.04·n fast path assumes Zipf.  Same gate shape as
    sparse_prune_recall: the spectrum-pruned index serves the queries
    with full query-side vectors, and top-10 recall vs the exact join is
    emitted as oracle-asserted threshold booleans.  Holding the cut at
    ≈14% prunes LESS than the 500-doc floor m=64 (which cuts 26-28%
    here), so recall sits at/above prune_recall's 0.96-0.98 floor; tight
    gate 0.9/0.8, off-sf floor 0.6/0.3.  Both spectra validated at the
    500k regime (Zipf + uniform-df)."""
    mean_thr, min_thr = _gate(sf, tight=(0.9, 0.8), floor=(0.6, 0.3))
    docs, queries, wpost = _sparse_index(spark, sf)
    exact = sp.sparse_topk(docs, queries, k=10, wpost=wpost)
    pruned = sp.sparse_topk(docs, queries, k=10,
                            wpost=sp.prune_postings(wpost, m="spectrum"),
                            qwpost=wpost)
    return _recall_gate(pruned, exact, mean_thr, min_thr, col="doc_id")


def q_retrieval_eval(spark, sf):
    """Ranked-list quality of the BM25 run — recall@10 / MRR@10 / nDCG@10
    per query against deterministic lexical-overlap qrels (rel = number of
    the query's 3 terms present in the doc).  This is the metrics half a
    retrieval/RAG pipeline adds on top of the reference's set-recall
    scoring (plotting/metrics.py): same engine-stability discipline as
    bm25_topk itself — integer gains × shared literal discounts, 9-dp
    per-term rounding, DECIMAL accumulation, 6-dp final ratios — so every
    metric value hash-matches the DuckDB recomputation."""
    docs = _docs_wide(spark, sf)
    queries = load_table(spark, sf, "documents").filter("doc_id % 100 = 0").select(
        F.col("doc_id").alias("qid"),
        F.slice(F.array_sort(F.array_distinct(tx.tokens(F.col("text")))), 1, 3).alias("terms"),
    )
    # One corpus tokenize serves the run, the qrels and the corpus stats
    # (persisted stage boundary, the corpus_curation discipline).
    post = rt.postings(docs).persist()
    run = rt.bm25_topk(docs, queries, k=10, post=post,
                       stats=rt.stats_from_postings(post)).select(
        "qid", "doc_id", "rank")
    qrels = rt.term_overlap_qrels(docs, queries, post=post)
    return rt.retrieval_eval(run, qrels, k=10)


# The nDCG@10 rank-discount literals, shared verbatim with the Spark
# operator (retrieval.ndcg_weights) so neither engine's log2 is in play.
_NDCG_W = "[" + ", ".join(repr(w) for w in ndcg_weights(10)) + "]"


# sparse_knn: the whole sparse TF-IDF pipeline re-derived — tokenize,
# unigram+bigram features (WITH duplicates: tf matters), postings,
# corpus-wide df, SMART-ltn weights (6 dp), per-term products (9 dp →
# DECIMAL sum), 6-dp score before (score desc, doc asc) ranking —
# operators/sparse.py's exact ladder, so scores and ranks hash-match.
# n counts docs WITH >=1 feature (len(tk) > 0) — the stats_from_postings
# convention (a zero-token doc contributes no posting row, so it must not
# shift idf here either); the delta-report oracle counts the same way.
# doc_where (the filtered form): candidate docs restrict AT SCORING —
# weights/df/idf stay corpus-global, exactly filtered_sparse_topk's
# prefilter ≡ postfilter semantics.
def _sparse_knn_sql(doc_where: str = "") -> str:
    cand = (f" WHERE w.doc_id IN (SELECT doc_id FROM documents"
            f" WHERE {doc_where})" if doc_where else "")
    return f"""
WITH tk0 AS (SELECT doc_id, {_TOKENS} AS tk FROM documents),
tk AS (SELECT doc_id,
              list_concat(tk, list_transform(range(1, greatest(len(tk), 1)),
                  i -> tk[i] || ' ' || tk[i+1])) AS tk
       FROM tk0),
stats AS (SELECT count(*)::DOUBLE AS n FROM tk WHERE len(tk) > 0),
post AS (SELECT doc_id, unnest(tk) AS term FROM tk),
tfs AS (SELECT term, doc_id, count(*) AS tf FROM post GROUP BY term, doc_id),
dfr AS (SELECT term, count(*) AS df FROM tfs GROUP BY term),
w AS (SELECT t.term, t.doc_id,
             round((1.0 + ln(t.tf::DOUBLE)) * ln(s.n / dfr.df::DOUBLE), 6) AS w
      FROM tfs t JOIN dfr ON t.term = dfr.term CROSS JOIN stats s),
qw AS (SELECT doc_id AS qid, term, w AS qwv FROM w WHERE doc_id % 100 = 0),
sc AS (SELECT qw.qid, w.doc_id, round(w.w * qw.qwv, 9)::DECIMAL(28,10) AS c
       FROM w JOIN qw ON w.term = qw.term{cand}),
agg AS (SELECT qid, doc_id, CAST(round(sum(c), 6) AS DOUBLE) AS score
        FROM sc GROUP BY qid, doc_id),
r AS (SELECT qid, doc_id, score,
             row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rank
      FROM agg)
SELECT qid, doc_id, score, rank FROM r WHERE rank <= 10
"""


# n_queries restricts to docs with >=1 token: the Spark gates derive the
# query count from the truth side of recall_per_query, and a zero-token
# query document has no sparse vector (no posting rows), so it never
# reaches the truth frame — the oracle must not count it either.
_SPARSE_GATE_SQL = f"""
SELECT count(*) AS n_queries, TRUE AS mean_recall_ok, TRUE AS min_recall_ok
FROM documents WHERE doc_id % 100 = 0 AND len({_TOKENS}) > 0
"""


def oracles() -> dict[str, str]:
    return {
        "sparse_knn": _sparse_knn_sql(),
        "sparse_filter_knn": _sparse_knn_sql("lang = 'en'"),
        # the same corpus-global-weights filtered form at ~85% selectivity;
        # prefilter ≡ postfilter by construction, so one SQL oracles either
        # authoring
        "sparse_filter_adaptive": _sparse_knn_sql("lang <> 'zh'"),
        "sparse_prune_recall": _SPARSE_GATE_SQL,
        "sparse_quantile_recall": _SPARSE_GATE_SQL,
        "bm25_topk": f"""
WITH {_bm25_sql(500)},
r AS (SELECT qid, doc_id, score,
             row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rank
      FROM agg)
SELECT qid, doc_id, score, rank FROM r WHERE rank <= 10
""",
        # retrieval_eval: the full bm25 pipeline re-derived, then qrels
        # (distinct-term overlap counts on the same semi-joined postings)
        # and the three ranked-list metrics.  The nDCG discount weights are
        # the SAME Python-computed literals the Spark operator folds in
        # (retrieval.ndcg_weights), so no engine's log2 enters either plan;
        # gains/discount products round to 9 dp and accumulate in DECIMAL
        # exactly as retrieval_eval does.
        "retrieval_eval": f"""
WITH {_bm25_sql(100)},
r AS (SELECT qid, doc_id,
             row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rank
      FROM agg),
wt AS (SELECT {_NDCG_W} AS wl),
qr AS (SELECT qt.qid, h.doc_id, count(*)::INT AS rel
       FROM hits h JOIN qt ON h.term = qt.term GROUP BY qt.qid, h.doc_id),
ret AS (SELECT r.qid, r.doc_id, r.rank, coalesce(qr.rel, 0) AS rel
        FROM r LEFT JOIN qr ON qr.qid = r.qid AND qr.doc_id = r.doc_id
        WHERE r.rank <= 10),
perq AS (SELECT qid, count(*) AS n_retrieved,
                sum(CAST(round((power(2.0, rel) - 1.0) * wl[rank], 9)
                         AS DECIMAL(28,10))) AS dcg,
                sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS hits,
                min(CASE WHEN rel > 0 THEN rank END) AS frank
         FROM ret CROSS JOIN wt GROUP BY qid),
ideal AS (SELECT qid, sum(CAST(round((power(2.0, rel) - 1.0) * wl[irank], 9)
                              AS DECIMAL(28,10))) AS idcg
          FROM (SELECT qid, doc_id, rel,
                       row_number() OVER (PARTITION BY qid ORDER BY rel DESC, doc_id) AS irank
                FROM qr) CROSS JOIN wt
          WHERE irank <= 10 GROUP BY qid),
nrel AS (SELECT qid, count(*) AS n_relevant FROM qr GROUP BY qid)
SELECT p.qid, p.n_retrieved, coalesce(n.n_relevant, 0) AS n_relevant,
       CASE WHEN coalesce(n.n_relevant, 0) > 0
            THEN round(p.hits::DOUBLE / n.n_relevant::DOUBLE, 6) ELSE 0.0
       END AS recall_at_10,
       CASE WHEN p.frank IS NOT NULL
            THEN round(1.0 / p.frank::DOUBLE, 6) ELSE 0.0 END AS mrr_at_10,
       CASE WHEN i.idcg IS NOT NULL AND i.idcg > 0
            THEN round(p.dcg::DOUBLE / i.idcg::DOUBLE, 6) ELSE 0.0
       END AS ndcg_at_10
FROM perq p LEFT JOIN nrel n USING (qid) LEFT JOIN ideal i USING (qid)
""",
        "top_terms_per_source": f"""
WITH tk AS (SELECT source, {_TOKENS} AS tk FROM documents),
e AS (SELECT source, unnest(tk) AS term FROM tk),
c AS (SELECT source, term, count(*) AS n_occurrences FROM e GROUP BY source, term),
r AS (SELECT source, term, n_occurrences,
             row_number() OVER (PARTITION BY source ORDER BY n_occurrences DESC, term) AS rank
      FROM c)
SELECT source, term, n_occurrences, rank FROM r WHERE rank <= 10
""",
        # sparse_delta_report: base/delta unigram+bigram postings, df
        # tables, and the idf-drift arithmetic replayed — 9-dp per-term
        # drift, DECIMAL sum, double division, 6-dp mean.
        "sparse_delta_report": f"""
WITH tk0 AS (SELECT doc_id, {_TOKENS} AS tk FROM documents),
ftk AS (SELECT doc_id,
               list_concat(tk, list_transform(range(1, greatest(len(tk), 1)),
                   i -> tk[i] || ' ' || tk[i+1])) AS ft
        FROM tk0),
bt AS (SELECT DISTINCT doc_id, unnest(ft) AS term FROM ftk
       WHERE doc_id % 10 != 7),
dt AS (SELECT DISTINCT doc_id, unnest(ft) AS term FROM ftk
       WHERE doc_id % 10 = 7),
df0 AS (SELECT term, count(*) AS df0 FROM bt GROUP BY term),
dfd AS (SELECT term, count(*) AS dfd FROM dt GROUP BY term),
s AS (SELECT (SELECT count(DISTINCT doc_id) FROM bt) AS n0,
             (SELECT count(DISTINCT doc_id) FROM dt) AS nd),
touched AS (SELECT df0.df0, dfd.dfd, s.n0, s.nd
            FROM df0 JOIN dfd USING (term) CROSS JOIN s),
dr AS (SELECT round(abs(ln(n0::DOUBLE / df0::DOUBLE)
                      - ln((n0 + nd)::DOUBLE / (df0 + dfd)::DOUBLE)),
               9)::DECIMAL(28,10) AS d
       FROM touched)
SELECT s.n0::BIGINT AS n_base_docs, s.nd::BIGINT AS n_delta_docs,
       (SELECT count(*) FROM df0)::BIGINT AS vocab_base,
       (SELECT count(*) FROM dfd WHERE term NOT IN (SELECT term FROM df0))
           ::BIGINT AS vocab_new,
       (SELECT sum(df0) FROM df0)::BIGINT AS postings_base,
       (SELECT sum(dfd) FROM dfd)::BIGINT AS postings_delta,
       (SELECT count(*) FROM dr)::BIGINT AS terms_touched,
       (SELECT round(CAST(sum(d) AS DOUBLE) / count(*), 6) FROM dr)
           AS mean_idf_drift
FROM s
""",
        "sparse_delta_parity": _SPARSE_GATE_SQL,
    }
