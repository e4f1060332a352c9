"""Text retrieval over the document corpus: inverted-index BM25 top-k and
vocabulary heavy hitters.

Part of the BASELINE.json training-data-pipeline extension surface (no
reference analog — the reference's retrieval is vector kNN; a corpus
pipeline additionally needs lexical search for quality audits, dedup
triage, and eval-set mining).

Scale design:

- **The inverted index is the plan.** Postings ``(term, doc_id, tf)`` are
  one explode + one map-side-combinable groupBy away from the raw corpus.
  Queries touch only their own terms: postings are semi-joined against the
  (broadcast, tiny) query-term set *before* anything else, so the scored
  row count is O(matching postings), never O(docs × queries).
- **Document frequency comes free after the semi-join**: every document
  containing a query term survives it, so counting distinct docs per term
  on the filtered postings equals the corpus-wide df.
- **Corpus stats (N, avgdl) are one tiny aggregate** broadcast back into
  the scoring expression — no driver-side collect in the plan.
- **Engine-stable scoring**: per-term BM25 contributions are rounded then
  accumulated in DECIMAL (order-independent), so ranks are reproducible
  across engines and partitionings; ties break by ascending doc id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from bigvectorbench_spark.functions import text as tx
from bigvectorbench_spark.operators.dedup import _widen


def postings(
    docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text",
    tk: DataFrame | None = None,
) -> DataFrame:
    """Inverted-index postings ``(term, doc_id, dl, tf)`` — term frequency
    per document plus the document length needed by BM25 normalization.

    ``tk``: a precomputed ``(doc_id, tk)`` tokenized frame — tokenization
    is per-document local, so building postings from a shared (persisted)
    token frame is row-identical to tokenizing here, and multi-leg
    consumers (hybrid lexical+vector queries) share one tokenize pass."""
    if tk is None:
        tk = _widen(docs).select(
            F.col(id_col).alias("doc_id"), tx.tokens(F.col(text_col)).alias("tk")
        )
    tk = tk.select("doc_id", "tk", F.size("tk").alias("dl"))
    return (
        tk.select("doc_id", "dl", F.explode("tk").alias("term"))
        .groupBy("term", "doc_id", "dl")
        .agg(F.count("*").alias("tf"))
    )


def corpus_stats(docs: DataFrame, *, text_col: str = "text",
                 tk: DataFrame | None = None) -> DataFrame:
    """One-row frame (n_docs, avgdl); joined (broadcast) into scoring.

    ``tk``: precomputed ``(doc_id, tk)`` frame — same count/avg over
    ``size(tk)`` (every document contributes, including token-less ones),
    without a second tokenize."""
    if tk is not None:
        dl = tk.select(F.size("tk").alias("dl"))
    else:
        dl = docs.select(F.size(tx.tokens(F.col(text_col))).alias("dl"))
    return dl.agg(
        F.count("*").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
    )


def stats_from_postings(post: DataFrame) -> DataFrame:
    """corpus_stats recomputed from a postings frame (no second tokenize):
    each document contributes one (doc_id, dl) row after the distinct."""
    dl = post.select("doc_id", "dl").distinct()
    return dl.agg(
        F.count("*").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
    )


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
    qid_col: str = "qid",
    terms_col: str = "terms",
    post: DataFrame | None = None,
    stats: DataFrame | None = None,
) -> DataFrame:
    """BM25 top-k: for each query (a bag of terms), the ``k`` highest-scoring
    documents. Returns (qid, doc_id, score, rank).

    score(q, d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)),
    idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5))  — the Robertson/Sparck-Jones
    form with the +1 smoothing Lucene uses.

    Per-term contributions are rounded to 9 dp and summed as DECIMAL so the
    total is independent of addition order (and of which engine computes
    it); the final score is rounded to 6 dp *before* ranking so ordering is
    also engine-stable. Duplicate query terms count once (set semantics).

    ``post`` / ``stats``: pass a precomputed (persisted) postings frame and
    corpus-stats row to share the corpus tokenization with other consumers
    (qrels, evaluation) — one scan instead of one per operator.
    """
    if post is None:
        post = postings(docs, id_col=id_col, text_col=text_col)
    qterms = queries.select(
        F.col(qid_col).alias("qid"), F.explode(terms_col).alias("term")
    ).distinct()
    uniq_terms = qterms.select("term").distinct()

    # Only postings for query terms ever leave the scan stage.
    hits = post.join(F.broadcast(uniq_terms), "term")
    docfreq = hits.groupBy("term").agg(F.count("*").alias("df"))
    if stats is None:
        stats = corpus_stats(docs, text_col=text_col)

    scored = (
        hits.join(F.broadcast(qterms), "term")
        .join(F.broadcast(docfreq), "term")
        .crossJoin(F.broadcast(stats))
    )
    n, df_, tf, dl = (F.col(c).cast("double") for c in ("n_docs", "df", "tf", "dl"))
    idf = F.log(F.lit(1.0) + (n - df_ + 0.5) / (df_ + 0.5))
    tfn = (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * dl / F.col("avgdl")))
    term_score = F.round(idf * tfn, 9).cast("decimal(28,10)")

    per_doc = (
        scored.groupBy("qid", "doc_id")
        .agg(F.round(F.sum(term_score), 6).cast("double").alias("score"))
    )
    w = Window.partitionBy("qid").orderBy(F.col("score").desc(), F.col("doc_id"))
    return (
        per_doc.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
    )


def top_terms(
    docs: DataFrame,
    *,
    group_col: str = "source",
    n: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Vocabulary heavy hitters: the ``n`` most frequent terms per group
    (corpus slice), with occurrence counts. (group, term, n_occurrences,
    rank). Exact — explode + map-side-combined groupBy + per-group top-n
    window; the shuffle carries (group, term) partial counts only."""
    exploded = _widen(docs).select(
        F.col(group_col).alias("grp"), F.explode(tx.tokens(F.col(text_col))).alias("term")
    )
    counts = exploded.groupBy("grp", "term").agg(F.count("*").alias("n_occurrences"))
    w = Window.partitionBy("grp").orderBy(F.col("n_occurrences").desc(), F.col("term"))
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= n)
        .select(F.col("grp").alias(group_col), "term", "n_occurrences", "rank")
    )


# --------------------------------------------------------------- evaluation

def ndcg_weights(k: int) -> list[float]:
    """Rank-discount table for nDCG@k: w_r = round(1/log2(r+1), 9).

    Computed once in Python and used as LITERALS on every engine (Spark
    expression, DuckDB oracle, numpy test oracle), so no engine's log2
    enters the scored plan — the metric arithmetic is (exact integer gain)
    × (shared literal weight), rounded per term and summed in DECIMAL, the
    same engine-stability discipline bm25_topk uses for its scores."""
    import math

    return [round(1.0 / math.log2(r + 1), 9) for r in range(1, k + 1)]


def retrieval_eval(
    results: DataFrame,
    qrels: DataFrame,
    *,
    k: int = 10,
    qid_col: str = "qid",
    id_col: str = "doc_id",
    rank_col: str = "rank",
    rel_col: str = "rel",
) -> DataFrame:
    """Per-query ranking quality of a retrieval run: recall@k, MRR@k and
    nDCG@k against graded relevance judgments ("qrels", TREC vocabulary).

    The reference's metrics pipeline scores vector runs with set-recall
    (plotting/metrics.py knn/epsilon); a retrieval/RAG corpus pipeline
    additionally needs the ranked-list metrics this operator adds.  Inputs:
    ``results`` (qid, doc_id, rank) — any ranked run (bm25_topk, an ANN
    search with ranks, …) — and ``qrels`` (qid, doc_id, rel) with integer
    grades, rel > 0 meaning relevant.  Output one row per qid appearing in
    ``results``: (qid, n_retrieved, n_relevant, recall_at_k, mrr_at_k,
    ndcg_at_k).

    Engine-stable by construction: gains are exact integers (2^rel − 1,
    exact in double for grades ≤ 62), discounts are the shared
    ``ndcg_weights`` literals, per-rank terms round to 9 dp and accumulate
    in DECIMAL(28,10) (order-free), and each final ratio rounds to 6 dp.
    Queries with no relevant documents emit 0.0 metrics (not NULL).

    Scale: qrels carry only rel > 0 rows (judgment lists, bounded per
    query); every join is an equi-join on (qid, doc_id) or qid, and the
    per-query aggregates shuffle k-bounded rows — nothing is O(corpus).
    """
    warr = F.array(*[F.lit(w) for w in ndcg_weights(k)])
    rels = qrels.filter(F.col(rel_col) > 0).select(
        F.col(qid_col).alias("qid"), F.col(id_col).alias("doc_id"),
        F.col(rel_col).cast("long").alias("_rel"))
    res = results.filter(F.col(rank_col) <= k).select(
        F.col(qid_col).alias("qid"), F.col(id_col).alias("doc_id"),
        F.col(rank_col).cast("int").alias("_rank"))

    def _term(rel, rank):
        # 2^rel is exactly representable in double for rel ≤ 62, so the
        # integer gain is exact on every engine (grades are small ints).
        gain = F.pow(F.lit(2.0), rel.cast("double")) - F.lit(1.0)
        return F.round(gain * F.element_at(warr, rank), 9).cast("decimal(28,10)")

    j = res.join(rels, ["qid", "doc_id"], "left").withColumn(
        "_rel", F.coalesce("_rel", F.lit(0)))
    per_q = j.groupBy("qid").agg(
        F.count("*").alias("n_retrieved"),
        F.sum(_term(F.col("_rel"), F.col("_rank"))).alias("_dcg"),
        F.sum(F.when(F.col("_rel") > 0, 1).otherwise(0)).alias("_hits"),
        F.min(F.when(F.col("_rel") > 0, F.col("_rank"))).alias("_frank"),
    )
    iw = Window.partitionBy("qid").orderBy(F.col("_rel").desc(), F.col("doc_id"))
    ideal = (
        rels.withColumn("_irank", F.row_number().over(iw))
        .filter(F.col("_irank") <= k)
        .groupBy("qid")
        .agg(F.sum(_term(F.col("_rel"), F.col("_irank"))).alias("_idcg"),
             F.count("*").alias("_ideal_n"))
    )
    nrel = rels.groupBy("qid").agg(F.count("*").alias("n_relevant"))
    out = (
        per_q.join(nrel, "qid", "left").join(ideal.drop("_ideal_n"), "qid", "left")
        .withColumn("n_relevant", F.coalesce("n_relevant", F.lit(0)))
    )
    zero = F.lit(0.0)
    return out.select(
        "qid", "n_retrieved", "n_relevant",
        F.when(F.col("n_relevant") > 0,
               F.round(F.col("_hits").cast("double") /
                       F.col("n_relevant").cast("double"), 6))
        .otherwise(zero).alias(f"recall_at_{k}"),
        F.when(F.col("_frank").isNotNull(),
               F.round(F.lit(1.0) / F.col("_frank").cast("double"), 6))
        .otherwise(zero).alias(f"mrr_at_{k}"),
        F.when(F.col("_idcg").isNotNull() & (F.col("_idcg") > 0),
               F.round(F.col("_dcg").cast("double") /
                       F.col("_idcg").cast("double"), 6))
        .otherwise(zero).alias(f"ndcg_at_{k}"),
    )


def term_overlap_qrels(
    docs: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    qid_col: str = "qid",
    terms_col: str = "terms",
    post: DataFrame | None = None,
) -> DataFrame:
    """Deterministic graded judgments for the synthetic corpus: rel(q, d) =
    number of q's (distinct) terms present in d's token set — the standard
    lexical-overlap grading used when no human judgments exist.  Emits only
    rel > 0 rows: (qid, doc_id, rel).

    Same plan shape as bm25_topk's candidate stage: postings are semi-joined
    against the broadcast query-term set before anything aggregates, so the
    work is O(matching postings).  ``post``: share a precomputed postings
    frame (one corpus tokenize serves run + qrels + stats)."""
    if post is None:
        post = postings(docs, id_col=id_col, text_col=text_col)
    post = post.select("term", "doc_id")
    qterms = queries.select(
        F.col(qid_col).alias("qid"), F.explode(terms_col).alias("term")
    ).distinct()
    return (
        post.join(F.broadcast(qterms), "term")
        .groupBy("qid", "doc_id")
        .agg(F.count("*").cast("int").alias("rel"))
    )


def rrf_fuse(
    runs: "list[DataFrame]",
    *,
    k: int = 10,
    k0: int = 60,
    weights: "list[float] | None" = None,
    qid_col: str = "qid",
    id_col: str = "doc_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Reciprocal Rank Fusion (Cormack/Clarke/Buettcher 2009) across
    heterogeneous retrieval runs — the hybrid-search primitive production
    vector stores ship beside the WeightedRanker (Milvus's RRFRanker;
    the reference reaches fusion through milvus/module.py:422-458):
    score(d) = Σ_runs w_i / (k0 + rank_i(d)), documents missing from a run
    contribute nothing, final ranking by (score desc, id).

    RRF fuses RANKS, not scores, so BM25's unbounded scores and cosine's
    [0,2] distances need no calibration — the reason it is the default
    hybrid everywhere.  Engine-stable: each contribution w/(k0+rank) is
    one double division of exact integers (identical IEEE on any engine),
    rounded to 9 dp and summed in DECIMAL (order-free), with the fused
    score rounded to 6 dp before ranking — the bm25_topk discipline.

    Scale: inputs are already k-bounded per query; the fuse is one
    groupBy over O(Σ runs · q · k) rows — nothing touches the corpus."""
    if not runs:
        raise ValueError("rrf_fuse needs at least one run")
    w = [1.0] * len(runs) if weights is None else [float(x) for x in weights]
    if len(w) != len(runs):
        raise ValueError(f"{len(w)} weights for {len(runs)} runs")
    parts = []
    for i, run in enumerate(runs):
        parts.append(run.select(
            F.col(qid_col).alias("qid"),
            F.col(id_col).alias("doc_id"),
            F.round(F.lit(w[i]) /
                    (F.lit(float(k0)) + F.col(rank_col).cast("double")), 9)
            .cast("decimal(28,10)").alias("_term"),
        ))
    allruns = parts[0]
    for p in parts[1:]:
        allruns = allruns.unionByName(p)
    fused = allruns.groupBy("qid", "doc_id").agg(
        F.round(F.sum("_term"), 6).cast("double").alias("score"))
    win = Window.partitionBy("qid").orderBy(
        F.col("score").desc(), F.col("doc_id"))
    return (fused.withColumn("rank", F.row_number().over(win).cast("bigint"))
            .filter(F.col("rank") <= k))


def mmr_select_numpy(ids, rel, V, *, k: int, lamb: float = 0.5):
    """The deterministic MMR greedy (Carbonell & Goldstein 1998), shared
    verbatim by ``mmr_rerank``'s Arrow kernel and the oracle generator:
    repeatedly pick argmax λ·rel(d) − (1−λ)·max_sim(d, selected), ties by
    ascending id.  ``rel`` must be PRE-ROUNDED scores and ``V`` integer
    (or otherwise engine-exact) vectors — pairwise cosines are rounded to
    6 dp inside, so identical inputs give identical selections on any
    host.  Returns (selected_ids, objectives) in pick order."""
    import numpy as np

    ids = np.asarray(ids, dtype=np.int64)
    rel = np.asarray(rel, dtype=np.float64)
    V = np.asarray(V, dtype=np.float64)
    n = len(ids)
    nrm = np.sqrt((V * V).sum(axis=1))
    nrm[nrm == 0] = 1.0
    U = V / nrm[:, None]
    S = np.round(U @ U.T, 6)
    chosen: list[int] = []
    objs: list[float] = []
    picked = np.zeros(n, dtype=bool)
    for _ in range(min(k, n)):
        if chosen:
            max_sim = S[:, chosen].max(axis=1)
        else:
            max_sim = np.zeros(n)
        obj = lamb * rel - (1.0 - lamb) * max_sim
        obj[picked] = -np.inf
        # argmax with ascending-id tie-break: order candidates by
        # (-obj, id) and take the head
        best = int(np.lexsort((ids, -obj))[0])
        picked[best] = True
        chosen.append(best)
        objs.append(round(float(obj[best]), 6))
    return [int(ids[i]) for i in chosen], objs


def mmr_rerank(
    candidates: DataFrame,
    *,
    k: int = 10,
    lamb: float = 0.5,
    qid_col: str = "qid",
    id_col: str = "doc_id",
    rel_col: str = "rel",
    vec_col: str = "vec",
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking of an over-fetched candidate
    list: trade relevance against redundancy so the final k cover the
    query's facets instead of repeating the top hit — the standard
    diversity stage in RAG retrieval (and the re-rank half of hybrid
    search).  Input: per-query candidates with a relevance score (higher
    better, pre-rounded) and a vector for pairwise similarity.  Output
    (qid, doc_id, objective, rank) in pick order.

    Scale: the greedy is O(n²·k) per QUERY over an already k-bounded
    candidate list (n ≤ a few dozen) — executed as one applyInPandas
    group per query; the corpus is never touched."""
    import pandas as pd

    out_schema = "qid bigint, doc_id bigint, objective double, rank bigint"

    def _one(pdf: "pd.DataFrame") -> "pd.DataFrame":
        if len(pdf) == 0:
            return pd.DataFrame(
                {"qid": [], "doc_id": [], "objective": [], "rank": []})
        pdf = pdf.sort_values("_id", kind="mergesort")
        ids, objs = mmr_select_numpy(
            pdf["_id"].to_numpy(), pdf["_rel"].to_numpy(),
            list(pdf["_vec"]), k=k, lamb=lamb)
        return pd.DataFrame({
            "qid": [int(pdf["_qid"].iloc[0])] * len(ids),
            "doc_id": ids,
            "objective": objs,
            "rank": list(range(1, len(ids) + 1)),
        })

    prepped = candidates.select(
        F.col(qid_col).cast("bigint").alias("_qid"),
        F.col(id_col).cast("bigint").alias("_id"),
        F.col(rel_col).cast("double").alias("_rel"),
        F.col(vec_col).alias("_vec"),
    )
    return prepped.groupBy("_qid").applyInPandas(_one, schema=out_schema)
