"""Sparse-vector inner-product top-k over the document corpus.

The reference's Milvus backend declares SPARSE_FLOAT_VECTOR as a first-class
field type (milvus/module.py:142); Milvus serves it with the IP metric over
an inverted index.  This module is that capability Spark-first: documents
become sparse TF-IDF vectors (SMART ltn weighting — log-tf · idf, no
normalization, matching the IP-only contract of sparse fields), and top-k
by inner product runs as ONE term equi-join over an inverted index — the
only plan that survives 100 TB, because the scored row count is
O(postings matching the query vocabulary), never O(docs × queries).

Scale design:

- **Weights live on postings.**  ``(term, doc_id, tf)`` + a broadcast
  docfreq row per term turn into weights inside the scan projection; no
  per-document array is ever materialized or shuffled.
- **Query vectors are tiny and broadcast.**  Queries are documents drawn
  from the corpus; their postings (bounded: #queries × terms-per-doc rows)
  broadcast into the posting join, so the big side shuffles once, on the
  (qid, doc_id) aggregate.
- **Impact-ordered pruning is the latency knob** (``prune_postings``):
  per-term posting lists truncate to the top-``m`` documents by weight —
  the classic impact-sorted-index trick that caps the cost of stopword-like
  terms (idf already down-weights them; pruning stops paying their join
  cost too).  Recall against the exact join is gated in
  ``queries.sparse.q_sparse_prune_recall``.
- **Engine-stable scoring** (the bm25_topk convention): weights round to
  6 dp, per-term products to 9 dp, accumulation in DECIMAL (order- and
  partitioning-independent), final score rounds to 6 dp *before* ranking;
  ties break by ascending doc id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from bigvectorbench_spark.operators.retrieval import postings, stats_from_postings

# Per-term sparse weight: SMART "ltn" — (1 + ln tf) · ln(N/df), rounded to
# 6 dp so both engines rank identical values.  df ≥ 1 always (df counts
# docs that CONTAIN the term), so ln(N/df) is total; a term present in
# every document weighs 0 and drops out of the inner product naturally.
def _weight(tf, n, df):
    w = (F.lit(1.0) + F.log(tf.cast("double"))) * F.log(n / df)
    return F.round(w, 6)


def _bigrams(tk):
    """Adjacent word pairs WITH duplicates (tf matters here, unlike the
    distinct shingle sets in functions/text.py)."""
    n = F.size(tk) - 1
    idx = F.when(n > 0, F.sequence(F.lit(1), n)).otherwise(
        F.lit([]).cast("array<int>"))
    return F.transform(
        idx, lambda i: F.concat_ws(" ", F.element_at(tk, i), F.element_at(tk, i + 1)))


def lexical_postings(
    docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text",
    tk: DataFrame | None = None,
) -> DataFrame:
    """Postings over unigram + bigram features — the realistic lexical
    sparse-vector feature set: unigrams are the high-df head (where impact
    pruning bites and idf already discounts), bigrams the discriminative
    tail that carries the ranking signal.  Same (term, doc_id, dl, tf)
    schema as retrieval.postings, so it drops into ``sparse_postings``.

    ``tk``: a precomputed ``(doc_id, tk)`` tokenized frame (the
    retrieval.postings convention) — per-document local, so row-identical
    to tokenizing here; hybrid sparse+dense queries share one pass."""
    from bigvectorbench_spark.functions import text as tx

    if tk is None:
        tk = docs.select(
            F.col(id_col).alias("doc_id"), tx.tokens(F.col(text_col)).alias("tk"))
    feats = tk.select("doc_id", F.concat("tk", _bigrams(F.col("tk"))).alias("ft"))
    feats = feats.select("doc_id", "ft", F.size("ft").alias("dl"))
    return (
        feats.select("doc_id", "dl", F.explode("ft").alias("term"))
        .groupBy("term", "doc_id", "dl")
        .agg(F.count("*").alias("tf"))
    )


def sparse_postings(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    post: DataFrame | None = None,
) -> DataFrame:
    """Weighted inverted index ``(term, doc_id, w)`` over the whole corpus —
    the sparse-vector table in posting form (index build, M2 analog).

    ``post``: pass a precomputed/persisted postings frame to share the
    corpus tokenization with BM25 and evaluation consumers."""
    if post is None:
        post = postings(docs, id_col=id_col, text_col=text_col)
    dfr = post.groupBy("term").agg(F.count("*").alias("df"))
    stats = stats_from_postings(post)
    n = F.col("n_docs").cast("double")
    return (
        post.join(dfr, "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "term",
            "doc_id",
            _weight(F.col("tf"), n, F.col("df").cast("double")).alias("w"),
        )
    )


def stale_weight_postings(
    delta_docs: DataFrame,
    base_post: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    post: DataFrame | None = None,
) -> DataFrame:
    """Weighted postings for ARRIVING documents under the BASE corpus
    statistics — the incremental-maintenance move (the IVF analog assigns
    arrivals to existing centroids, similarity.py ivf_delta): tf comes
    from the new documents, but idf keeps the already-published n and df,
    so NO existing posting is touched and the delta is a map-side append.
    Terms unseen in the base corpus get the rarest-known idf (df = 1) —
    the optimistic convention for fresh vocabulary.

    The price is idf staleness (scores drift as true df moves under the
    frozen weights); ``sparse_delta_report`` meters exactly that drift so
    the rebuild can be scheduled on evidence, and the declared parity
    gate bounds the ranking impact.

    ``post``: a precomputed postings frame for the DELTA documents (the
    sparse_postings/bm25_topk convention) — postings are per-document
    local, so a filter of a shared corpus-wide postings frame is
    row-identical to tokenizing the filtered documents, and passing it
    shares one tokenize pass across base/delta/rebuild consumers."""
    dpost = post if post is not None else lexical_postings(
        delta_docs, id_col=id_col, text_col=text_col)
    dfr0 = base_post.groupBy("term").agg(F.count("*").alias("df0"))
    stats0 = stats_from_postings(base_post)
    n0 = F.col("n_docs").cast("double")
    return (
        dpost.join(dfr0, "term", "left")
        .crossJoin(F.broadcast(stats0))
        .select(
            "term",
            "doc_id",
            _weight(
                F.col("tf"), n0,
                F.coalesce(F.col("df0"), F.lit(1)).cast("double"),
            ).alias("w"),
        )
    )


def sparse_delta_report(
    base_post: DataFrame, delta_post: DataFrame
) -> DataFrame:
    """One-row idf-staleness meter after absorbing a delta batch with
    frozen base statistics: posting/vocab volumes plus the mean absolute
    idf drift |ln(n0/df0) − ln((n0+nΔ)/(df0+dfΔ))| over the base terms
    the delta touched — the quantity that says when the cheap stale-idf
    appends have drifted far enough to pay for a rebuild (the
    ivf_delta_report convention: drift metered, rebuild on evidence).
    Engine-stable: per-term drift rounds to 9 dp, accumulates in DECIMAL,
    and the mean rounds to 6 dp."""
    dfr0 = base_post.groupBy("term").agg(F.count("*").alias("df0"))
    dfrd = delta_post.groupBy("term").agg(F.count("*").alias("dfd"))
    s0 = stats_from_postings(base_post).select(
        F.col("n_docs").alias("n0"))
    sd = stats_from_postings(delta_post).select(
        F.col("n_docs").alias("nd"))
    touched = dfr0.join(dfrd, "term").crossJoin(F.broadcast(s0)).crossJoin(
        F.broadcast(sd))
    n0, df0 = F.col("n0").cast("double"), F.col("df0").cast("double")
    n1 = (F.col("n0") + F.col("nd")).cast("double")
    df1 = (F.col("df0") + F.col("dfd")).cast("double")
    drift = F.round(F.abs(F.log(n0 / df0) - F.log(n1 / df1)), 9).cast(
        "decimal(28,10)")
    agg = touched.agg(
        F.count("*").alias("terms_touched"),
        F.round(F.sum(drift).cast("double") / F.count("*"), 6)
        .alias("mean_idf_drift"),
    )
    counts = (
        dfr0.agg(F.count("*").alias("vocab_base"),
                 F.sum("df0").cast("bigint").alias("postings_base"))
        .crossJoin(dfrd.join(dfr0, "term", "left_anti")
                   .agg(F.count("*").alias("vocab_new")))
        .crossJoin(dfrd.agg(F.sum("dfd").cast("bigint")
                            .alias("postings_delta")))
        .crossJoin(F.broadcast(s0)).crossJoin(F.broadcast(sd))
    )
    return counts.crossJoin(agg).select(
        F.col("n0").cast("bigint").alias("n_base_docs"),
        F.col("nd").cast("bigint").alias("n_delta_docs"),
        "vocab_base", "vocab_new", "postings_base", "postings_delta",
        F.col("terms_touched").cast("bigint").alias("terms_touched"),
        "mean_idf_drift",
    )


# auto_m calibration (the hnsw.auto_ef twin): the
# measured operating rule from the 50k→500k Zipf decade is LINEAR —
# m ∝ corpus holds the postings cut fraction ≈14% and recall ≈constant
# (0.81 → 0.79 across the decade at ~10× under exact search cost), where
# a FIXED m decays 0.81 → 0.53.
# m/n_docs = 2000/50k = 20000/500k = 0.04 is the calibrated coefficient;
# the floor keeps tiny corpora (and the oracle sfs' 500-doc tables, where
# 0.04·n ≪ 64) at the declared-gate operating point.
_AUTO_M_FRAC = 0.04
_AUTO_M_MIN = 64


def auto_m(n_docs: int) -> int:
    """Per-term posting cap for a corpus of ``n_docs`` documents, holding
    the postings cut fraction (≈14% on a Zipf df spectrum) — and with it
    pruned-vs-exact recall — constant as the corpus grows."""
    return int(max(_AUTO_M_MIN, round(_AUTO_M_FRAC * n_docs)))


# The operating INVARIANT behind auto_m is the postings cut fraction (the
# Zipf decade held recall because 0.04·n held the cut at ≈14.2%:
# 0.1424 → 0.1422).  On a non-Zipf df spectrum the 0.04 coefficient
# silently lands a different cut — so the general rule computes m from
# the spectrum itself, holding the cut fraction;
# 0.04·n stays the Zipf-validated fast path (no extra job).
_AUTO_M_CUT = 0.1424

# df histogram resolution cap: exact df buckets up to this value, then a
# 1%-geometric grid — bounds the collected spectrum to ~4.8k rows no
# matter the corpus size (df ∈ [1, n_docs] would otherwise make the
# histogram O(n_docs) driver-side at 100 TB) at ≤1% error on the solved m,
# far inside the recall gate's slack.
_DF_HIST_EXACT_MAX = 4096


def df_spectrum(wpost: DataFrame) -> list[tuple[int, int]]:
    """The postings df spectrum as a bounded histogram: (df_bucket,
    n_terms) pairs, exact for df ≤ 4096 and 1%-geometric above — one
    small aggregate over the index, collected driver-side (≤ ~4.8k
    rows by construction)."""
    import math

    dfr = wpost.groupBy("term").agg(F.count("*").alias("df"))
    g = math.log(1.01)
    bucket = F.when(F.col("df") <= _DF_HIST_EXACT_MAX, F.col("df")).otherwise(
        F.round(F.exp(F.round(F.log(F.col("df").cast("double")) / g) * g))
        .cast("bigint"))
    rows = (dfr.select(bucket.alias("df"))
            .groupBy("df").agg(F.count("*").alias("n_terms"))
            .collect())
    return sorted((int(r["df"]), int(r["n_terms"])) for r in rows)


def auto_m_spectrum(wpost: DataFrame, *, cut_frac: float = _AUTO_M_CUT,
                    spectrum: list[tuple[int, int]] | None = None) -> int:
    """Resolve the per-term posting cap from the df spectrum, holding the
    postings CUT FRACTION itself (≈14.2%, the Zipf-decade operating point)
    instead of assuming the spectrum is Zipf: the smallest ``m`` whose
    per-term truncation removes at most ``cut_frac`` of all postings.
    cut(m) = Σ_t max(0, df_t − m) is monotone in m, so a driver-side
    binary search over the bounded histogram solves it exactly (to the
    histogram's ≤1% bucket error past df=4096).  Index-build-time and
    query-independent, like :func:`auto_m` — which remains the validated
    fast path on Zipf-shaped corpora (no spectrum job)."""
    hist = spectrum if spectrum is not None else df_spectrum(wpost)
    if not hist:
        return 1
    total = sum(df * cnt for df, cnt in hist)
    target = cut_frac * total

    def cut(m: int) -> int:
        return sum((df - m) * cnt for df, cnt in hist if df > m)

    lo, hi = 1, hist[-1][0]
    if cut(lo) <= target:
        return lo
    while lo < hi:
        mid = (lo + hi) // 2
        if cut(mid) <= target:
            hi = mid
        else:
            lo = mid + 1
    return lo


def prune_postings(wpost: DataFrame, m: int | str = "auto",
                   *, n_docs: int | None = None) -> DataFrame:
    """Impact-ordered truncation: keep each term's top-``m`` documents by
    weight (ties by ascending doc id).  Index-build-time and
    query-independent, so the pruned index serves any workload; recall loss
    is bounded by how much query-relevant mass sits past rank ``m`` — gated
    by the declared recall query.

    ``m="auto"`` (default) resolves via :func:`auto_m` — the rule that
    holds recall constant across corpus decades instead of letting a
    fixed cap decay (0.81 → 0.53 over one decade at m=2000).  Pass
    ``n_docs`` (the corpus row count — a metadata-only parquet count) to
    skip the fallback distinct-count job over the index; the 0.04
    coefficient carries enough slack that the all-docs vs
    docs-with-≥1-feature distinction never moves m materially.
    ``m="spectrum"`` resolves via :func:`auto_m_spectrum` — one extra
    bounded aggregate over the index that holds the cut fraction on ANY
    df spectrum, where the 0.04·n
    fast path assumes Zipf."""
    if m == "auto":
        m = auto_m(n_docs if n_docs is not None
                   else wpost.select("doc_id").distinct().count())
    elif m == "spectrum":
        m = auto_m_spectrum(wpost)
    w = Window.partitionBy("term").orderBy(F.col("w").desc(), F.col("doc_id"))
    return (
        wpost.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= m)
        .drop("__r")
    )


def filtered_sparse_topk(
    docs: DataFrame,
    queries: DataFrame,
    *,
    predicate: str,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    qid_col: str = "qid",
    wpost: DataFrame | None = None,
    qwpost: DataFrame | None = None,
) -> DataFrame:
    """Filtered sparse search — the sparse twin of the dense filtered kNN
    (Q4): Milvus serves SPARSE_FLOAT_VECTOR ANN under a scalar filter
    expression (milvus/module.py:142 + the search-expr path the dense
    operators mirror in operators/filter_knn.py); here ``predicate`` is a
    Catalyst SQL expression over the DOCUMENT table selecting the allowed
    candidates, and their ids semi-join the posting side BEFORE scoring —
    the prefilter plan: scored rows shrink with selectivity while weights
    keep WHOLE-corpus statistics, so ranks equal post-filtering the
    unfiltered exact search (prefilter ≡ postfilter when idf is
    corpus-global; pinned in test_sparse) at O(allowed postings) join
    cost.  Query-side vectors default to the FULL index (``qwpost``):
    query documents need not satisfy the predicate themselves.

    There is no post-filter plan to choose: a semi-join of the allowed
    ids on the aggregated (qid, doc_id, score) frame is sunk by Catalyst's
    PushDownLeftSemiAntiJoin below the score aggregate onto the posting
    side (doc_id is a grouping key), so both authorings converge to this
    plan; a 500k-doc sweep measured them equal at selectivities from 0.1%
    to 85%."""
    if wpost is None:
        wpost = sparse_postings(docs, id_col=id_col, text_col=text_col)
    if qwpost is None:
        qwpost = wpost
    allowed = docs.filter(predicate).select(F.col(id_col).alias("doc_id"))
    fpost = wpost.join(allowed, "doc_id", "left_semi")
    return sparse_topk(docs, queries, k=k, id_col=id_col, text_col=text_col,
                       qid_col=qid_col, wpost=fpost, qwpost=qwpost)


def sparse_topk(
    docs: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    qid_col: str = "qid",
    wpost: DataFrame | None = None,
    qwpost: DataFrame | None = None,
) -> DataFrame:
    """Exact sparse inner-product top-k: for each query document, the ``k``
    documents with the highest TF-IDF inner product.  Returns
    (qid, doc_id, score, rank).

    ``queries`` is a one-column frame of query doc ids (``qid_col``) drawn
    from the corpus — queries are sparse vectors themselves, so their
    weights come from the same index.  ``wpost``: pass a precomputed
    (possibly ``prune_postings``-truncated) weighted index; by default the
    full exact index is built in-plan.  ``qwpost``: where the QUERY
    vectors' weights come from (default: ``wpost``) — pass the full index
    here when ``wpost`` is pruned, since real queries arrive untruncated.

    Only postings whose term occurs in some query survive the broadcast
    semi-join, so a rare-vocabulary query set touches a sliver of the
    index.  df/idf still reflect the WHOLE corpus (weights are computed on
    the full index before the semi-join), so scores are identical to a
    dense evaluation of the same vectors.
    """
    if wpost is None:
        wpost = sparse_postings(docs, id_col=id_col, text_col=text_col)
    if qwpost is None:
        qwpost = wpost
    qids = queries.select(F.col(qid_col).alias("qid"))
    # Query-side sparse vectors: the query docs' own rows of the index.
    qw = qwpost.join(
        F.broadcast(qids), qwpost["doc_id"] == F.col("qid")
    ).select("qid", "term", F.col("w").alias("qwv"))
    # The broadcast term join IS the query-vocabulary filter: only postings
    # whose term occurs in some query survive it, row-identically to the
    # qvocab-distinct semi-join it replaces (r13) — one fewer aggregate and
    # one fewer broadcast build per search, at any scale.
    scored = wpost.join(F.broadcast(qw), "term").select(
        "qid",
        "doc_id",
        F.round(F.col("w") * F.col("qwv"), 9).cast("decimal(28,10)").alias("c"),
    )
    per_doc = scored.groupBy("qid", "doc_id").agg(
        F.round(F.sum("c"), 6).cast("double").alias("score")
    )
    w = Window.partitionBy("qid").orderBy(F.col("score").desc(), F.col("doc_id"))
    return (
        per_doc.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
    )
