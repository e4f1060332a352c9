"""Multi-vector kNN (mv-ann) — SURVEY.md §2.2 Q7.

Reference semantics (runner.py:167-197, datasets.py:412-451): each entity has
v vectors (e.g. 4 video keyframes, 4×512-d, README.md:220-227).  Ground truth
scores an entity by the **mean of per-position euclidean distances**
``mean_j ‖test[q,j] − train[i,j]‖`` (datasets.py:424-427).  The Milvus
execution path instead runs one ANN subquery per vector field and fuses with
``WeightedRanker(0.25,…)`` (milvus/module.py:422-458) — an approximation of
the same intent.  We provide both:

- ``mv_knn``          — the exact mean-distance form.  No explode: the score
  is a single Column expression (``zip_with`` the two ARRAY<ARRAY<FLOAT>>
  columns into per-position distances, then fold), so the q×n×v blowup never
  materializes as rows (SURVEY §7 hard part 5).
- ``mv_knn_fused``    — the WeightedRanker analog: per-position top-k
  subqueries, union, weighted-similarity fusion, final top-k.  At scale this
  is v small jobs over the same scan instead of one wide one.
- ``mv_indexed_fused`` — the 100× form of ``mv_knn_fused``: the
  reference's execution path runs one ANN subquery per vector
  field (milvus/module.py:422-458); here each position's candidates come
  from a per-position BQ index (packed 1-bit codes + hamming pre-rank +
  exact refine, ``operators/bq.py``) instead of a brute scan of every
  entity, and the SAME WeightedRanker fusion re-ranks the union.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from bigvectorbench_spark.functions import distance as dist_fns
from bigvectorbench_spark.operators.knn import topk_window


def mv_mean_dist(a, b, weights: Optional[Sequence[float]] = None):
    """Column: mean (or weighted mean) of per-position L2 distances between
    two ARRAY<ARRAY<FLOAT>> columns (datasets.py:424-427)."""
    per_pos = F.zip_with(a, b, lambda x, y: dist_fns.l2_dist(x, y))
    if weights is None:
        total = F.aggregate(per_pos, F.lit(0.0), lambda acc, x: acc + x)
        return total / F.size(per_pos).cast("double")
    w = F.lit(list(map(float, weights))).cast("array<double>")
    return F.aggregate(
        F.zip_with(per_pos, w, lambda d, wi: d * wi), F.lit(0.0), lambda acc, x: acc + x
    )


def mv_knn(
    train: DataFrame,
    queries: DataFrame,
    k: int = 10,
    *,
    vecs_col: str = "vecs",
    query_vecs_col: Optional[str] = None,
    id_col: str = "id",
    qid_col: str = "qid",
    weights: Optional[Sequence[float]] = None,
) -> DataFrame:
    """Exact multi-vector kNN by mean per-position euclidean distance."""
    qvecs = query_vecs_col or vecs_col
    t = train.select(F.col(id_col).cast("bigint").alias("id"), F.col(vecs_col).alias("_tv"))
    q = queries.select(F.col(qid_col).cast("bigint").alias("qid"), F.col(qvecs).alias("_qv"))
    scored = t.crossJoin(F.broadcast(q)).select(
        "qid", "id", mv_mean_dist(F.col("_tv"), F.col("_qv"), weights).alias("dist")
    )
    return topk_window(scored, k).select("qid", "id", "dist", "rank")


def mv_knn_fused(
    train: DataFrame,
    queries: DataFrame,
    k: int = 10,
    *,
    vecs_col: str = "vecs",
    query_vecs_col: Optional[str] = None,
    id_col: str = "id",
    qid_col: str = "qid",
    weights: Optional[Sequence[float]] = None,
    per_vector_k: Optional[int] = None,
    num_vectors: Optional[int] = None,
) -> DataFrame:
    """WeightedRanker-style fusion (milvus/module.py:422-458): per-position
    ANN top-``per_vector_k`` (default 2k over-fetch), union, fuse with
    score = Σ w_j · 1/(1+dist_j) (missing positions contribute 0), re-rank.

    Approximate by construction — an entity outside every per-position top
    list cannot surface — matching the reference's hybrid-search semantics.
    """
    qvecs = query_vecs_col or vecs_col
    if num_vectors is None:
        first = train.select(F.size(vecs_col).alias("v")).first()
        if first is None:
            raise ValueError("empty train table")
        num_vectors = first["v"]
    v = num_vectors
    w = list(map(float, weights)) if weights is not None else [1.0 / v] * v
    if len(w) != v:
        raise ValueError(f"{len(w)} weights for {v} vector positions")
    fetch = per_vector_k or 2 * k

    # Single-scan formulation: posexplode both sides to (row, position,
    # vector), join on position (queries broadcast), per-(qid, position)
    # top-``fetch`` window, then fuse.  Equivalent to v separate kNN
    # subqueries (same per-position candidates, same (dist, id) tie order)
    # but the train table is scanned — and, when it is itself an
    # aggregation, computed — ONCE instead of v times.
    tj = train.select(
        F.col(id_col).cast("bigint").alias("id"),
        F.posexplode(F.col(vecs_col)).alias("j", "vec"),
    )
    qj = queries.select(
        F.col(qid_col).cast("bigint").alias("qid"),
        F.posexplode(F.col(qvecs)).alias("j", "qvec"),
    )
    scored = tj.join(F.broadcast(qj), "j").select(
        "qid", "id", "j", dist_fns.l2_dist(F.col("vec"), F.col("qvec")).alias("dist")
    )
    win = Window.partitionBy("qid", "j").orderBy(F.col("dist").asc(), F.col("id").asc())
    top = scored.withColumn("rn", F.row_number().over(win)).filter(F.col("rn") <= fetch)
    w_arr = F.lit([float(x) for x in w]).cast("array<double>")
    per_pos = top.select(
        "qid", "id",
        (F.element_at(w_arr, F.col("j") + 1) / (F.lit(1.0) + F.col("dist"))).alias("score"),
    )
    fused = per_pos.groupBy("qid", "id").agg(F.sum("score").alias("score"))
    # higher fused score = better; reuse topk by ordering on -score
    ranked = topk_window(fused.withColumn("dist", -F.col("score")), k)
    return ranked.select("qid", "id", F.col("score"), "rank")


def mv_indexed_fused(
    train: DataFrame,
    queries: DataFrame,
    k: int = 10,
    *,
    vecs_col: str = "vecs",
    query_vecs_col: Optional[str] = None,
    id_col: str = "id",
    qid_col: str = "qid",
    weights: Optional[Sequence[float]] = None,
    per_vector_k: Optional[int] = None,
    num_vectors: Optional[int] = None,
    overfetch: int = 4,
    center: bool = True,
) -> DataFrame:
    """Indexed multi-vector fusion — the scale twin of :func:`mv_knn_fused`
    (the hybrid_rrf_scale / mmr_scale convention: every brute anchor gets
    its indexed 100× form plus a parity gate).  The reference executes
    multi-vector search as one ANN subquery per vector field fused by
    WeightedRanker (milvus/module.py:422-458, webvid 1M × 4×512-d
    README.md:220-227); here each position j gets its own
    :class:`~bigvectorbench_spark.operators.bq.BQIndex` — per-dimension
    thresholds fit on the position's vectors, packed 1-bit codes scanned
    with XOR+popcount (a 64× narrower read than the float column), top
    ``per_vector_k`` survivors exact-refined — and the per-position
    candidate lists fuse with the identical WeightedRanker formula
    score = Σ_j w_j / (1 + dist_j), missing positions contributing 0.

    100 TB design: the per-position candidate stage is one
    ``knn.topk_scan`` over the (qid, j) query axis; float vectors are
    touched for just the ~q · per_vector_k · overfetch refine rows per
    position.  The brute twin scores every (query, entity, position)
    triple — v full scans.

    Value-oracle determinism: refine distances are the engine-stable
    expression fold rounded to 4 dp before scoring; per-position
    contributions round to 9 dp and accumulate in DECIMAL (the rrf_fuse
    ladder), the fused score rounds to 6 dp BEFORE ranking with ties by
    ascending id — so an external recomputation of the candidate sets
    (id-sorted mean thresholds + (hamming, id) lexsort, the bq_knn
    convention) replays the whole pipeline exactly.

    Execution shape: the v legs share ONE plan — one id-sorted collect
    fits all v thresholds, one query collect is packed per position, one
    scan pre-ranks every position, and candidate selection, refine and
    ranking run per (qid, j) under single windows and joins.  Results are
    bit-identical to v separate BQ legs (pinned in test_multivector's
    numpy replay).  The train projection is persisted for its three passes
    (fit collect, kernel scan, refine join) — callers release it via
    ``spark.catalog.clearCache()`` (the bench/oracle convention)."""
    import numpy as np

    from bigvectorbench_spark.operators.bq import (
        MAX_FIT_SAMPLE_ROWS, hamming_bytes, pack_np)
    from bigvectorbench_spark.operators.knn import _collect_queries, arrow_rows, topk_scan

    qvecs = query_vecs_col or vecs_col
    if num_vectors is None:
        first = train.select(F.size(vecs_col).alias("v")).first()
        if first is None:
            raise ValueError("empty train table")
        num_vectors = first["v"]
    v = num_vectors
    w = list(map(float, weights)) if weights is not None else [1.0 / v] * v
    if len(w) != v:
        raise ValueError(f"{len(w)} weights for {v} vector positions")
    fetch = per_vector_k or 2 * k
    n_cand = fetch * overfetch
    spark = train.sparkSession

    t = train.select(F.col(id_col).cast("bigint").alias("id"),
                     F.col(vecs_col).alias("vecs")).persist()
    # --- per-position thresholds from ONE id-sorted collect (the
    # BQIndex.fit contract: float64 numpy mean over rows collected in id
    # order; ascontiguousarray keeps the reduction layout identical to
    # fitting each position's own (n, d) matrix) -------------------------
    frows = t.orderBy("id").select("vecs").limit(
        MAX_FIT_SAMPLE_ROWS if center else 1).collect()
    if not frows:
        raise ValueError("cannot fit BQIndex on an empty table")
    d = len(frows[0][0][0])
    if center:
        Xs = np.array([r[0] for r in frows], dtype=np.float64)  # (n, v, d)
        thrs = [np.ascontiguousarray(Xs[:, j, :]).mean(axis=0)
                for j in range(v)]
    else:
        thrs = [np.zeros(d, dtype=np.float64) for _ in range(v)]

    # --- the query block: ONE collect, packed per position --------------
    qids, Q = _collect_queries(queries, qid_col, qvecs)  # Q: (q, v, d)
    if len(qids) == 0:
        return spark.createDataFrame(
            [], "qid bigint, id bigint, score double, rank int")
    nq = len(qids)
    qpk = [pack_np(np.ascontiguousarray(Q[:, j, :]), list(thrs[j]))
           .view(np.uint8) for j in range(v)]

    def score(batch, st):
        b_qpk, b_thr = st
        X = arrow_rows(batch.column("vecs").flatten()).reshape(batch.num_rows, v, d)
        return np.hstack([
            hamming_bytes(pack_np(np.ascontiguousarray(X[:, j, :]), b_thr[j]), b_qpk[j])
            for j in range(v)])

    # query axis: column j·nq + i scores query i at position j
    cand = topk_scan(
        t, {"qid": np.tile(qids, v), "j": np.repeat(np.arange(v, dtype=np.int32), nq)},
        n_cand, score, state=(qpk, [list(th) for th in thrs]),
        dist="_ham", dist_dtype=np.int64).select("qid", "j", "id")

    # --- exact refine: one join over the per-position float vectors -----
    tpos = t.select("id", F.posexplode("vecs").alias("j", "_tvec"))
    qpos = queries.select(F.col(qid_col).cast("bigint").alias("qid"),
                          F.posexplode(F.col(qvecs)).alias("j", "_qvec"))
    refined = (F.broadcast(cand).join(tpos, ["id", "j"])
               .join(F.broadcast(qpos), ["qid", "j"])
               .select("qid", "j", "id",
                       dist_fns.metric_dist(
                           "euclidean", F.col("_tvec"), F.col("_qvec"))
                       .alias("dist")))
    rw = Window.partitionBy("qid", "j").orderBy(
        F.col("dist").asc(), F.col("id").asc())
    top = (refined.withColumn("rn", F.row_number().over(rw))
           .filter(F.col("rn") <= fetch))

    w_arr = F.lit([float(x) for x in w]).cast("array<double>")
    contrib = top.select(
        "qid", "id",
        F.round(F.element_at(w_arr, F.col("j") + 1)
                / (F.lit(1.0) + F.round(F.col("dist"), 4)), 9)
        .cast("decimal(28,10)").alias("_c"))
    fused = contrib.groupBy("qid", "id").agg(
        F.round(F.sum("_c").cast("double"), 6).alias("score"))
    ranked = topk_window(fused.withColumn("dist", -F.col("score")), k)
    return ranked.select("qid", "id", "score", "rank")
