"""Exact batch k-nearest-neighbor search (SURVEY.md §2.2 Q1/Q2/Q3/Q6).

Reference semantics: for each query vector return the k train ids with the
smallest metric distance (base/module.py:86-98, bruteforce/module.py:162-213,
batch form base/module.py:100-122).  Ties are broken by ascending id so the
result is deterministic (FIXTURES.md tie rule).

Two physical strategies behind one API:

``method="expr"`` — pure DataFrame: broadcast the query table, score with the
  Column kernels in ``functions/distance.py``, keep top-k with a
  ``row_number()`` window.  Fully Catalyst-visible (predicate pushdown, column
  pruning); the plan is a BroadcastNestedLoopJoin feeding a window.  This is
  the oracle-parity path.

``method="gemm"`` — the scale path, mirroring the reference's BLAS batching
  (bruteforce/module.py:173-188) in Spark terms: queries are collected to the
  driver (they are ≤10k rows by design — reference README.md:188-241) and
  shipped to every partition; an Arrow-batched ``mapInArrow`` kernel does one
  numpy GEMM per batch and emits only each batch's local top-k per query.
  A final window merges the ≤ k·num_batches candidates per query.  Shuffle
  volume is O(q·k·batches) instead of O(q·n): that is the difference between
  a 100 TB scan working and not working.  The partial-distance algebra
  (euclidean ranked by ‖t‖²−2t·q with ‖t‖² precomputable; angular as dot of
  unit vectors — bruteforce/module.py:128-150) lives inside the kernel.

Output schema (both paths): (qid BIGINT, id BIGINT, dist DOUBLE, rank INT),
rank 1..k ordered by (dist, id).
"""

from __future__ import annotations

from typing import Iterator, Optional

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from bigvectorbench_spark.functions import distance as dist_fns

_OUT_SCHEMA = "qid bigint, id bigint, dist double, rank int"

# Guardrail mirroring the reference's workload envelope (queries are always
# ≤10k rows, README.md:188-241): the GEMM path broadcasts queries by value.
MAX_BROADCAST_QUERIES = 100_000


def topk_window(scored: DataFrame, k: int, qid: str = "qid", dist: str = "dist", id_col: str = "id") -> DataFrame:
    """Per-query top-k: the A1 window (SURVEY §2.6), deterministic on ties."""
    w = Window.partitionBy(qid).orderBy(F.col(dist).asc(), F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def knn(
    train: DataFrame,
    queries: DataFrame,
    k: int = 10,
    metric: str = "euclidean",
    *,
    vec_col: str = "vec",
    query_vec_col: Optional[str] = None,
    id_col: str = "id",
    qid_col: str = "qid",
    method: str = "auto",
    pre_filter: Optional[Column | str] = None,
) -> DataFrame:
    """Batch exact kNN of ``queries`` against ``train``.

    ``pre_filter`` (SQL string or Column over train columns) restricts the
    searchable rows *before* scoring — Catalyst pushes it into the Parquet
    scan, which is the filter-ann fast path (SURVEY §2.2 Q4).
    """
    qvec = query_vec_col or vec_col
    if metric != "jaccard":  # jaccard items are sets: variable length is legal
        _check_dims(train, queries, vec_col, qvec)
    if pre_filter is not None:
        train = train.filter(F.expr(pre_filter) if isinstance(pre_filter, str) else pre_filter)
    if method == "auto":
        method = "gemm" if metric in ("euclidean", "angular") else (
            "sparse" if metric == "jaccard" else "expr")
    if method == "sparse":
        if metric != "jaccard":
            raise ValueError("method='sparse' applies to metric='jaccard' only")
        return _knn_jaccard_sparse(train, queries, k, vec_col, qvec, id_col, qid_col)
    if method == "expr":
        return _knn_expr(train, queries, k, metric, vec_col, qvec, id_col, qid_col)
    if method == "gemm":
        return _knn_gemm(train, queries, k, metric, vec_col, qvec, id_col, qid_col)
    raise ValueError(f"unknown method {method!r}")


def _check_dims(train, queries, vec_col, qvec) -> None:
    """Fail fast on mismatched vector lengths: ``zip_with`` zips to the
    SHORTER array, so a 64-d train scored against 32-d queries would
    silently return wrong distances instead of erroring."""
    t = train.select(F.size(vec_col).alias("d")).first()
    q = queries.select(F.size(qvec).alias("d")).first()
    if t is not None and q is not None and t["d"] != q["d"]:
        raise ValueError(
            f"vector dimension mismatch: train {vec_col} has d={t['d']}, "
            f"queries have d={q['d']}"
        )


def pair_dist_below_join(metric, t: DataFrame, q: DataFrame, tvec: str, qvec: str):
    """(t', q', dist Column) for a per-pair distance above a t×q join.

    SURVEY §4 partial-distance algebra: for angular, ‖row‖ is
    query-independent, so fold it once per side BELOW the join (projections
    on join children are not collapsed into the per-pair projection) — the
    per-pair expression keeps only the dot fold.  1 − dot/(tn·qn) is the
    same arithmetic as ``angular_dist``, so distance values stay
    bit-identical to the inline form.  Other metrics have no
    query-independent fold that preserves bit-identity (the euclidean
    norm-expansion changes rounding — that is the GEMM path's documented
    1e-8 difference) and pass through unchanged."""
    if metric == "angular":
        t = t.withColumn("__tnorm", dist_fns.norm_l2(F.col(tvec)))
        q = q.withColumn("__qnorm", dist_fns.norm_l2(F.col(qvec)))
        dist = F.lit(1.0) - dist_fns.dot(F.col(tvec), F.col(qvec)) / (
            F.col("__tnorm") * F.col("__qnorm"))
        return t, q, dist
    return t, q, dist_fns.metric_dist(metric, F.col(tvec), F.col(qvec))


def _knn_expr(train, queries, k, metric, vec_col, qvec, id_col, qid_col) -> DataFrame:
    t = train.select(F.col(id_col).cast("bigint").alias("id"), F.col(vec_col).alias("_tvec"))
    q = queries.select(F.col(qid_col).cast("bigint").alias("qid"), F.col(qvec).alias("_qvec"))
    t, q, dist = pair_dist_below_join(metric, t, q, "_tvec", "_qvec")
    scored = t.crossJoin(F.broadcast(q)).select("qid", "id", dist.alias("dist"))
    scored = scored.filter(dist_fns.metric_valid(metric, F.col("dist")))
    return topk_window(scored, k).select("qid", "id", "dist", "rank")


def _knn_jaccard_sparse(train, queries, k, vec_col, qvec, id_col, qid_col) -> DataFrame:
    """Jaccard kNN as a sparse inverted-index join — the scale path.

    |a∩b| is a sparse dot product: explode the (small, broadcast) query sets
    into (qid, token) rows, hash-join the exploded train side on token, and
    count matches per (qid, id).  |a∪b| = |a|+|b|−|a∩b| from the set sizes.
    Pairs sharing no token never appear — exactly the pairs the reference's
    validity rule drops anyway (distance.py:38), so the semantics are those
    of the expr path after its validity filter, while the cost is
    O(matching token pairs), not O(|train|·|queries|) full set comparisons
    (~5× faster at sf0.1; the gap widens with corpus size since non-matching
    pairs are never materialized).  Dist = 1 − i/(|a|+|b|−i) is one exact
    integer division either way, so values hash-match the expr/oracle form.
    """
    t = train.select(F.col(id_col).cast("bigint").alias("id"),
                     F.array_distinct(F.col(vec_col)).alias("_set"))
    q = queries.select(F.col(qid_col).cast("bigint").alias("qid"),
                       F.array_distinct(F.col(qvec)).alias("_set"))
    tex = t.select("id", F.size("_set").alias("tn"), F.explode("_set").alias("tok"))
    qex = q.select("qid", F.size("_set").alias("qn"), F.explode("_set").alias("tok"))
    inter = (
        tex.join(F.broadcast(qex), "tok")
        .groupBy("qid", "id", "qn", "tn")
        .agg(F.count("*").alias("i"))
    )
    scored = inter.select(
        "qid", "id",
        (F.lit(1.0) - F.col("i") / (F.col("qn") + F.col("tn") - F.col("i")).cast("double")
         ).alias("dist"),
    ).filter(dist_fns.jaccard_valid(F.col("dist")))
    return topk_window(scored, k).select("qid", "id", "dist", "rank")


def _collect_queries(queries: DataFrame, qid_col: str, qvec: str) -> tuple[np.ndarray, np.ndarray]:
    rows = queries.select(F.col(qid_col).cast("bigint"), qvec).collect()
    if len(rows) > MAX_BROADCAST_QUERIES:
        raise ValueError(
            f"{len(rows)} queries exceed the broadcast envelope "
            f"({MAX_BROADCAST_QUERIES}); split the query set or use method='expr'"
        )
    qids = np.array([r[0] for r in rows], dtype=np.int64)
    if not rows:
        return qids, np.zeros((0, 0), dtype=np.float64)
    qmat = np.array([r[1] for r in rows], dtype=np.float64)
    return qids, qmat


def _knn_gemm(train, queries, k, metric, vec_col, qvec, id_col, qid_col) -> DataFrame:
    if metric not in ("euclidean", "angular", "hamming"):
        # jaccard is set-typed; GEMM does not apply (expr path handles it).
        return _knn_expr(train, queries, k, metric, vec_col, qvec, id_col, qid_col)

    qids, qmat = _collect_queries(queries, qid_col, qvec)
    spark = train.sparkSession
    if len(qids) == 0:
        return spark.createDataFrame([], _OUT_SCHEMA)
    bc = spark.sparkContext.broadcast((qids, qmat))

    import pyarrow as pa

    def score_partition(batches: "Iterator[pa.RecordBatch]") -> "Iterator[pa.RecordBatch]":
        b_qids, b_qmat = bc.value
        nq = len(b_qids)
        if metric == "angular":
            qn = np.linalg.norm(b_qmat, axis=1, keepdims=True)
            qn[qn == 0] = 1.0
            b_qunit = b_qmat / qn
        for batch in batches:
            if batch.num_rows == 0:
                continue
            ids = batch.column("id").to_numpy()
            # Arrow list arrays hold ONE contiguous values buffer: flatten()
            # + reshape turns the whole batch into a matrix with no per-row
            # Python object conversion — the reason this is mapInArrow, not
            # mapInPandas (~3x less transfer overhead at wide dims).
            lv = batch.column("vec")
            X = (
                lv.flatten().to_numpy(zero_copy_only=False)
                .astype(np.float64, copy=False)
                .reshape(len(ids), -1)
            )
            if metric == "euclidean":
                # ‖t−q‖² = ‖t‖² − 2 t·q + ‖q‖²  (bruteforce/module.py:128-137)
                d2 = (
                    (X * X).sum(axis=1)[:, None]
                    - 2.0 * (X @ b_qmat.T)
                    + (b_qmat * b_qmat).sum(axis=1)[None, :]
                )
                D = np.sqrt(np.maximum(d2, 0.0))
            elif metric == "angular":
                xn = np.linalg.norm(X, axis=1, keepdims=True)
                xn[xn == 0] = 1.0
                D = 1.0 - (X / xn) @ b_qunit.T
            else:  # hamming: mean of elementwise mismatch, floats ∈ {0,1}
                D = (
                    (X[:, None, :] != b_qmat[None, :, :]).mean(axis=2)
                    if X.shape[0] * nq * X.shape[1] < 50_000_000
                    else _hamming_blocked(X, b_qmat)
                )
            kk = min(k, len(ids))
            # per-batch partial top-k (argpartition: bruteforce/module.py:201)
            part = np.argpartition(D, kk - 1, axis=0)[:kk, :]
            out_qid = np.repeat(b_qids, kk)
            cols = part.T  # (nq, kk) train row indices per query
            out_id = ids[cols].ravel()
            out_d = np.take_along_axis(D, part, axis=0).T.ravel()
            yield pa.RecordBatch.from_pydict(
                {
                    "qid": pa.array(out_qid, pa.int64()),
                    "id": pa.array(out_id, pa.int64()),
                    "dist": pa.array(out_d, pa.float64()),
                    "rank": pa.array(np.zeros(len(out_id), dtype=np.int32), pa.int32()),
                }
            )

    t = train.select(F.col(id_col).cast("bigint").alias("id"), F.col(vec_col).alias("vec"))
    partial = t.mapInArrow(score_partition, schema=_OUT_SCHEMA)
    # Final merge: candidates per query are ≤ k·num_batches — tiny.
    return topk_window(partial.drop("rank"), k).select("qid", "id", "dist", "rank")


def _hamming_blocked(X: np.ndarray, Q: np.ndarray, block: int = 2048) -> np.ndarray:
    out = np.empty((X.shape[0], Q.shape[0]), dtype=np.float64)
    for i in range(0, X.shape[0], block):
        out[i : i + block] = (X[i : i + block, None, :] != Q[None, :, :]).mean(axis=2)
    return out


def knn_hamming_packed(
    train: DataFrame,
    queries: DataFrame,
    k: int = 10,
    *,
    bits_col: str = "vec",
    d: Optional[int] = None,
    id_col: str = "id",
    qid_col: str = "qid",
    packed: bool = False,
) -> DataFrame:
    """Hamming kNN over bit-packed vectors (SURVEY §7 hard part 2).

    With ``packed=False`` the boolean arrays are packed on the fly (same
    results as ``knn(metric='hamming')``, testably); the intended use at
    scale is ``packed=True`` over a table whose ARRAY<BIGINT> words were
    materialized once at index-build time via ``pack_bits`` — the scan then
    reads 1/64th the values and scoring is one popcount per word."""
    if d is None:
        probe = (train if packed else train.limit(1)).select(
            F.size(bits_col).alias("n")
        ).first()
        if probe is None:
            raise ValueError("empty train table")
        if packed:
            raise ValueError("d (true bit length) is required when packed=True")
        d = probe["n"]

    def prep(df, key, out):
        keyed = df.select(F.col(key).cast("bigint").alias(out), F.col(bits_col).alias("_b"))
        if packed:
            return keyed.withColumnRenamed("_b", "_p")
        return keyed.select(out, dist_fns.pack_bits(F.col("_b")).alias("_p"))

    t = prep(train, id_col, "id")
    q = prep(queries, qid_col, "qid")
    scored = t.crossJoin(F.broadcast(q.select("qid", F.col("_p").alias("_qp")))).select(
        "qid", "id",
        dist_fns.hamming_packed_dist(F.col("_p"), F.col("_qp"), d).alias("dist"),
    )
    return topk_window(scored, k).select("qid", "id", "dist", "rank")


def assert_unique_candidates(result: DataFrame) -> None:
    """Reference uniqueness assertion (runner.py:100-103): per-query result
    ids must be duplicate-free.  Raises AssertionError otherwise."""
    bad = (
        result.groupBy("qid")
        .agg((F.count("id") - F.countDistinct("id")).alias("dups"))
        .filter(F.col("dups") > 0)
        .count()
    )
    assert bad == 0, f"{bad} queries returned duplicate candidates"
