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

The kernel is ``topk_scan``, shared by every Arrow scan-path operator (IVF,
PQ, IVF-PQ, BQ, multi-vector); each supplies only its per-batch scoring.
Its per-batch selection keeps the k smallest rows by (dist, id), so the
kernels break ties by ascending id exactly as the final window does.

Output schema (both paths): (qid BIGINT, id BIGINT, dist DOUBLE, rank INT),
rank 1..k ordered by (dist, id).
"""

from __future__ import annotations

from typing import Optional

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from bigvectorbench_spark.functions import distance as dist_fns

_OUT_SCHEMA = "qid bigint, id bigint, dist double, rank int"

# Guardrail mirroring the reference's workload envelope (queries are always
# ≤10k rows, README.md:188-241): the GEMM path broadcasts queries by value.
MAX_BROADCAST_QUERIES = 100_000

# The IVF cell column (similarity.IVFIndex.assign): ``topk_scan`` masks by it.
CLUSTER_COL = "cluster_id"


def topk_window(scored: DataFrame, k: int, qid: str | list[str] = "qid", dist: str = "dist",
                id_col: str = "id") -> DataFrame:
    """Per-query top-k: the A1 window (SURVEY §2.6), deterministic on ties.
    ``qid`` may name several key columns (one window per key tuple)."""
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


def _query_rows(queries: DataFrame, qid_col: str, qvec, *extra) -> list:
    """Collect ``(qid, qvec, *extra)`` query rows to the driver, refusing a
    block past the broadcast envelope."""
    rows = queries.select(F.col(qid_col).cast("bigint"), qvec, *extra).collect()
    _check_envelope(len(rows))
    return rows


def _check_envelope(n: int) -> None:
    if n > MAX_BROADCAST_QUERIES:
        raise ValueError(
            f"{n} queries exceed the broadcast envelope "
            f"({MAX_BROADCAST_QUERIES}); split the query set or use the expression path"
        )


def _collect_queries(queries: DataFrame, qid_col: str, qvec: str) -> tuple[np.ndarray, np.ndarray]:
    rows = _query_rows(queries, qid_col, qvec)
    qids = np.array([r[0] for r in rows], dtype=np.int64)
    if not rows:
        return qids, np.zeros((0, 0), dtype=np.float64)
    return qids, np.array([r[1] for r in rows], dtype=np.float64)


def unit_rows(X: np.ndarray) -> np.ndarray:
    """Rows scaled to unit L2 norm; all-zero rows stay zero."""
    n = np.linalg.norm(X, axis=1, keepdims=True)
    n[n == 0] = 1.0
    return X / n


def arrow_rows(column, dtype=np.float64) -> np.ndarray:
    """An Arrow list column as an (n_rows × width) matrix.  List arrays hold
    ONE contiguous values buffer: flatten() + reshape converts the whole
    batch with no per-row Python object — the reason the kernels are
    mapInArrow, not mapInPandas (~3x less transfer overhead at wide dims)."""
    return (column.flatten().to_numpy(zero_copy_only=False)
            .astype(dtype, copy=False).reshape(len(column), -1))


def partial_topk(D: np.ndarray, ids: np.ndarray, k: int) -> np.ndarray:
    """Row indices (kk × n_cols) of each column's kk = min(k, n) smallest
    rows of ``D`` by (D, id) — the global tie rule, so a per-batch
    selection never drops a row the final window would rank.  One
    argpartition at k-1 and k; only the columns whose k-th and (k+1)-th
    values tie are re-picked by a (D, id) lexsort of their rows at or below
    the k-th value.  A tie at +inf (fewer than k unmasked rows) needs no
    re-pick: those rows are dropped by the caller."""
    n = len(ids)
    if k >= n:
        return np.broadcast_to(np.arange(n)[:, None], D.shape)
    part = np.argpartition(D, [k - 1, k], axis=0)
    kth, nxt = np.take_along_axis(D, part[k - 1:k + 1], axis=0)
    part = part[:k]
    for c in np.flatnonzero((kth == nxt) & np.isfinite(kth)):
        rows = np.flatnonzero(D[:, c] <= kth[c])
        part[:, c] = rows[np.lexsort((ids[rows], D[rows, c]))[:k]]
    return part


def topk_scan(frame: DataFrame, keys: dict, k: int, score, *, state=None,
              member: Optional[np.ndarray] = None, dist: str = "dist",
              dist_dtype=np.float64) -> DataFrame:
    """The Arrow top-k kernel every scan-path operator shares.

    ``frame`` is the projected train side: an ``id`` column, the columns
    ``score`` reads and, with ``member``, ``cluster_id``.  ``keys`` names
    the query axis: equal-length arrays, one per output key column
    (``qid``; multi-vector search uses ``qid`` and ``j``).  The keys,
    ``state`` and ``member`` are broadcast once.  ``score(batch, state)``
    returns the (n_rows × n_query_cols) distance matrix of one non-empty
    Arrow batch.  ``member`` is an (nlist × n_query_cols) bool matrix: a
    row scores only for the query columns whose probe list holds its cell.

    Each batch emits only its per-column partial top-k (``partial_topk``),
    so the shuffle carries O(q·k·batches) rows instead of O(q·n); a final
    window ranks them.  Returns ``(keys…, id, dist, rank)`` with rank 1..k
    ordered by (dist, id) per key."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import from_arrow_schema

    names = list(keys)
    cols = [np.asarray(a) for a in keys.values()]
    schema = pa.schema([(n, pa.from_numpy_dtype(c.dtype)) for n, c in zip(names, cols)]
                       + [("id", pa.int64()), (dist, pa.from_numpy_dtype(np.dtype(dist_dtype)))])
    bc = frame.sparkSession.sparkContext.broadcast((cols, state, member))

    def scan(batches):
        b_cols, b_state, b_member = bc.value
        for batch in batches:
            if batch.num_rows == 0:
                continue
            ids = batch.column("id").to_numpy()
            D = score(batch, b_state)
            if b_member is not None:
                D = np.where(b_member[batch.column(CLUSTER_COL).to_numpy()], D, np.inf)
            part = partial_topk(D, ids, k)
            out_d = np.take_along_axis(D, part, axis=0).T.ravel()
            keep = np.isfinite(out_d) if b_member is not None else slice(None)
            yield pa.RecordBatch.from_arrays(
                [*(np.repeat(c, len(part))[keep] for c in b_cols),
                 ids[part.T].ravel()[keep], out_d[keep]],
                schema=schema)

    partial = frame.mapInArrow(scan, schema=from_arrow_schema(schema))
    return topk_window(partial, k, qid=names, dist=dist).select(*names, "id", dist, "rank")


def gemm_scan(frame: DataFrame, qids: np.ndarray, qmat: np.ndarray, k: int,
              metric: str, member: Optional[np.ndarray] = None) -> DataFrame:
    """``topk_scan`` scored by one GEMM per batch of ``frame.vec``."""
    if metric == "euclidean":
        state = qmat, (qmat * qmat).sum(axis=1)[None, :]
    else:
        state = unit_rows(qmat) if metric == "angular" else qmat

    def score(batch, st):
        X = arrow_rows(batch.column("vec"))
        if metric == "euclidean":
            # ‖t−q‖² = ‖t‖² − 2 t·q + ‖q‖²  (bruteforce/module.py:128-137)
            Q, q2 = st
            return np.sqrt(np.maximum((X * X).sum(axis=1)[:, None] - 2.0 * (X @ Q.T) + q2, 0.0))
        if metric == "angular":
            return 1.0 - unit_rows(X) @ st.T
        # hamming: mean of elementwise mismatch, floats ∈ {0,1}, in row
        # blocks that bound the (rows × queries × d) comparison tensor
        return np.concatenate([(X[i:i + 2048, None, :] != st[None, :, :]).mean(axis=2)
                               for i in range(0, len(X), 2048)])

    return topk_scan(frame, {"qid": qids}, k, score, state=state, member=member)


def _knn_gemm(train, queries, k, metric, vec_col, qvec, id_col, qid_col) -> DataFrame:
    if metric not in ("euclidean", "angular", "hamming"):
        # jaccard is set-typed; GEMM does not apply (expr path handles it).
        return _knn_expr(train, queries, k, metric, vec_col, qvec, id_col, qid_col)
    qids, qmat = _collect_queries(queries, qid_col, qvec)
    if len(qids) == 0:
        return train.sparkSession.createDataFrame([], _OUT_SCHEMA)
    t = train.select(F.col(id_col).cast("bigint").alias("id"), F.col(vec_col).alias("vec"))
    return gemm_scan(t, qids, qmat, k, metric)


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
