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

When the train frame is a bare local parquet relation (a parquet file
relation without partition columns under at most one projection of
columns or renames; ``parquet_fragments`` decides from the optimized
plan), ``topk_scan`` fuses the scan into the kernel: the Python worker
reads the files' row groups with pyarrow and scores them in the same
task, so the vectors are never decoded by the JVM nor sent over Arrow
IPC, and only each batch's partial top-k crosses back.  Any other frame
(a filter, cast, computed column, union, join, partitioned or
non-``file:`` table, such as IVF's cluster-pruned scan) runs the kernel
over Spark's own scan.  The results are the same either way.

``topk_scan`` runs on ``arrow_map``, the package's one Arrow batch idiom:
broadcast the state once, call a per-batch function on each non-empty
batch, pass chosen input columns through and declare the new columns as
Arrow types.  The index builds (IVF assign, PQ/BQ encode, OPQ rotate),
the Bloom probe and the dedup signature kernels use it too, with
``arrow_rows`` and ``list_parts`` to read list columns as numpy.

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
    if method == "auto":
        method = "gemm" if metric in ("euclidean", "angular") else (
            "sparse" if metric == "jaccard" else "expr")
    if method == "gemm" and metric not in ("euclidean", "angular", "hamming"):
        method = "expr"  # jaccard is set-typed; GEMM does not apply
    # jaccard items are sets: variable length is legal.  The GEMM path
    # checks the train width against the query matrix it collects anyway.
    t_dim = None if metric == "jaccard" else _first_dim(train, vec_col)
    if method == "expr" and t_dim is not None:
        _check_dims(t_dim, _first_dim(queries, qvec), vec_col)
    if pre_filter is not None:
        train = train.filter(F.expr(pre_filter) if isinstance(pre_filter, str) else pre_filter)
    if method == "sparse":
        if metric != "jaccard":
            raise ValueError("method='sparse' applies to metric='jaccard' only")
        return _knn_jaccard_sparse(train, queries, k, vec_col, qvec, id_col, qid_col)
    if method == "expr":
        return _knn_expr(train, queries, k, metric, vec_col, qvec, id_col, qid_col)
    if method == "gemm":
        return _knn_gemm(train, queries, k, metric, vec_col, qvec, id_col, qid_col, t_dim)
    raise ValueError(f"unknown method {method!r}")


def _first_dim(frame: DataFrame, col: str) -> Optional[int]:
    """Element count of ``col``'s first row.  A bare parquet frame
    (``parquet_fragments``) is read with pyarrow up to its first non-null
    row, as ``sources.tables.table_dim`` does, with no Spark job."""
    src = parquet_fragments(frame.select(col))
    if src is None:
        row = frame.select(F.size(col)).first()
        return None if row is None else row[0]
    import pyarrow.parquet as pq

    [(_, name)], frags = src
    for path, group, _ in frags:
        with pq.ParquetFile(path) as f:
            for batch in f.iter_batches(batch_size=64, row_groups=[group], columns=[name]):
                for v in batch.column(0):
                    if v.is_valid:
                        return len(v)
    return None


def _check_dims(t_dim: Optional[int], q_dim: Optional[int], vec_col: str) -> None:
    """Fail fast on mismatched vector lengths: ``zip_with`` zips to the
    SHORTER array, so a 64-d train scored against 32-d queries would
    silently return wrong distances instead of erroring."""
    if t_dim is not None and q_dim is not None and t_dim != q_dim:
        raise ValueError(
            f"vector dimension mismatch: train {vec_col} has d={t_dim}, "
            f"queries have d={q_dim}"
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


def partial_topk(D: np.ndarray, ids: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray]:
    """Flat ``(rows, cols)`` indices into ``D`` of each column's k
    smallest entries by (D, id), grouped by column — the global tie rule,
    so a per-batch selection never drops a row the final window would
    rank.  NaN and +inf entries (masked rows) are never returned, so a
    column with fewer than k others returns all it has.

    The candidates are bounded first: ``tau`` is a column's k-th smallest
    row-block minimum, and k blocks each hold an entry ≤ ``tau``, so every
    entry the (D, id) rule can rank in the top k, ties at the k-th value
    included, is ≤ ``tau``.  One lexsort of the candidates by (column, D,
    id) then keeps the first k of each column."""
    n = len(ids)
    if k < n:
        # n // B > k whole blocks, so the k-th block minimum exists
        # without the tail rows
        B = max(1, n // (8 * k))
        mins = D[:n - n % B].reshape(n // B, B, -1).min(axis=1)
        tau = np.partition(mins, k - 1, axis=0)[k - 1]
        if D.dtype.kind == "f":
            # fewer than k blocks with a finite minimum leave tau +inf or
            # NaN: then every finite entry is a candidate
            tau = np.fmin(tau, np.finfo(D.dtype).max)
        flat = np.flatnonzero(D <= tau)
    else:
        flat = np.flatnonzero(D < np.inf)
    rows, cols = np.divmod(flat, D.shape[1])
    order = np.lexsort((ids[rows], D[rows, cols], cols))
    rows, cols = rows[order], cols[order]
    keep = np.arange(len(cols)) - np.searchsorted(cols, cols) < k
    return rows[keep], cols[keep]


def list_parts(column, dtype=np.int64) -> tuple[np.ndarray, np.ndarray]:
    """``(flat, offsets)`` of an Arrow list column: row i's elements are
    ``flat[offsets[i]:offsets[i + 1]]``.  ``flatten()`` respects a sliced
    array's offset and skips the values behind null lists, so a null list
    reads as an empty one."""
    import pyarrow.compute as pc

    lens = pc.fill_null(pc.list_value_length(column), 0).to_numpy()
    offsets = np.zeros(len(column) + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    flat = column.flatten().to_numpy(zero_copy_only=False).astype(dtype, copy=False)
    return flat, offsets


def _arrow_array(values, arrow_type):
    """``values`` as an Arrow array of ``arrow_type``; a 2-D ndarray becomes
    a list column of its rows (one contiguous values buffer, no per-row
    Python object)."""
    import pyarrow as pa

    if isinstance(values, np.ndarray) and values.ndim == 2:
        n, width = values.shape
        offsets = pa.array(np.arange(n + 1, dtype=np.int32) * width)
        return pa.ListArray.from_arrays(
            offsets, pa.array(values.ravel(), arrow_type.value_type))
    return pa.array(values, arrow_type)


def arrow_map(frame: DataFrame, fn, out, *, state=None, keep=(), read=None) -> DataFrame:
    """The one Arrow batch kernel: ``fn(batch, state)`` runs on every
    non-empty Arrow batch of ``frame`` and returns one array per
    ``(name, pyarrow type)`` in ``out``.  ``state`` is broadcast once.  The
    ``keep`` input columns pass through ahead of the new ones (then ``fn``
    must return one value per input row); a 2-D ndarray becomes a list
    column of its rows.  The Spark types of the new columns come from
    their Arrow types.  ``read``, when given, maps each task's stream of
    ``frame`` batches to the batches ``fn`` sees (``fused_scan``)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import from_arrow_schema
    from pyspark.sql.types import StructType

    keep, new = list(keep), pa.schema(out)
    schema = StructType([frame.schema[c] for c in keep] + from_arrow_schema(new).fields)
    names = keep + new.names
    bc = frame.sparkSession.sparkContext.broadcast(state)

    def kernel(batches):
        b_state = bc.value
        if read is not None:
            batches = read(batches)
        for batch in batches:
            if batch.num_rows == 0:
                continue
            cols = [_arrow_array(v, f.type) for v, f in zip(fn(batch, b_state), new)]
            yield pa.RecordBatch.from_arrays([*(batch.column(c) for c in keep), *cols],
                                             names=names)

    return frame.mapInArrow(kernel, schema=schema)


def _jname(obj) -> str:
    return obj.getClass().getSimpleName()


def _jseq(seq) -> list:
    return [seq.apply(i) for i in range(seq.size())]


def parquet_fragments(frame: DataFrame) -> Optional[tuple[list, list]]:
    """``(columns, fragments)`` when ``frame`` is a bare local parquet
    relation, else None.  ``columns`` pairs each frame column, in order,
    with the file column it reads; ``fragments`` lists every non-empty
    ``(path, row group, rows)`` of the frame's files, read from the
    footers with no Spark job (``sources.tables.table_rows``).

    Bare means: the optimized plan is a ``LogicalRelation`` over a parquet
    ``HadoopFsRelation`` with no partition columns, under at most one
    ``Project`` of attributes or renames of them; every input file is a
    ``file:`` URI; and each column's Arrow type in every file maps to the
    frame's Spark type.  A filter, cast, computed column, union, join or
    limit makes the frame not bare."""
    from urllib.parse import unquote, urlparse

    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_type

    plan = frame._jdf.queryExecution().optimizedPlan()
    exprs = None
    if _jname(plan) == "Project":
        exprs, plan = _jseq(plan.projectList()), plan.child()
    if _jname(plan) != "LogicalRelation":
        return None
    rel = plan.relation()
    if (_jname(rel) != "HadoopFsRelation" or _jname(rel.fileFormat()) != "ParquetFileFormat"
            or rel.partitionSchema().length() > 0):
        return None
    attrs = _jseq(plan.output())
    file_cols = {a.exprId().id(): a.name() for a in attrs}
    sources = []
    for e in attrs if exprs is None else exprs:
        if _jname(e) == "Alias":
            e = e.child()
        if _jname(e) != "AttributeReference" or e.exprId().id() not in file_cols:
            return None
        sources.append(file_cols[e.exprId().id()])
    fields = frame.schema.fields
    paths = []
    for uri in frame.inputFiles():
        u = urlparse(uri)
        if u.scheme != "file":
            return None
        paths.append(unquote(u.path))
    frags = []
    for path in sorted(paths):
        with pq.ParquetFile(path) as f:
            schema, md = f.schema_arrow, f.metadata
        for field, src in zip(fields, sources):
            i = schema.get_field_index(src)
            try:
                if i < 0 or from_arrow_type(schema.field(i).type) != field.dataType:
                    return None
            except TypeError:  # an Arrow type Spark has no type for
                return None
        frags += [(path, g, md.row_group(g).num_rows) for g in range(md.num_row_groups)
                  if md.row_group(g).num_rows]
    return [(f.name, src) for f, src in zip(fields, sources)], frags


def fused_scan(frame: DataFrame, columns: list, frags: list) -> tuple[DataFrame, object]:
    """``(tasks, read)`` for ``arrow_map(tasks, …, read=read)``: the scan
    of a bare parquet ``frame`` (``parquet_fragments``) run in the Python
    worker.  ``tasks`` is a ``spark.range`` of one row per task, at most
    ``defaultParallelism`` of them; the fragments are dealt out by row
    count, the largest first to the task with the fewest rows.  ``read``
    turns a task's row into its fragments' rows, read with pyarrow in
    batches of ``spark.sql.execution.arrow.maxRecordsPerBatch`` rows under
    the frame's column names."""
    spark = frame.sparkSession
    n = max(1, min(len(frags), spark.sparkContext.defaultParallelism))
    dealt, load = [[] for _ in range(n)], [0] * n
    for path, group, rows in sorted(frags, key=lambda f: -f[2]):
        i = load.index(min(load))
        dealt[i].append((path, group))
        load[i] += rows
    per_task = [[(p, sorted(g for q, g in d if q == p)) for p in sorted({p for p, _ in d})]
                for d in dealt]
    names, sources = [c for c, _ in columns], [s for _, s in columns]
    size = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
    size = size if size > 0 else 1 << 24

    def read(batches):
        import pyarrow as pa
        import pyarrow.parquet as pq

        for batch in batches:
            for task in batch.column(0).to_pylist():
                for path, groups in per_task[task]:
                    with pq.ParquetFile(path) as f:
                        for b in f.iter_batches(batch_size=size, row_groups=groups,
                                                columns=sorted(set(sources))):
                            yield pa.RecordBatch.from_arrays([b.column(s) for s in sources],
                                                             names=names)

    return spark.range(0, n, numPartitions=n), read


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
    window ranks them.

    A bare local parquet ``frame`` (``parquet_fragments``: a projection of
    columns or renames over a parquet table without partition columns,
    every file a ``file:`` URI, every column's file type the frame's type)
    is read by the kernel itself (``fused_scan``): its row groups are
    dealt out to at most ``defaultParallelism`` tasks, read with pyarrow in
    batches of ``spark.sql.execution.arrow.maxRecordsPerBatch`` rows under
    the frame's column names, and scored there.  Every other frame falls
    back to the kernel over Spark's scan of ``frame``.  Returns ``(keys…, id, dist, rank)`` with rank 1..k
    ordered by (dist, id) per key.  A NaN or +inf distance is never
    returned, masked or not, so a key with fewer than k other distances
    gets fewer than k rows."""
    import pyarrow as pa

    names = list(keys)
    cols = [np.asarray(a) for a in keys.values()]
    out = ([(n, pa.from_numpy_dtype(c.dtype)) for n, c in zip(names, cols)]
           + [("id", pa.int64()), (dist, pa.from_numpy_dtype(np.dtype(dist_dtype)))])

    def scan(batch, st):
        b_cols, b_state, b_member = st
        ids = batch.column("id").to_numpy()
        D = score(batch, b_state)
        if b_member is not None:
            D = np.where(b_member[batch.column(CLUSTER_COL).to_numpy()], D, np.inf)
        rows, cols = partial_topk(D, ids, k)
        return [*(c[cols] for c in b_cols), ids[rows], D[rows, cols]]

    src = parquet_fragments(frame)
    frame, read = (frame, None) if src is None else fused_scan(frame, *src)
    partial = arrow_map(frame, scan, out, state=(cols, state, member), read=read)
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
            # in place, bit-identical to x2 − 2g + q2: (−2)·g is exactly −(2·g)
            Q, q2 = st
            G = X @ Q.T
            G *= -2.0
            G += (X * X).sum(axis=1)[:, None]
            G += q2
            np.maximum(G, 0.0, out=G)
            return np.sqrt(G, out=G)
        if metric == "angular":
            return 1.0 - unit_rows(X) @ st.T
        # hamming: mean of elementwise mismatch, floats ∈ {0,1}, in row
        # blocks that bound the (rows × queries × d) comparison tensor
        return np.concatenate([(X[i:i + 2048, None, :] != st[None, :, :]).mean(axis=2)
                               for i in range(0, len(X), 2048)])

    return topk_scan(frame, {"qid": qids}, k, score, state=state, member=member)


def _knn_gemm(train, queries, k, metric, vec_col, qvec, id_col, qid_col, t_dim) -> DataFrame:
    qids, qmat = _collect_queries(queries, qid_col, qvec)
    if len(qids) == 0:
        return train.sparkSession.createDataFrame([], _OUT_SCHEMA)
    _check_dims(t_dim, qmat.shape[1], vec_col)
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
