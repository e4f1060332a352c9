"""Binary quantization (BQ) ANN family: 1-bit/dimension codes + exact refine.

The reference benchmarks binary-vector workloads as a first-class point type
(``point_type="bit"`` — reference datasets.py:348-352, data.py:20-25) and its
server backends ship binary index families for them (the Milvus wrapper's
BIN_FLAT/BIN_IVF surface, reference milvus/module.py:125-144 type lattice).
This module is the Spark-first recasting of the *other* direction every
production vector store added on top: binary quantization of FLOAT vectors —
each dimension collapses to one sign bit around a learned per-dimension
threshold, the packed 64-bit words are scanned with XOR+popcount (a 64×
narrower read than the float column, whole-stage-codegen arithmetic only),
and the hamming pre-rank's ``k·overfetch`` survivors are re-ranked with exact
float distances.

100 TB design: the candidate stage reads ONLY ``ARRAY<BIGINT>`` words (d/64
longs per row instead of d floats), scores with JVM bit_count — no Python, no
shuffle until the per-query top-n window — and the refine stage touches float
vectors for just the ~q·k·overfetch candidate rows via a broadcast pair join
(same discipline as PQIndex._refine).  The fit is a driver-side per-dimension
mean over a bounded sorted sample (the IVF/PQ ``fit on a sample, apply
distributed`` pattern, similarity.py:90-103).
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce

import numpy as np
from pyspark.sql import Column, DataFrame, functions as F

from bigvectorbench_spark.functions import distance as dx
from bigvectorbench_spark.operators.knn import (
    _check_envelope, _collect_queries, arrow_map, arrow_rows, topk_scan, topk_window)

_OUT_SCHEMA = "qid bigint, id bigint, dist double, rank int"

#: byte-wise popcount table for the Arrow kernel (numpy<2 has no
#: bitwise_count ufunc); uint16 so the gather result sums without overflow.
_POP = np.array([bin(i).count("1") for i in range(256)], dtype=np.uint16)

#: fit() collects one float64 row-mean sample to the driver; keep it bounded
#: the same way IVFIndex.fit bounds its kmeans sample.
MAX_FIT_SAMPLE_ROWS = 1_000_000

#: encode() unrolls d literal comparisons into the packing expression; guard
#: against plans that would blow past codegen limits.
MAX_DIM = 4096


def pack_thresholds(vec: Column, thresholds: list[float]) -> Column:
    """Pack ``(vec[i] > thresholds[i])`` sign bits into ARRAY<BIGINT> words
    (64 bits/word, first dimension at the word's highest bit — the
    ``pack_signs`` layout, distance.py:133).  The per-dimension literal
    thresholds are folded into one unrolled shift/OR expression per word, so
    no intermediate ARRAY<BOOLEAN> column exists to be re-evaluated per word
    (the HOF hazard pack_bits' docstring warns about)."""
    d = len(thresholds)
    if d > MAX_DIM:
        raise ValueError(f"d={d} > MAX_DIM={MAX_DIM}")
    words = []
    for w in range(0, d, 64):
        chunk = thresholds[w:w + 64]
        bits = [
            F.shiftleft(
                F.when(vec[w + j] > F.lit(float(t)), F.lit(1))
                .otherwise(F.lit(0)).cast("long"),
                len(chunk) - 1 - j,
            )
            for j, t in enumerate(chunk)
        ]
        words.append(reduce(lambda a, b: a.bitwiseOR(b), bits))
    return F.array(*words)


def pack_np(X: np.ndarray, thresholds: list[float]) -> np.ndarray:
    """The numpy twin of ``pack_thresholds``: identical bit layout
    (64 dims/word, first dim at the chunk's highest bit), identical
    comparison arithmetic (float64 value > float64 threshold), returned as
    int64 words.  Used to pack collected query blocks for the Arrow kernel
    and by external recomputations (the oracle generator)."""
    X = np.asarray(X, dtype=np.float64)
    thr = np.asarray(thresholds, dtype=np.float64)
    d = len(thresholds)
    bits = X > thr[None, :]
    n_words = (d + 63) // 64
    out = np.zeros((len(X), n_words), dtype=np.uint64)
    for i in range(d):
        word = i // 64
        chunk = min(64, d - word * 64)
        shift = chunk - 1 - (i - word * 64)
        out[:, word] |= bits[:, i].astype(np.uint64) << np.uint64(shift)
    return out.view(np.int64)


def hamming_packed_int(a: Column, b: Column) -> Column:
    """Integer hamming distance between packed word arrays: Σ bit_count(xor).
    Unlike ``hamming_packed_dist`` (which normalizes to the reference's
    [0,1] metric), candidate ranking wants the raw integer — exact on both
    engines, so (hamming, id) candidate order is engine-stable."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: F.bit_count(x.bitwiseXOR(y)).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


@dataclass
class BQIndex:
    """Per-dimension binary thresholds (the 'codebook' of the 1-bit family)."""

    thresholds: list[float]

    @property
    def d(self) -> int:
        return len(self.thresholds)

    @classmethod
    def fit(
        cls,
        train: DataFrame,
        *,
        vec_col: str = "vec",
        center: bool = True,
        max_sample_rows: int = MAX_FIT_SAMPLE_ROWS,
        sort_col: str | None = None,
    ) -> "BQIndex":
        """``center=True``: threshold each dimension at its sample mean
        (float64 numpy mean over rows collected in ``sort_col`` order —
        pinned so an external recomputation of the build sees the same
        bits, the IVFIndex.fit sort_col contract).  ``center=False``:
        threshold at 0.0 (data-independent; the sign-bit code of the
        packed-hamming workload)."""
        df = train
        if sort_col is not None:
            df = df.orderBy(sort_col)
        rows = df.select(vec_col).limit(max_sample_rows if center else 1).collect()
        if not rows:
            raise ValueError("cannot fit BQIndex on an empty table")
        if not center:
            return cls(thresholds=[0.0] * len(rows[0][0]))
        X = np.array([r[0] for r in rows], dtype=np.float64)
        return cls(thresholds=[float(x) for x in X.mean(axis=0)])

    def encode(
        self,
        df: DataFrame,
        *,
        vec_col: str = "vec",
        out_col: str = "words",
        keep: list[str] | None = None,
        method: str = "auto",
    ) -> DataFrame:
        """Materialize the packed code column (the M2 'index build' artifact
        a BQ deployment stores next to — or instead of — the float column).
        ``keep``: columns carried alongside; default everything.

        ``method='expr'`` is the unrolled whole-stage-codegen packer — free
        of Python workers, but its d literal comparisons make janino
        compile+evaluate cost grow with d (measured 83 s to encode 200k
        rows at d=1024).  ``'kernel'`` packs each Arrow
        batch with ``pack_np`` (identical bit layout — pinned in test_bq) in
        one vectorized pass; 'auto' switches to it past d=128."""
        cols = keep if keep is not None else df.columns
        if method not in ("auto", "expr", "kernel"):
            raise ValueError(f"unknown method {method!r}")
        if method == "auto":
            method = "kernel" if self.d > 128 else "expr"
        if method == "expr":
            return df.select(
                *cols, pack_thresholds(F.col(vec_col), self.thresholds).alias(out_col))

        import pyarrow as pa

        def pack(batch, thr):
            return [pack_np(arrow_rows(batch.column(vec_col)), thr)]

        work = df.select(*dict.fromkeys([*cols, vec_col]))
        return arrow_map(work, pack, [(out_col, pa.list_(pa.int64()))],
                         state=np.asarray(self.thresholds, dtype=np.float64), keep=cols)

    def search(
        self,
        codes: DataFrame,
        queries: DataFrame | None,
        k: int = 10,
        *,
        words_col: str = "words",
        id_col: str = "id",
        qid_col: str = "qid",
        query_vec_col: str = "vec",
        refine_train: DataFrame | None = None,
        refine_vec_col: str = "vec",
        metric: str = "euclidean",
        overfetch: int = 4,
        pre_filter=None,
        method: str = "auto",
        qblock: "tuple[np.ndarray, np.ndarray] | None" = None,
    ) -> DataFrame:
        """Hamming pre-rank over the packed words (top ``k·overfetch`` per
        query by (popcount, id)), then exact re-rank against
        ``refine_train`` floats.  Without ``refine_train`` the hamming
        ranking itself is the result (dist = integer hamming), which is the
        BIN_FLAT behavior for genuinely binary data.

        ``method``: 'kernel' (default via 'auto') scores each Arrow batch
        with a byte-LUT popcount in ``knn.topk_scan``, whose (dist, id)
        selection keeps the routine integer-hamming ties bit-identical to
        an external (hamming, id) lexsort.  'expr' keeps the pure-Column
        form (JVM fold per pair — no Python, but per-pair HOF evaluation
        costs ~3× the kernel at 100 queries; the declared-oracle shape).

        ``pre_filter`` composes filtered-ANN semantics: applied to the
        codes table before scoring so Catalyst pushes it into the scan.

        ``qblock``: a pre-collected ``(qids int64[n], qmat float64[n, d])``
        query block for the kernel path — callers that already hold the
        query vectors on the driver (the fused hybrid prelude collects the
        corpus once for the envelope count, the fit AND the queries) skip
        the per-search collect job.  Scoring is per-qid, so block order is
        immaterial; values must equal what collecting ``queries`` would
        yield (the caller's contract)."""
        if queries is None and qblock is None:
            raise ValueError("search needs queries or a qblock")
        if queries is None and refine_train is not None:
            raise ValueError("the exact refine reads the query vectors from "
                             "queries; pass queries with refine_train")
        if pre_filter is not None:
            codes = codes.filter(
                F.expr(pre_filter) if isinstance(pre_filter, str) else pre_filter)
        if method not in ("auto", "kernel", "expr"):
            raise ValueError(f"unknown method {method!r}")
        n_cand = k * overfetch if refine_train is not None else k
        if method == "auto":
            method = "kernel"
        if qblock is not None and method != "kernel":
            raise ValueError("qblock is a kernel-path shortcut; "
                             "method='expr' collects nothing to skip")
        if method == "kernel":
            cand = self._candidates_kernel(
                codes, queries, n_cand, words_col, id_col, qid_col,
                query_vec_col, qblock=qblock)
        else:
            cand = self._candidates_expr(
                codes, queries, n_cand, words_col, id_col, qid_col, query_vec_col)
        if refine_train is None:
            return cand.select(
                "qid", "id", F.col("_ham").cast("double").alias("dist"), "rank")
        q = queries.select(
            F.col(qid_col).cast("bigint").alias("qid"),
            F.col(query_vec_col).alias("_qvec"))
        vecs = refine_train.select(
            F.col(id_col).cast("bigint").alias("id"),
            F.col(refine_vec_col).alias("_tvec"))
        refined = (
            F.broadcast(cand.select("qid", "id"))
            .join(vecs, "id")
            .join(F.broadcast(q.select("qid", "_qvec")), "qid")
            .select("qid", "id",
                    dx.metric_dist(metric, F.col("_tvec"), F.col("_qvec")).alias("dist"))
        )
        return topk_window(refined, k).select("qid", "id", "dist", "rank")

    # ---- candidate stages -----------------------------------------------
    def _candidates_expr(self, codes, queries, n_cand,
                         words_col, id_col, qid_col, query_vec_col) -> DataFrame:
        """(qid, id, _ham, rank): pure-Column scoring — popcount fold per
        (row × query) pair above a broadcast join, then the global window."""
        q = queries.select(
            F.col(qid_col).cast("bigint").alias("qid"),
            pack_thresholds(F.col(query_vec_col), self.thresholds).alias("_qwords"))
        t = codes.select(
            F.col(id_col).cast("bigint").alias("id"),
            F.col(words_col).alias("_twords"))
        scored = (
            t.join(F.broadcast(q))
            .select("qid", "id",
                    hamming_packed_int(F.col("_twords"), F.col("_qwords")).alias("_ham"))
        )
        return topk_window(scored, n_cand, dist="_ham")

    def _candidates_kernel(self, codes, queries, n_cand,
                           words_col, id_col, qid_col, query_vec_col,
                           qblock=None) -> DataFrame:
        """(qid, id, _ham, rank): ``knn.topk_scan`` scored by byte-LUT
        popcounts against the packed query block."""
        if qblock is not None:
            qids = np.asarray(qblock[0], dtype=np.int64)
            qmat = np.asarray(qblock[1], dtype=np.float64)
            _check_envelope(len(qids))
        else:
            qids, qmat = _collect_queries(queries, qid_col, query_vec_col)
        if len(qids) == 0:
            return codes.sparkSession.createDataFrame(
                [], "qid bigint, id bigint, _ham bigint, rank int")
        t = codes.select(F.col(id_col).cast("bigint").alias("id"),
                         F.col(words_col).alias("words"))
        return topk_scan(
            t, {"qid": qids}, n_cand,
            lambda batch, qu8: hamming_bytes(arrow_rows(batch.column("words"), np.int64), qu8),
            state=pack_np(qmat, self.thresholds).view(np.uint8),
            dist="_ham", dist_dtype=np.int64)


def hamming_bytes(W: np.ndarray, Qu8: np.ndarray) -> np.ndarray:
    """(n × nq) int64 hamming distances between packed int64 word rows ``W``
    and byte-viewed packed queries ``Qu8`` (one byte-LUT popcount pass per
    query)."""
    Wu8 = W.view(np.uint8)
    H = np.empty((len(W), len(Qu8)), dtype=np.int64)
    for qi in range(len(Qu8)):
        H[:, qi] = _POP[np.bitwise_xor(Wu8, Qu8[qi][None, :])].sum(axis=1, dtype=np.int64)
    return H
