"""OPQ — Optimized Product Quantization (Ge et al., CVPR 2013).

PQ splits a vector into m contiguous subspaces and quantizes each
independently, so its error depends on how variance and correlation align
with those arbitrary coordinate blocks.  OPQ learns an orthogonal rotation
R that minimizes the quantization error before the split: alternate
(1) fit per-subspace codebooks on the rotated sample, (2) solve the
orthogonal Procrustes problem R = argmin ‖XR − Ŷ‖ (SVD of XᵀŶ) for the
current reconstruction Ŷ.  The reference reaches this family through its
backends' PQ variants (milvus/config.yml IVF_PQ grids); OPQ is the
published upgrade every production PQ deployment applies when dimensions
are correlated.

Spark-first layout: the fit is driver-side on a bounded id-sorted sample
(the IVFIndex/PQIndex fit-on-sample pattern); the rotation is applied
distributed by a batched Arrow kernel (one float64 GEMM per batch,
coordinates rounded to 6 dp so the pipeline is batch- and engine-stable —
the jl_knn discipline); everything downstream (SMALLINT codes, broadcast
ADC LUT scan, exact refine over the ORIGINAL float table — valid because
an orthogonal R preserves L2 distances) is the existing PQIndex machinery.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame

from bigvectorbench_spark.operators.knn import arrow_map, arrow_rows
from bigvectorbench_spark.operators.pq import PQIndex
from bigvectorbench_spark.operators.similarity import _kmeans_pp

#: rotated coordinates round to this many decimals before encode/ADC so the
#: distributed kernel (per-batch GEMM) and any external recomputation (one
#: full-matrix GEMM) agree bit-for-bit despite BLAS blocking differences.
ROUND_TO = 6


def opq_fit_numpy(
    X: np.ndarray,
    *,
    m: int,
    ksub: int,
    iters: int = 4,
    seed: int = 1,
    max_iter: int = 8,
) -> tuple[np.ndarray, np.ndarray]:
    """The deterministic numpy fit, shared verbatim by OPQIndex.fit and the
    oracle generator so both sides derive identical (R, codebooks).

    Non-parametric OPQ, warm-started as published: codebooks initialize
    once with kmeans++ on X (same seeds/iteration budget as PQIndex.fit);
    each round then (1) refines them with Lloyd steps on the CURRENT
    rotation (warm start — re-seeding every round discards the joint
    progress and stalls the objective), (2) reconstructs Ŷ, (3) updates
    R ← U·Vᵀ from svd(Xᵀ·Ŷ) — the orthogonal Procrustes solution.
    Returns (R, books) with the codebooks Lloyd-refined on the final
    rotation.  ``iters=0`` degrades to plain PQ (R = I)."""
    n, d = X.shape
    if d % m != 0:
        raise ValueError(f"d={d} not divisible by m={m}")
    dsub = d // m
    R = np.eye(d)

    def _assign(S, C):
        c2 = (C * C).sum(axis=1)
        d2 = (S * S).sum(1)[:, None] - 2.0 * (S @ C.T) + c2[None, :]
        return d2.argmin(axis=1)

    def _lloyd(XR, books, steps):
        out = books.copy()
        for j in range(m):
            S = XR[:, j * dsub:(j + 1) * dsub]
            C = out[j].copy()
            for _ in range(steps):
                a = _assign(S, C)
                for c in range(ksub):
                    mask = a == c
                    if mask.any():          # empty cluster keeps its centroid
                        C[c] = S[mask].mean(axis=0)
            out[j] = C
        return out

    def _reconstruct(XR, books):
        Y = np.empty_like(XR)
        for j in range(m):
            S = XR[:, j * dsub:(j + 1) * dsub]
            Y[:, j * dsub:(j + 1) * dsub] = books[j][_assign(S, books[j])]
        return Y

    books = np.stack([
        _kmeans_pp(X[:, j * dsub:(j + 1) * dsub], ksub, seed + j, max_iter)
        for j in range(m)
    ])
    for _ in range(iters):
        books = _lloyd(X @ R, books, max_iter)
        Y = _reconstruct(X @ R, books)
        U, _, Vt = np.linalg.svd(X.T @ Y)
        R = U @ Vt
    if iters:
        books = _lloyd(X @ R, books, max_iter)
    return R, books


@dataclass
class OPQIndex:
    """Orthogonal rotation + the PQIndex it feeds."""

    R: np.ndarray
    pq: PQIndex

    @classmethod
    def fit(
        cls,
        train: DataFrame,
        *,
        vec_col: str = "vec",
        m: int = 8,
        ksub: int = 256,
        iters: int = 4,
        seed: int = 1,
        max_iter: int = 8,
        max_sample_rows: int = 100_000,
        sort_col: str | None = None,
    ) -> "OPQIndex":
        """Driver-side fit on a bounded sample; ``sort_col`` pins the sample
        order (kmeans++ seeding and the Procrustes trajectory are row-order
        dependent) so an external recomputation reproduces (R, books)."""
        df = train
        if sort_col is not None:
            df = df.orderBy(sort_col)
        rows = df.select(vec_col).limit(max_sample_rows).collect()
        if len(rows) < ksub:
            raise ValueError(f"{len(rows)} sample rows < ksub={ksub}")
        X = np.array([r[0] for r in rows], dtype=np.float64)
        R, books = opq_fit_numpy(X, m=m, ksub=ksub, iters=iters, seed=seed,
                                 max_iter=max_iter)
        return cls(R=R, pq=PQIndex(codebooks=books))

    # ---- distributed rotation -------------------------------------------
    def rotate(
        self,
        df: DataFrame,
        *,
        vec_col: str = "vec",
        out_col: str = "rvec",
    ) -> DataFrame:
        """Append the rotated (and 6-dp rounded) coordinate column: one
        float64 GEMM per Arrow batch against the broadcast R.  All input
        columns are preserved (encode typically drops the original float
        column afterwards; refine re-reads it from the source table)."""
        import pyarrow as pa

        def rotate(batch, R):
            return [np.round(arrow_rows(batch.column(vec_col)) @ R, ROUND_TO)]

        return arrow_map(df, rotate, [(out_col, pa.list_(pa.float64()))],
                         state=self.R, keep=df.columns)

    def encode(self, df: DataFrame, *, vec_col: str = "vec",
               out_col: str = "codes") -> DataFrame:
        """Rotate then PQ-encode; the stored row keeps the codes only (plus
        whatever the caller selected), as in PQIndex.encode."""
        rotated = self.rotate(df, vec_col=vec_col, out_col="_rvec")
        return self.pq.encode(rotated, vec_col="_rvec", out_col=out_col).drop("_rvec")

    def search(
        self,
        encoded: DataFrame,
        queries: DataFrame,
        k: int = 10,
        *,
        codes_col: str = "codes",
        query_vec_col: str = "vec",
        id_col: str = "id",
        qid_col: str = "qid",
        pre_filter=None,
        refine_train: DataFrame | None = None,
        refine_vec_col: str = "vec",
        overfetch: int = 4,
    ) -> DataFrame:
        """ADC in the rotated space; exact refine (when ``refine_train`` is
        given) in the ORIGINAL space — orthogonal rotations preserve L2, so
        the refine ranking is exactly the plain-kNN ranking on the
        candidate set and the float table never needs a rotated copy."""
        rq = self.rotate(queries, vec_col=query_vec_col, out_col="_rvec")
        if refine_train is None:
            return self.pq.search(
                encoded, rq, k, codes_col=codes_col, query_vec_col="_rvec",
                id_col=id_col, qid_col=qid_col, pre_filter=pre_filter)
        cand = self.pq.search(
            encoded, rq, k * overfetch, codes_col=codes_col,
            query_vec_col="_rvec", id_col=id_col, qid_col=qid_col,
            pre_filter=pre_filter)
        return self.pq._refine(cand, refine_train, queries, k,
                               refine_vec_col, id_col, qid_col, query_vec_col)
