"""Approximate similarity search — SURVEY.md §2.7 / M7.

The reference benchmarks IVF/HNSW/PQ families via backend engines
(milvus/module.py:567-713); the Spark-idiomatic analogs are:

- **FLAT (exact)** = ``operators/knn.py`` — the baseline and ground truth.
- **IVF_FLAT** = MLlib KMeans centroids + a ``cluster_id`` column on the
  train table.  ``nlist`` = number of centroids (build-time knob),
  ``nprobe`` = how many nearest centroid cells each query visits
  (query-time knob, milvus/module.py:581-592).  If the table is *written
  partitioned by cluster_id*, the probe join becomes partition pruning: a
  100 TB scan touches only nprobe/nlist of its files — that's the entire
  point of the structure.
- **LSH** = the bucketed-random-projection / MinHash knobs (dedup.py uses
  the same machinery for near-dup); exposed via the SRP signature here for
  cosine ANN.

Index build is M2 in the reference's lifecycle (runner.py:446-489): a timed,
materialized artifact.  Here it is ``IVFIndex.fit`` + ``write_indexed``.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigvectorbench_spark.functions import distance as dist_fns
from bigvectorbench_spark.operators.knn import (
    CLUSTER_COL, _collect_queries, arrow_map, arrow_rows, gemm_scan,
    topk_window, unit_rows)

# auto_nprobe calibration (the hnsw.auto_ef / sparse.auto_m twin,
# completing the auto-knob trilogy).  Measured on the
# decade ladder (20k → 632k rows, 32-d/100-center
# blobs, nlist = round(sqrt(n)) — the classic build rule): the minimal
# nprobe holding mean recall ≥ 0.9 vs exact kNN is
# (nlist 141 → 2, 251 → 3, 447 → 4, 795 → 6); a FIXED nprobe=4 decays
# 0.997 → 0.943 → 0.813 over the same rungs.  Least-squares power law
# through the measured points: nprobe* = 0.0934 · nlist^0.6215 — recall
# needs a growing CELL COUNT but a shrinking cell FRACTION (exponent
# < 1), the same sublinear shape as auto_ef's n^0.9.  The verify pass
# re-ran the fitted formula at every rung: recall 0.998 / 0.986 / 0.986
# / 0.954 — held across 1.5 decades where fixed-4 lost 0.18.
# Regime note: calibrated for sqrt(n)-sized builds (cells of ~√n rows);
# tiny-nlist configs (the oracle-sf nlist=8 declarations) sit outside it
# and keep their explicitly calibrated nprobe.
_AUTO_NPROBE_COEF = 0.0934
_AUTO_NPROBE_EXP = 0.6215


def auto_nprobe(nlist: int) -> int:
    """Query-time probe count holding recall ≈0.9 under the
    nlist ≈ sqrt(n) build rule, instead of letting a fixed nprobe decay
    as the corpus (and with it nlist) grows."""
    import math

    return int(min(nlist, max(1, math.ceil(
        _AUTO_NPROBE_COEF * nlist ** _AUTO_NPROBE_EXP))))


def _kmeans_pp(X: np.ndarray, k: int, seed: int, max_iter: int) -> np.ndarray:
    """Lloyd's algorithm with kmeans++ init, plain numpy (driver-side fit
    on a bounded sample; see IVFIndex.fit)."""
    rng = np.random.RandomState(seed)
    # kmeans++ seeding
    cents = [X[rng.randint(len(X))]]
    d2 = ((X - cents[0]) ** 2).sum(axis=1)
    for _ in range(1, k):
        probs = d2 / d2.sum() if d2.sum() > 0 else np.full(len(X), 1.0 / len(X))
        cents.append(X[rng.choice(len(X), p=probs)])
        d2 = np.minimum(d2, ((X - cents[-1]) ** 2).sum(axis=1))
    C = np.array(cents)
    d = X.shape[1]
    for _ in range(max_iter):
        dist = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2) if len(X) * k * X.shape[1] < 5e7 \
            else (X * X).sum(1)[:, None] - 2 * X @ C.T + (C * C).sum(1)[None, :]
        assign = dist.argmin(axis=1)
        # vectorized update: per-dim bincount is O(n·d) at C speed — the
        # per-cluster boolean-mask form is O(n·k) and dominates fit time for
        # k in the hundreds (PQ codebooks: 147 s → ~4 s at 50k×8-d×256)
        counts = np.bincount(assign, minlength=k).astype(np.float64)
        sums = np.stack(
            [np.bincount(assign, weights=X[:, j], minlength=k) for j in range(d)], axis=1)
        newC = np.where(counts[:, None] > 0, sums / np.maximum(counts, 1.0)[:, None], C)
        if np.allclose(newC, C):
            C = newC
            break
        C = newC
    return C


@dataclass
class IVFIndex:
    """KMeans-based inverted-file index: centroids live on the driver (nlist
    × d doubles — tiny), assignments live as a column on the train table."""

    centroids: np.ndarray  # (nlist, d) float64
    metric: str = "euclidean"

    @classmethod
    def fit(
        cls,
        train: DataFrame,
        *,
        vec_col: str = "vec",
        nlist: int = 16,
        metric: str = "euclidean",
        seed: int = 1,
        sample_fraction: float = 1.0,
        max_iter: int = 20,
        max_sample_rows: int = 1_000_000,
        sort_col: str | None = None,
    ) -> "IVFIndex":
        """Fit centroids on a (bounded) sample: collect ≤
        ``max_sample_rows`` sampled vectors to the driver and run kmeans++
        there — the standard 100 TB pattern (fit on a sample, *assignment*
        stays distributed), and free of MLlib's per-job JVM overhead at
        small scale.

        ``sort_col``: kmeans++ seeding is row-order dependent (the rng
        indexes into the sample matrix), so callers that need the fitted
        centroids to be reproducible across readers (e.g. an external
        recomputation of the same build) must pin the sample order to a
        key column; None keeps whatever order the scan yields."""
        df = train if sample_fraction >= 1.0 else train.sample(sample_fraction, seed=seed)
        if sort_col is not None:
            df = df.orderBy(sort_col)
        rows = df.select(vec_col).limit(max_sample_rows).collect()
        X = np.array([r[0] for r in rows], dtype=np.float64)
        if len(X) < nlist:
            raise ValueError(f"{len(X)} sample rows < nlist={nlist}")
        if metric == "angular":
            # spherical kmeans: fit on unit vectors; cell boundaries then
            # follow angles, so L2 probing == angular probing
            X = unit_rows(X)
        return cls(centroids=_kmeans_pp(X, nlist, seed, max_iter), metric=metric)

    def assign(self, df: DataFrame, *, vec_col: str = "vec", method: str = "auto") -> DataFrame:
        """Add ``cluster_id`` = argmin centroid distance — a narrow map (no
        shuffle), safe at full corpus width.

        ``method="gemm"`` (default for float vectors): one X·Cᵀ matmul per
        Arrow batch.  The expression form evaluates nlist O(d) distance
        expressions per row — 20× slower at 200k×256-d×64 cells — and is
        kept (``method="expr"``) for plan-visibility tests."""
        if method == "auto":
            method = "gemm"
        if method == "gemm":
            return self._assign_gemm(df, vec_col)
        cents = F.lit([c.tolist() for c in self.centroids]).cast("array<array<double>>")
        work = df
        vec = F.col(vec_col)
        if self.metric == "angular":
            # materialize the unit vector first: inlined into the transform
            # lambda it would re-normalize once per centroid (HOF re-eval)
            work = df.withColumn("__unit", dist_fns.unit_vec(vec))
            vec = F.col("__unit")
        scored = F.transform(
            cents,
            lambda c, i: F.struct(dist_fns.l2_sq(vec, c).alias("d"), i.alias("cid")),
        )
        best = F.array_min(scored)
        return work.withColumn(CLUSTER_COL, best["cid"]).drop("__unit")

    def _assign_gemm(self, df: DataFrame, vec_col: str) -> DataFrame:
        """Argmin-centroid assignment as an Arrow GEMM kernel, preserving all
        input columns (cluster_id appended)."""
        import pyarrow as pa

        metric = self.metric

        def assign(batch, st):
            C, c2 = st
            X = arrow_rows(batch.column(vec_col))
            if metric == "angular":
                X = unit_rows(X)
            d2 = (X * X).sum(1)[:, None] - 2.0 * (X @ C.T) + c2
            return [d2.argmin(axis=1).astype(np.int32)]

        C = self.centroids
        return arrow_map(df, assign, [(CLUSTER_COL, pa.int32())],
                         state=(C, (C * C).sum(1)[None, :]), keep=df.columns)

    def write_indexed(self, df: DataFrame, path: str, *, vec_col: str = "vec") -> None:
        """Materialize the index layout: parquet partitioned by cluster_id.
        Catalyst then turns every probe-list filter into partition pruning."""
        self.assign(df, vec_col=vec_col).write.partitionBy(CLUSTER_COL).mode(
            "overwrite"
        ).parquet(path)

    def probe_lists(self, qmat: np.ndarray, nprobe: int | str) -> np.ndarray:
        """Top-``nprobe`` nearest centroid ids per query row (driver-side:
        queries ≤10k × nlist centroids is a trivial GEMM).
        ``nprobe="auto"`` resolves via :func:`auto_nprobe` — the
        calibrated recall-holding rule for sqrt(n)-sized builds; every
        caller that forwards nprobe (search, ivfpq_search, the filtered
        compositions) inherits the mode through this resolution point."""
        if nprobe == "auto":
            nprobe = auto_nprobe(len(self.centroids))
        if self.metric == "angular":
            qmat = unit_rows(qmat)
        d2 = ((qmat[:, None, :] - self.centroids[None, :, :]) ** 2).sum(axis=2)
        nprobe = min(nprobe, len(self.centroids))
        part = np.argpartition(d2, nprobe - 1, axis=1)[:, :nprobe]
        return part

    def probe_mask(self, probes: np.ndarray) -> np.ndarray:
        """(nlist × n_queries) bool: query i probes cell c — the
        ``member`` mask of ``knn.topk_scan``."""
        member = np.zeros((len(self.centroids), len(probes)), dtype=bool)
        for qi, cells in enumerate(probes):
            member[cells, qi] = True
        return member

    def search(
        self,
        indexed_train: DataFrame,
        queries: DataFrame,
        k: int = 10,
        *,
        nprobe: int | str = 4,
        vec_col: str = "vec",
        id_col: str = "id",
        qid_col: str = "qid",
        pre_filter=None,
        method: str = "auto",
    ) -> DataFrame:
        """IVF_FLAT search: per-query top-nprobe cells → candidate scan
        restricted to those cells → exact re-rank.  The (qid, cluster_id)
        probe table is broadcast; the train side is filtered by an IN on the
        union of probed cells first (partition pruning) and then matched
        per-query via the broadcast join.

        ``pre_filter`` (SQL string or Column over train columns) composes
        the filter-ann semantics with cell pruning: labels restrict the
        candidate scan *inside* the probed cells (both predicates reach the
        parquet scan — partition pruning + pushed filters)."""
        spark: SparkSession = indexed_train.sparkSession
        qids, qmat = _collect_queries(queries, qid_col, vec_col)
        if len(qids) == 0:
            return spark.createDataFrame([], "qid bigint, id bigint, dist double, rank int")
        probes = self.probe_lists(qmat, nprobe)

        probe_rows = [
            (int(qids[i]), [float(x) for x in qmat[i]], [int(c) for c in probes[i]])
            for i in range(len(qids))
        ]
        probe_df = spark.createDataFrame(
            probe_rows, f"qid bigint, __qvec array<double>, __cells array<int>"
        )
        all_cells = sorted({int(c) for row in probes for c in row})
        pruned = indexed_train.filter(F.col(CLUSTER_COL).isin(all_cells))
        if pre_filter is not None:
            pruned = pruned.filter(
                F.expr(pre_filter) if isinstance(pre_filter, str) else pre_filter)
        if method == "auto":
            method = "gemm" if self.metric in ("euclidean", "angular") else "expr"
        if method == "gemm":
            return self._search_gemm(pruned, qids, qmat, probes, k, vec_col, id_col)
        scored = (
            pruned.join(
                F.broadcast(probe_df),
                F.array_contains(F.col("__cells"), F.col(CLUSTER_COL)),
            )
            .select(
                "qid",
                F.col(id_col).cast("bigint").alias("id"),
                dist_fns.metric_dist(self.metric, F.col(vec_col), F.col("__qvec")).alias("dist"),
            )
        )
        return topk_window(scored, k).select("qid", "id", "dist", "rank")

    def _search_gemm(self, pruned: DataFrame, qids, qmat, probes, k, vec_col, id_col) -> DataFrame:
        """IVF candidates scored by ``knn.gemm_scan``, masked to each
        query's probed cells (the expression path's O(d) interpreted steps
        per pair made pruned IVF slower than the exact scan at 200k×256-d)."""
        t = pruned.select(
            F.col(id_col).cast("bigint").alias("id"),
            F.col(CLUSTER_COL).cast("int").alias(CLUSTER_COL),
            F.col(vec_col).alias("vec"),
        )
        return gemm_scan(t, qids, qmat, k, self.metric, self.probe_mask(probes))


def ivf_delta_report(
    index: "IVFIndex",
    base_assigned: DataFrame,
    delta_assigned: DataFrame,
    *,
    vec_col: str = "vec",
    round_to: int = 6,
) -> DataFrame:
    """Incremental-maintenance accounting for an IVF index: after a delta
    batch is assigned to the EXISTING centroids (a map-only operation — no
    refit, no reshuffle of the base; the property that lets a 100 TB index
    absorb arrivals), report per-cell occupancy and dispersion:

      (cluster_id, n_base, n_delta, mean_dist)

    mean_dist is the mean centroid distance over all resident rows — the
    drift meter an operator watches to decide when re-clustering pays.
    Engine-stable arithmetic: per-row distances use the expression L2 fold
    against the centroid literal (same fold the kNN oracles hash-match),
    rounded then accumulated in DECIMAL, one final 6-dp round — so the
    report value-oracles exactly.

    Both inputs must already carry ``cluster_id`` (``index.assign``); pass
    the base and delta separately so their counts stay distinguishable."""
    cents = F.lit([c.tolist() for c in index.centroids]).cast("array<array<double>>")
    union = base_assigned.select(
        CLUSTER_COL, vec_col, F.lit(1).alias("_is_base")
    ).unionByName(delta_assigned.select(
        CLUSTER_COL, vec_col, F.lit(0).alias("_is_base")))
    dist = dist_fns.l2_dist(
        F.col(vec_col), F.element_at(cents, F.col(CLUSTER_COL) + 1))
    scored = union.withColumn(
        "_d", F.round(dist, round_to + 3).cast("decimal(28,10)"))
    return (
        scored.groupBy(CLUSTER_COL)
        .agg(
            F.sum("_is_base").cast("bigint").alias("n_base"),
            F.sum(F.lit(1) - F.col("_is_base")).cast("bigint").alias("n_delta"),
            # exact DECIMAL sum → double once, then one double division and
            # round: decimal-division scale rules differ across engines,
            # double arithmetic on identical inputs does not
            F.round(F.sum("_d").cast("double") / F.count("*").cast("double"),
                    round_to).alias("mean_dist"),
        )
    )
