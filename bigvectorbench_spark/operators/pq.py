"""Product quantization (PQ) with asymmetric-distance scoring — the PQ
capability of SURVEY §2.7 (the reference benchmarks IVF_PQ via its backend
engines, milvus/module.py:567-713) expressed Spark-first.

Layout: each d-dim float vector is split into ``m`` contiguous subvectors of
``d/m`` dims; each subvector is replaced by the id of its nearest centroid in
a per-subspace codebook of ``ksub`` entries.  The stored column is
``ARRAY<SMALLINT>`` of length m — for d=1536 float32 and m=96 that is a 64×
storage/bandwidth reduction, which is what makes a 100 TB corpus scannable.

Search is ADC (asymmetric distance computation): the *query* stays full
precision; per query a (m × ksub) lookup table of subspace distances is built
once on the driver (tiny: m·ksub doubles), broadcast, and each train row's
approximate distance is the sum of m table lookups — no float vectors are
read at all.  The scan is ``knn.topk_scan``.

Codebooks are fit driver-side on a bounded sample (the standard fit-on-sample
/ assign-distributed pattern, same as IVFIndex.fit).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, ShortType, StructField, StructType

from bigvectorbench_spark.operators.knn import (
    CLUSTER_COL, _collect_queries, arrow_rows, topk_scan, topk_window, unit_rows)
from bigvectorbench_spark.operators.similarity import _kmeans_pp

_OUT_SCHEMA = "qid bigint, id bigint, dist double, rank int"


@dataclass
class PQIndex:
    """Per-subspace codebooks: (m, ksub, dsub) float64.  ``metric`` is
    'euclidean' (L2 ADC) or 'angular' (vectors unit-normalized at fit/encode
    time; ADC sums inner products, dist = 1 − Σ ip)."""

    codebooks: np.ndarray
    metric: str = "euclidean"

    # ---- build -----------------------------------------------------------
    @classmethod
    def fit(
        cls,
        train: DataFrame,
        *,
        vec_col: str = "vec",
        m: int = 8,
        ksub: int = 256,
        metric: str = "euclidean",
        seed: int = 1,
        max_iter: int = 15,
        max_sample_rows: int = 100_000,
        engine: str = "auto",
        sort_col: str | None = None,
    ) -> "PQIndex":
        """``engine``: where the m independent per-subspace kmeans fits run.
        'driver' = sequential numpy; 'spark' = one task per subspace over a
        broadcast of the sample (the m fits are embarrassingly parallel and
        memory-bandwidth-bound, so driver threads plateau at ~4×; executor
        tasks scale with the cluster and keep the driver free).  'auto'
        switches to spark when the per-fit work is large enough to amortize
        the broadcast.  Both engines produce bit-identical codebooks (same
        sample, same per-subspace seed)."""
        if metric not in ("euclidean", "angular"):
            raise ValueError(f"PQ supports euclidean/angular, not {metric!r}")
        if engine not in ("auto", "driver", "spark"):
            raise ValueError(f"unknown engine {engine!r}")
        # sort_col: same reproducibility guard as IVFIndex.fit — kmeans++
        # seeding is row-order dependent, so pin the sample order when an
        # external recomputation must reproduce the codebooks.
        if sort_col is not None:
            train = train.orderBy(sort_col)
        rows = train.select(vec_col).limit(max_sample_rows).collect()
        X = np.array([r[0] for r in rows], dtype=np.float64)
        if X.ndim != 2 or X.shape[0] < ksub:
            raise ValueError(f"{X.shape[0] if X.ndim == 2 else 0} sample rows < ksub={ksub}")
        d = X.shape[1]
        if d % m != 0:
            raise ValueError(f"d={d} not divisible by m={m}")
        if metric == "angular":
            X = unit_rows(X)
        dsub = d // m
        if engine == "auto":
            # rows·ksub·d ~ total argmin work across all m fits; below ~2e8
            # the job-dispatch overhead exceeds the fit itself
            engine = "spark" if len(X) * ksub * d >= 2e8 and m > 1 else "driver"
        if engine == "spark":
            books = _fit_books_spark(train.sparkSession, X, m, dsub, ksub, seed, max_iter)
        else:
            books = np.stack([
                _kmeans_pp(X[:, j * dsub:(j + 1) * dsub], ksub, seed + j, max_iter)
                for j in range(m)
            ])
        return cls(codebooks=books, metric=metric)

    @property
    def m(self) -> int:
        return self.codebooks.shape[0]

    @property
    def ksub(self) -> int:
        return self.codebooks.shape[1]

    @property
    def dsub(self) -> int:
        return self.codebooks.shape[2]

    # ---- persistence (index artifact, shareable across jobs) -------------
    def save(self, spark: SparkSession, path: str) -> None:
        rows = [
            (j, c, [float(x) for x in self.codebooks[j, c]], self.metric)
            for j in range(self.m)
            for c in range(self.ksub)
        ]
        spark.createDataFrame(
            rows, "subspace int, code int, centroid array<double>, metric string"
        ).coalesce(1).write.mode("overwrite").parquet(path)

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "PQIndex":
        rows = spark.read.parquet(path).orderBy("subspace", "code").collect()
        if not rows:
            raise ValueError(f"no codebooks at {path}")
        m = rows[-1]["subspace"] + 1
        ksub = rows[-1]["code"] + 1
        books = np.array([r["centroid"] for r in rows], dtype=np.float64).reshape(
            m, ksub, -1)
        return cls(codebooks=books, metric=rows[0]["metric"])

    # ---- encode (index build: one narrow map, no shuffle) ----------------
    def encode(self, df: DataFrame, *, vec_col: str = "vec", out_col: str = "codes") -> DataFrame:
        """Append ``out_col: ARRAY<SMALLINT>`` (length m) — nearest codebook
        entry per subspace, via one GEMM per (batch × subspace).  All input
        columns are preserved; callers typically drop the float column
        afterwards for the ~(4·dsub)× storage win."""
        import pyarrow as pa

        books = self.codebooks
        metric = self.metric
        m, _, dsub = books.shape
        bc = df.sparkSession.sparkContext.broadcast(books)
        # StructType.add mutates in place — build a fresh StructType instead.
        out_schema = StructType(
            list(df.schema.fields) + [StructField(out_col, ArrayType(ShortType()))]
        )
        vec_idx = df.columns.index(vec_col)

        def fn(batches):
            b = bc.value
            # ‖c‖² per subspace, precomputed once per task: (m, ksub)
            c2 = (b * b).sum(axis=2)
            for batch in batches:
                n = batch.num_rows
                if n == 0:
                    continue
                X = arrow_rows(batch.column(vec_idx))
                if metric == "angular":
                    X = unit_rows(X)
                X = X.reshape(n, m, dsub)
                codes = np.empty((n, m), dtype=np.int16)
                for j in range(m):
                    S = X[:, j, :]
                    d2 = (S * S).sum(1)[:, None] - 2.0 * (S @ b[j].T) + c2[j][None, :]
                    codes[:, j] = d2.argmin(axis=1).astype(np.int16)
                yield pa.RecordBatch.from_arrays(
                    [*batch.columns,
                     pa.FixedSizeListArray.from_arrays(
                         pa.array(codes.ravel(), pa.int16()), m).cast(pa.list_(pa.int16()))],
                    schema=pa.schema(
                        [batch.schema.field(i) for i in range(batch.num_columns)]
                        + [pa.field(out_col, pa.list_(pa.int16()))]
                    ),
                )

        return df.mapInArrow(fn, schema=out_schema)

    def decode(self, codes: np.ndarray) -> np.ndarray:
        """Reconstruct approximations from an (n, m) code matrix (test /
        error-analysis helper; never used in the search path)."""
        n = codes.shape[0]
        out = np.empty((n, self.m * self.dsub), dtype=np.float64)
        for j in range(self.m):
            out[:, j * self.dsub:(j + 1) * self.dsub] = self.codebooks[j][codes[:, j]]
        return out

    # ---- search (ADC) ----------------------------------------------------
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
        """ADC top-k over the coded table.  ``pre_filter`` (SQL string or
        Column over ``encoded`` columns) composes filtered-ANN semantics —
        it is applied before scoring so Catalyst pushes it into the scan.

        ``refine_train``: when given, ADC overfetches ``k·overfetch``
        candidates per query and re-ranks them with exact distances read
        from this table (joined by id — a broadcast semi-join, so the float
        vectors of only the ~q·k·overfetch candidates are ever touched).
        This is the standard PQ-then-refine pipeline: ADC never reads float
        data, refine reads a few thousand rows of it."""
        spark = encoded.sparkSession
        qids, qmat = _collect_queries(queries, qid_col, query_vec_col)
        if len(qids) == 0:
            return spark.createDataFrame([], _OUT_SCHEMA)
        if qmat.shape[1] != self.m * self.dsub:
            raise ValueError(
                f"query d={qmat.shape[1]} != index d={self.m * self.dsub}")
        if pre_filter is not None:
            encoded = encoded.filter(
                F.expr(pre_filter) if isinstance(pre_filter, str) else pre_filter)
        k_adc = k * overfetch if refine_train is not None else k
        t = encoded.select(
            F.col(id_col).cast("bigint").alias("id"), F.col(codes_col).alias("codes"))
        adc = self._adc_scan(t, qids, qmat, k_adc)
        if refine_train is None:
            return adc
        return self._refine(adc, refine_train, queries, k,
                            refine_vec_col, id_col, qid_col, query_vec_col)

    def _adc_scan(self, frame: DataFrame, qids, qmat, k: int, member=None) -> DataFrame:
        """``knn.topk_scan`` scored by LUT gathers over ``frame.codes``.
        LUT[j, c, q] is the subspace L2² (euclidean) or inner product of
        the unit query (angular): m·ksub·nq doubles, built once and
        broadcast (for m=96, ksub=256, 10k queries: ~2 GB worst case;
        typical benchmark query sets are ≤10k and m ≤ 64)."""
        metric, m = self.metric, self.m
        Qs = (unit_rows(qmat) if metric == "angular" else qmat).reshape(len(qids), m, self.dsub)
        if metric == "euclidean":
            lut = np.stack([
                ((self.codebooks[j][:, None, :] - Qs[None, :, j, :]) ** 2).sum(axis=2)
                for j in range(m)
            ])  # (m, ksub, nq)
        else:
            lut = np.stack([self.codebooks[j] @ Qs[:, j, :].T for j in range(m)])

        def score(batch, b_lut):
            codes = arrow_rows(batch.column("codes"), np.int64)
            acc = np.zeros((len(codes), b_lut.shape[2]), dtype=np.float64)
            for j in range(m):
                acc += b_lut[j][codes[:, j], :]
            return np.sqrt(np.maximum(acc, 0.0)) if metric == "euclidean" else 1.0 - acc

        return topk_scan(frame, {"qid": qids}, k, score, state=lut, member=member)

    def _refine(self, cand, train, queries, k, vec_col, id_col, qid_col, qvec_col) -> DataFrame:
        """Exact re-rank of the ADC candidates: broadcast the (qid, id) pairs
        against the float table, score with the Column kernels."""
        from bigvectorbench_spark.functions import distance as dist_fns

        vecs = train.select(
            F.col(id_col).cast("bigint").alias("id"), F.col(vec_col).alias("_tvec"))
        q = queries.select(
            F.col(qid_col).cast("bigint").alias("qid"), F.col(qvec_col).alias("_qvec"))
        scored = (
            F.broadcast(cand.select("qid", "id"))
            .join(vecs, "id")
            .join(F.broadcast(q), "qid")
            .select("qid", "id",
                    dist_fns.metric_dist(self.metric, F.col("_tvec"), F.col("_qvec")).alias("dist"))
        )
        return topk_window(scored, k).select("qid", "id", "dist", "rank")


def pq_delta_report(
    index: "PQIndex",
    base_encoded: DataFrame,
    delta_encoded: DataFrame,
    *,
    vec_col: str = "vec",
    codes_col: str = "codes",
    round_to: int = 6,
) -> DataFrame:
    """Incremental-maintenance accounting for a PQ index — the family
    convention `similarity.ivf_delta_report` / `sparse_delta_report` /
    `hnsw.hnsw_delta_report` set, in PQ's drift quantity: QUANTIZATION
    DISTORTION under frozen codebooks.  Arrivals encode with the BASE-fit
    codebooks (``PQIndex.encode`` is map-only — no refit, no reshuffle of
    the stored codes; the property that lets a 100 TB code table absorb
    arrivals), but a shifted arrival distribution quantizes WORSE than
    the data the books were fit on.  One row:

      (n_base, n_delta, mean_qerr_base, mean_qerr_delta, qerr_drift)

    mean_qerr is the mean squared reconstruction error
    ‖x − decode(encode(x))‖² per side; qerr_drift = delta/base is the
    rebuild-on-evidence signal (re-fit the codebooks when arrivals
    distort materially worse than residents).  Engine-stable arithmetic
    (the ivf_delta_report discipline): reconstruction is an expression
    fold against the codebook LITERAL (element_at per code), per-row
    errors round to ``round_to+3`` dp and accumulate in DECIMAL, means
    round once to ``round_to`` dp — so the report value-oracles exactly
    against an external recomputation of the same build.  Reference
    analog: index build/rebuild cost accounting, runner.py:446-489.

    Both inputs must already carry ``codes_col`` (``index.encode``); pass
    base and delta separately so their populations stay distinguishable."""
    from bigvectorbench_spark.functions import distance as dist_fns

    books_lit = F.lit(
        [[list(map(float, c)) for c in index.codebooks[j]]
         for j in range(index.m)]
    ).cast("array<array<array<double>>>")
    union = base_encoded.select(
        vec_col, codes_col, F.lit(1).alias("_is_base")
    ).unionByName(delta_encoded.select(
        vec_col, codes_col, F.lit(0).alias("_is_base")))
    recon = F.flatten(F.transform(
        F.col(codes_col),
        lambda c, j: F.element_at(
            F.element_at(books_lit, j + F.lit(1)), c.cast("int") + F.lit(1))))
    err = dist_fns.l2_sq(F.col(vec_col).cast("array<double>"), recon)
    scored = union.withColumn(
        "_e", F.round(err, round_to + 3).cast("decimal(28,10)"))
    return scored.agg(
        F.sum("_is_base").cast("bigint").alias("n_base"),
        F.sum(F.lit(1) - F.col("_is_base")).cast("bigint").alias("n_delta"),
        F.round(F.sum(F.when(F.col("_is_base") == 1, F.col("_e")))
                .cast("double") / F.sum("_is_base").cast("double"),
                round_to).alias("mean_qerr_base"),
        F.round(F.sum(F.when(F.col("_is_base") == 0, F.col("_e")))
                .cast("double")
                / F.sum(F.lit(1) - F.col("_is_base")).cast("double"),
                round_to).alias("mean_qerr_delta"),
    ).withColumn(
        "qerr_drift",
        F.round(F.col("mean_qerr_delta") / F.col("mean_qerr_base"),
                round_to))


def ivfpq_search(
    ivf,
    pq: PQIndex,
    indexed_encoded: DataFrame,
    queries: DataFrame,
    k: int = 10,
    *,
    nprobe: int | str = 4,
    codes_col: str = "codes",
    query_vec_col: str = "vec",
    id_col: str = "id",
    qid_col: str = "qid",
    pre_filter=None,
    refine_train: DataFrame | None = None,
    refine_vec_col: str = "vec",
    overfetch: int = 4,
) -> DataFrame:
    """IVF_PQ composition (the reference's workhorse index family,
    milvus/module.py:567-620): IVF cell pruning bounds WHICH rows are
    scanned (partition pruning when the table is written partitioned by
    cluster_id), PQ ADC bounds WHAT is read per row (m smallint codes, no
    float vectors).  The ADC scan masks rows to the queries that probe
    their cell (``knn.topk_scan``).

    ``indexed_encoded`` must carry both ``cluster_id`` (ivf.assign) and
    ``codes_col`` (pq.encode).  Optional exact refine as in PQIndex.search.
    """
    spark = indexed_encoded.sparkSession
    qids, qmat = _collect_queries(queries, qid_col, query_vec_col)
    if len(qids) == 0:
        return spark.createDataFrame([], _OUT_SCHEMA)
    probes = ivf.probe_lists(qmat, nprobe)
    all_cells = sorted({int(c) for row in probes for c in row})
    pruned = indexed_encoded.filter(F.col(CLUSTER_COL).isin(all_cells))
    if pre_filter is not None:
        pruned = pruned.filter(
            F.expr(pre_filter) if isinstance(pre_filter, str) else pre_filter)
    k_adc = k * overfetch if refine_train is not None else k
    t = pruned.select(
        F.col(id_col).cast("bigint").alias("id"),
        F.col(CLUSTER_COL).cast("int").alias(CLUSTER_COL),
        F.col(codes_col).alias("codes"),
    )
    adc = pq._adc_scan(t, qids, qmat, k_adc, ivf.probe_mask(probes))
    if refine_train is None:
        return adc
    return pq._refine(adc, refine_train, queries, k,
                      refine_vec_col, id_col, qid_col, query_vec_col)


def _fit_books_spark(
    spark: SparkSession, X: np.ndarray, m: int, dsub: int, ksub: int,
    seed: int, max_iter: int,
) -> np.ndarray:
    """Fan the m per-subspace kmeans fits out as one Spark task each over a
    broadcast of the (already-bounded) sample.  On a cluster this is how
    codebook training should run anyway: the driver never burns m × fit-time,
    and adding executors shortens the build."""
    bc = spark.sparkContext.broadcast(np.ascontiguousarray(X))

    def fit_one(batches):
        import pandas as pd
        Xb = bc.value
        for pdf in batches:
            js = [int(j) for j in pdf["j"]]
            cents = [
                _kmeans_pp(Xb[:, j * dsub:(j + 1) * dsub], ksub, seed + j, max_iter)
                .ravel().tolist()
                for j in js
            ]
            yield pd.DataFrame({"j": js, "cent": cents})

    rows = (
        spark.range(0, m, 1, m).withColumnRenamed("id", "j")
        .mapInPandas(fit_one, schema="j bigint, cent array<double>")
        .collect()
    )
    bc.unpersist()
    return np.stack([
        np.array(r["cent"], dtype=np.float64).reshape(ksub, dsub)
        for r in sorted(rows, key=lambda r: r["j"])
    ])

