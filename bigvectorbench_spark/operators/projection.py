"""Dimensionality reduction for embedding tables: Johnson-Lindenstrauss
random projection (dense Gaussian, 1/√k scaling).

Embedding compression is a standard scale lever for 100 TB vector tables:
a 64→16 projection cuts scan bandwidth and distance-kernel FLOPs 4× while
JL guarantees pairwise-distance distortion bounds — the cheap counterpart
to PQ when quantization error must stay *linear* (no codebook fit, no
training pass; the matrix is seed-derived and needs no data).

Two physical paths, same math:

- ``method="expr"``: the projection matrix is a literal Column and each
  output coordinate is a ``zip_with``+``aggregate`` fold — stays in
  Catalyst, and the left-to-right double fold is reproducible in any
  engine, so projected values (and kNN over them) oracle-check exactly.
- ``method="gemm"``: one numpy ``X @ P.T`` per Arrow batch via
  ``mapInArrow`` — the scale path (BLAS, zero-copy list buffers), bit-
  equal to expr up to float-summation order (~1e-13 at d=64); tests pin
  the two paths to 1e-9.

No reference analog (the reference's dimensionality choices are dataset
properties); part of the similarity-search extension surface.
"""

from __future__ import annotations

from typing import Optional

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bigvectorbench_spark.operators.knn import arrow_rows


def projection_matrix(in_dim: int, out_dim: int, seed: int = 1) -> np.ndarray:
    """(out_dim, in_dim) Gaussian JL matrix, rows scaled by 1/√out_dim so
    expected pairwise distances are preserved."""
    rng = np.random.RandomState(seed)
    return rng.randn(out_dim, in_dim) / np.sqrt(out_dim)


def project(
    df: DataFrame,
    *,
    id_col: str = "id",
    vec_col: str = "vec",
    out_dim: int = 16,
    in_dim: Optional[int] = None,
    seed: int = 1,
    method: str = "expr",
    round_to: Optional[int] = None,
) -> DataFrame:
    """(id, vec ARRAY<DOUBLE>) with vec projected to ``out_dim`` dims.

    ``round_to`` rounds projected coordinates (apply when downstream
    comparisons must be engine-stable — e.g. before distance ranking in an
    oracle-checked query)."""
    if in_dim is None:
        first = df.select(F.size(vec_col).alias("d")).first()
        if first is None:
            raise ValueError("empty input and no in_dim given")
        in_dim = first["d"]
    M = projection_matrix(in_dim, out_dim, seed)

    if method == "expr":
        mat = F.lit([[float(x) for x in row] for row in M])
        v = F.col(vec_col)
        proj = F.transform(
            mat,
            lambda row: F.aggregate(
                F.zip_with(v, row, lambda a, b: a.cast("double") * b),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        )
        if round_to is not None:
            proj = F.transform(proj, lambda x: F.round(x, round_to))
        return df.select(F.col(id_col).alias("id"), proj.alias("vec"))

    if method != "gemm":
        raise ValueError(f"unknown method {method!r}")

    bc = df.sparkSession.sparkContext.broadcast(M)
    rt = round_to

    def _proj(batches):
        import pyarrow as pa

        P = bc.value
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            ids = batch.column("id").to_numpy()
            X = arrow_rows(batch.column("vec"))
            Y = X @ P.T
            if rt is not None:
                Y = np.round(Y, rt)
            yield pa.RecordBatch.from_pydict({
                "id": pa.array(ids, pa.int64()),
                "vec": pa.FixedSizeListArray.from_arrays(
                    pa.array(Y.ravel(), pa.float64()), P.shape[0]
                ).cast(pa.list_(pa.float64())),
            })

    narrowed = df.select(F.col(id_col).cast("bigint").alias("id"), F.col(vec_col).alias("vec"))
    return narrowed.mapInArrow(_proj, schema="id bigint, vec array<double>")
