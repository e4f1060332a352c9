"""Dimensionality reduction for embedding tables: Johnson-Lindenstrauss
random projection (dense Gaussian, 1/√k scaling).

Embedding compression is a standard scale lever for 100 TB vector tables:
a 64→16 projection cuts scan bandwidth and distance-kernel FLOPs 4× while
JL guarantees pairwise-distance distortion bounds — the cheap counterpart
to PQ when quantization error must stay *linear* (no codebook fit, no
training pass; the matrix is seed-derived and needs no data).

The projection matrix is a literal Column and each output coordinate is
a ``zip_with``+``aggregate`` fold — it stays in Catalyst, and the
left-to-right double fold is reproducible in any engine, so projected
values (and kNN over them) oracle-check exactly.

No reference analog (the reference's dimensionality choices are dataset
properties); part of the similarity-search extension surface.
"""

from __future__ import annotations

from typing import Optional

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


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
