"""Feature-hashing text embeddings (Weinberger et al. 2009, "Feature
Hashing for Large Scale Multitask Learning"): deterministic, training-free
document vectors built entirely from Column expressions — the hashing-trick
featurizer pipelines use when a learned encoder is unavailable or when the
embedding step itself must be engine-reproducible.

Each token lands in bucket ``portable_hash60(w) % d`` with a +/-1 sign from
the next hash bit; a document's vector is the signed bucket-count
histogram — exact integers any engine reproduces bit-for-bit.

Scale shape: one md5 per token (materialized before the fold — the HOF
re-evaluation trap), then a d-wide arithmetic fold per document inside
whole-stage codegen.  No shuffle, no Python; the output column feeds the
existing kNN / dedup / SemDeDup operators directly, closing the
documents -> vectors -> ANN loop inside the engine."""

from __future__ import annotations

from pyspark.sql import Column, functions as F

from bigvectorbench_spark.functions import text as tx

__all__ = ["token_hashes", "hashed_embedding"]


def token_hashes(tk: Column) -> Column:
    """portable_hash60 per token.  MATERIALIZE this in its own select
    before calling hashed_embedding — the d-wide fold references its
    input once per component, and a non-materialized hash expression
    would re-run every md5 dim times (the HOF re-evaluation trap; first
    measured here as a 6x slowdown at dim=64)."""
    return F.transform(tk, lambda w: tx.portable_hash60(w))


def hashed_embedding(th: Column, *, dim: int = 64) -> Column:
    """ARRAY<BIGINT> signed bucket counts from a MATERIALIZED token-hash
    column (token_hashes): v[j] = Σ_tokens (+1 | -1)[hash bit log2(d)]
    over tokens with hash % dim == j.  Exact integer arithmetic —
    engine-portable with no rounding story at all."""
    if dim & (dim - 1):
        raise ValueError("dim must be a power of two (bucket + sign bits "
                         "come from hash bit fields)")
    shift = dim.bit_length() - 1
    # ONE fold over the tokens with an array accumulator — not a
    # per-component transform of dim aggregates.  The per-component form
    # puts `th` inside the outer lambda, and CollapseProject inlines a
    # single-referenced alias into it, re-evaluating every md5 dim times
    # (measured 19.1s vs 3.2s at sf0.1).  As the aggregate's INPUT, th
    # is evaluated once per row wherever Catalyst inlines it.  The sign
    # bit is read with shiftright, NOT floor(h / dim): h is up to 2^60
    # and a double division would lose bits above 2^53.
    zeros = F.array_repeat(F.lit(0).cast("bigint"), dim)
    return F.aggregate(
        th,
        zeros,
        lambda acc, h: F.zip_with(
            acc,
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda x, j: x + F.when(
                F.pmod(h, F.lit(dim)) == j,
                F.when(F.pmod(F.shiftright(h, shift), 2) == 0, F.lit(1))
                .otherwise(F.lit(-1)),
            ).otherwise(F.lit(0)),
        ),
    )
