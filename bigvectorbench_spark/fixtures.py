"""Deterministic fixture datasets — FIXTURES.md / SURVEY §5.

Mirrors the reference's RANDOM_DATASETS registry
(/root/reference/bigvectorbench/datasets.py:810-842): seeded gaussian blobs
(random_float, datasets.py:332-340), sign-bit strings (random_bitstring,
343-352), jaccard item sets (random_jaccard, 355-366), 2-label filter
variants (random_filter, 369-409), and 4×d multi-vector sets (random_mv,
412-451).  Each generator returns (train_df, test_df) with the engine's
canonical schemas; every dataset is reproducible from (name, seed) alone so
ground truth can be regenerated and asserted bit-stable.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DEFAULT_SEED = 1  # the reference's random_state=1


def _blobs(n: int, d: int, centers: int, seed: int) -> np.ndarray:
    rng = np.random.RandomState(seed)
    C = rng.randn(centers, d) * 5.0
    idx = rng.randint(0, centers, size=n)
    return (C[idx] + rng.randn(n, d)).astype(np.float32)


def _split(X: np.ndarray, test_size: float = 0.1):
    n_test = int(len(X) * test_size)
    return X[:-n_test], X[-n_test:]


def _vec_dfs(spark, Xtr, Xte, extra_tr=None, extra_te=None, extra_schema=""):
    tr_rows = [
        (i, [float(x) for x in Xtr[i]]) + (tuple(extra_tr[i]) if extra_tr is not None else ())
        for i in range(len(Xtr))
    ]
    te_rows = [
        (i, [float(x) for x in Xte[i]]) + (tuple(extra_te[i]) if extra_te is not None else ())
        for i in range(len(Xte))
    ]
    train = spark.createDataFrame(tr_rows, f"id bigint, vec array<float>{extra_schema}")
    test = spark.createDataFrame(te_rows, f"qid bigint, vec array<float>{extra_schema}")
    return train, test


def random_float(spark: SparkSession, n: int = 10_000, d: int = 32,
                 centers: int = 100, seed: int = DEFAULT_SEED):
    """random-xs-32-euclidean analog (datasets.py:332-340): blobs, 10% test."""
    X = _blobs(n, d, centers, seed)
    Xtr, Xte = _split(X)
    return _vec_dfs(spark, Xtr, Xte)


def random_bitstring(spark: SparkSession, n: int = 10_000, d: int = 16,
                     seed: int = DEFAULT_SEED):
    """random-xs-16-hamming analog (datasets.py:343-352): sign-bits of blobs."""
    X = _blobs(n, d, max(2, d // 2), seed) > 0.0
    Xtr, Xte = _split(X)
    train = spark.createDataFrame(
        [(i, [bool(b) for b in Xtr[i]]) for i in range(len(Xtr))],
        "id bigint, vec array<boolean>")
    test = spark.createDataFrame(
        [(i, [bool(b) for b in Xte[i]]) for i in range(len(Xte))],
        "qid bigint, vec array<boolean>")
    return train, test


def random_jaccard(spark: SparkSession, n: int = 10_000, universe: int = 40,
                   set_size: int = 20, seed: int = DEFAULT_SEED):
    """random-s-jaccard analog (datasets.py:355-366): sorted distinct int
    sets of fixed size from a small universe."""
    rng = np.random.RandomState(seed)
    sets = [sorted(rng.choice(universe, size=set_size, replace=False).tolist())
            for _ in range(n)]
    tr, te = sets[: n - n // 100], sets[n - n // 100:]
    train = spark.createDataFrame(
        [(i, [int(x) for x in tr[i]]) for i in range(len(tr))], "id bigint, vec array<int>")
    test = spark.createDataFrame(
        [(i, [int(x) for x in te[i]]) for i in range(len(te))], "qid bigint, vec array<int>")
    return train, test


def random_filter(spark: SparkSession, n: int = 10_000, d: int = 32,
                  n_labels: int = 2, seed: int = DEFAULT_SEED):
    """random-xs-32-euclidean-2filter analog (datasets.py:369-409): uniform
    int labels in [0,100); the canonical predicate template is the
    conjunction ``label_i <= {label_i}`` (datasets.py:385-394)."""
    X = _blobs(n, d, 100, seed)
    rng = np.random.RandomState(seed + 1)
    labels = rng.randint(0, 100, size=(n, n_labels))
    Xtr, Xte = _split(X)
    Ltr, Lte = labels[: len(Xtr)], labels[len(Xtr):]
    schema = "".join(f", label_{i} int" for i in range(n_labels))
    train, test = _vec_dfs(
        spark, Xtr, Xte,
        extra_tr=[[int(v) for v in row] for row in Ltr],
        extra_te=[[int(v) for v in row] for row in Lte],
        extra_schema=schema,
    )
    template = " and ".join(f"label_{i} <= {{label_{i}}}" for i in range(n_labels))
    return train, test, template


def random_filter_ratio(spark: SparkSession, n: int = 10_000, d: int = 32,
                        n_filters: int = 1, max_labels: int = 10_000,
                        ratio: float = 0.01, m_test: int = 1_000,
                        centers: int = 100, seed: int = DEFAULT_SEED):
    """Ratio-parameterized filter dataset — the reference's controlled
    filter-ratio *creation* path (create_artificial_datasets.py:286-520):
    blobs; per-filter uniform int train labels at
    staggered magnitudes (``max_labels / 10^i``, the reference's range_set
    ladder); per-query RANGES whose widths target the requested keep
    ``ratio`` — the deterministic "average" decomposition (generate_type=
    'average': every filter contributes ratio^(1/n_filters)); template =
    the reference's conjunction of per-filter BETWEENs.

    Returns (train, test, template, param_cols).  train: (id, vec,
    label_0..); test: (qid, vec, label_l_0, label_r_0, ..).  The realized
    per-query selectivity concentrates around ``ratio`` (uniform labels ×
    fixed-width ranges); `scripts/create_filter_dataset.py` measures and
    reports it next to the request, which is the property the reference's
    amazon-5filter study (0.01-1% ratios) depends on."""
    if not (0.0 < ratio <= 1.0):
        raise ValueError(f"ratio must be in (0,1], got {ratio}")
    if m_test >= n:
        raise ValueError("m_test must be < n")
    X = _blobs(n, d, centers, seed)
    Xtr, Xte = X[:-m_test], X[-m_test:]
    rng = np.random.RandomState(seed + 1)

    # staggered per-filter label magnitudes (range_set ladder: 1, 10, 100 …
    # capped so every filter keeps >= max/1000 distinct values)
    maxes = []
    step = 1
    for _ in range(n_filters):
        maxes.append(max(2, max_labels // step))
        if step < max_labels / 1000:
            step *= 10
    Ltr = np.stack([rng.randint(0, m, size=len(Xtr)) for m in maxes], axis=1)

    per_filter = ratio ** (1.0 / n_filters)
    lo_cols, hi_cols = [], []
    for j, m in enumerate(maxes):
        width = max(1, int(round(m * per_filter)))
        left = rng.randint(0, max(1, m - width), size=m_test)
        lo_cols.append(left)
        hi_cols.append(left + width - 1)   # inclusive BETWEEN of `width` values

    tr_rows = [(i, [float(x) for x in Xtr[i]], *[int(v) for v in Ltr[i]])
               for i in range(len(Xtr))]
    te_rows = [(i, [float(x) for x in Xte[i]],
                *[int(c[i]) for j in range(n_filters)
                  for c in (lo_cols[j], hi_cols[j])])
               for i in range(m_test)]
    tr_schema = "id bigint, vec array<float>" + "".join(
        f", label_{j} int" for j in range(n_filters))
    te_schema = "qid bigint, vec array<float>" + "".join(
        f", label_l_{j} int, label_r_{j} int" for j in range(n_filters))
    train = spark.createDataFrame(tr_rows, tr_schema)
    test = spark.createDataFrame(te_rows, te_schema)
    template = " and ".join(
        f"label_{j} >= {{label_l_{j}}} and label_{j} <= {{label_r_{j}}}"
        for j in range(n_filters))
    param_cols = [c for j in range(n_filters)
                  for c in (f"label_l_{j}", f"label_r_{j}")]
    return train, test, template, param_cols


def random_mv(spark: SparkSession, n: int = 10_000, v: int = 4, d: int = 100,
              seed: int = DEFAULT_SEED):
    """random-mv analog (datasets.py:412-451): v uniform vectors per entity;
    ground-truth score = mean of per-position euclidean distances."""
    rng = np.random.RandomState(seed)
    X = rng.rand(n, v, d).astype(np.float32)
    Xtr, Xte = _split(X)
    train = spark.createDataFrame(
        [(i, [[float(x) for x in vec] for vec in Xtr[i]]) for i in range(len(Xtr))],
        "id bigint, vecs array<array<float>>")
    test = spark.createDataFrame(
        [(i, [[float(x) for x in vec] for vec in Xte[i]]) for i in range(len(Xte))],
        "qid bigint, vecs array<array<float>>")
    return train, test


def random_text(spark: SparkSession, n: int = 4_000, vocab: int = 2_000,
                alpha: float = 1.1, seed: int = DEFAULT_SEED):
    """Zipf text corpus for the sparse (SPARSE_FLOAT_VECTOR-analog) grid:
    word i drawn with probability ∝ 1/(i+1)^alpha from a ``vocab``-word
    vocabulary, doc lengths uniform in [30, 120) — so the df spectrum has
    the stopword head impact pruning is built for.  1% of docs become
    EXTERNAL text queries (they are removed from the corpus).
    Returns (train(id, text), test(qid, text))."""
    rng = np.random.RandomState(seed)
    p = 1.0 / np.power(np.arange(1, vocab + 1), alpha)
    p /= p.sum()
    lens = rng.randint(30, 120, size=n)
    docs = [" ".join(f"w{w:04d}" for w in rng.choice(vocab, size=l, p=p))
            for l in lens]
    tr, te = docs[: n - n // 100], docs[n - n // 100:]
    train = spark.createDataFrame(
        list(enumerate(tr)), "id bigint, text string")
    test = spark.createDataFrame(
        list(enumerate(te)), "qid bigint, text string")
    return train, test


def sf_documents_text(spark: SparkSession, sf_dir: str | None = None,
                      query_mod: int = 100):
    """The driver testdata `documents` table as a text benchmark dataset
    (the sparse family's Pareto points on the same corpus the declared
    queries run): every ``query_mod``-th doc becomes
    an EXTERNAL query (removed from the corpus, weighed under corpus
    statistics by the sparse runner), the rest are the train corpus.
    ``sf_dir`` defaults to $SPARK_GRAFT_SF_DIR (the bench contract's
    sf0.1)."""
    import os

    sf_dir = sf_dir or os.environ.get("SPARK_GRAFT_SF_DIR",
                                      "/root/testdata/sf0.1")
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    is_q = (F.col("doc_id") % query_mod == 0)
    train = docs.filter(~is_q).select(F.col("doc_id").alias("id"), "text")
    test = docs.filter(is_q).select(F.col("doc_id").alias("qid"), "text")
    return train, test


REGISTRY = {
    "random-xs-32-euclidean": lambda spark: random_float(spark, 10_000, 32),
    "random-xs-20-angular": lambda spark: random_float(spark, 10_000, 20),
    "random-xs-16-hamming": lambda spark: random_bitstring(spark, 10_000, 16),
    "random-s-jaccard": lambda spark: random_jaccard(spark, 10_000),
    "random-xs-32-euclidean-2filter": lambda spark: random_filter(spark, 10_000, 32, 2),
    "random-mv": lambda spark: random_mv(spark, 10_000, 4, 100),
    "random-s-text-zipf": lambda spark: random_text(spark, 4_000, 2_000),
    "sf-documents-text": sf_documents_text,
}
