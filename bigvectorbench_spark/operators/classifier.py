"""Weak-supervision document-quality classifier — the CCNet / fastText
pattern every web-corpus pipeline ships: label a bounded sample with a
cheap heuristic (here ``functions.text.quality_score_from_tokens``),
train a linear model over hashing-trick features, then score the ENTIRE
corpus with the model — which generalizes past the heuristic's hard
thresholds and costs one expression fold per document at inference.

Spark-first layout (the fit-on-sample / apply-distributed pattern of
IVF/PQ/BQ/OPQ):

- features are ``functions.embed.hashed_embedding`` signed bucket counts —
  EXACT INTEGERS, engine-reproducible with no rounding story;
- the fit is a deterministic full-batch gradient descent in float64 numpy
  on a driver-side sample collected in ``sort_col`` order (zero init,
  fixed iterations, max-abs feature scaling folded back into the weights)
  — so an external recomputation from the SAME feature/label matrix
  reproduces the weights bit-for-bit;
- inference is pure Column arithmetic: one zip_with/aggregate dot fold
  against the literal weight vector + one sigmoid, rounded to 6 dp —
  whole-stage codegen, no Python, no shuffle.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import Column, DataFrame, functions as F

from bigvectorbench_spark.functions import embed as em
from bigvectorbench_spark.functions import text as tx

#: fit() collects one (dim+1)-wide float64 row per sampled doc.
MAX_FIT_SAMPLE_ROWS = 1_000_000


def fit_logistic_numpy(
    Xi: np.ndarray,
    y: np.ndarray,
    *,
    iters: int = 200,
    lr: float = 0.5,
    l2: float = 1e-3,
) -> tuple[np.ndarray, float]:
    """Deterministic full-batch logistic regression: zero-initialized,
    ``iters`` fixed gradient steps, L2 on weights (not bias).  Features
    are max-abs scaled internally and the scaling is folded back into the
    returned weights, so they apply directly to the RAW integer features.
    Shared verbatim with the oracle generator — identical (X, y) in,
    identical (w, b) out."""
    X = np.asarray(Xi, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    n, d = X.shape
    scale = np.maximum(np.abs(X).max(axis=0), 1.0)
    Xs = X / scale[None, :]
    w = np.zeros(d)
    b = 0.0
    for _ in range(iters):
        z = Xs @ w + b
        p = 1.0 / (1.0 + np.exp(-z))
        g = p - y
        gw = Xs.T @ g / n + l2 * w
        gb = float(g.mean())
        w -= lr * gw
        b -= lr * gb
    return w / scale, b


@dataclass
class QualityClassifier:
    """Literal weights over hashed_embedding features (+ intercept)."""

    weights: list[float]
    bias: float

    @property
    def dim(self) -> int:
        return len(self.weights)

    @classmethod
    def fit(
        cls,
        docs: DataFrame,
        *,
        text_col: str = "text",
        id_col: str = "doc_id",
        dim: int = 64,
        label: Column | None = None,
        quality_threshold: float = 0.8,
        train_filter: str | Column | None = None,
        max_sample_rows: int = MAX_FIT_SAMPLE_ROWS,
        iters: int = 200,
        lr: float = 0.5,
        l2: float = 1e-3,
    ) -> "QualityClassifier":
        """``label``: optional Column of 0/1 supervision over ``docs``;
        default = the quality_score heuristic ≥ ``quality_threshold`` (the
        corpus_curation gate value — weak supervision from the same rule
        the pipeline already trusts).  ``train_filter`` holds rows out of
        the fit (e.g. ``"doc_id % 3 != 0"``) so generalization is testable
        on the rest."""
        # bound the sample BEFORE featurizing: the limit applies to the
        # id-sorted (id, text, label) slice, so tokenization and the d-wide
        # embedding fold run on ≤ max_sample_rows rows — not corpus-wide
        # under a TakeOrdered that would featurize everything first
        base = docs.select(
            F.col(id_col).alias("_id"), F.col(text_col).alias("_text"),
            *( [label.alias("_y")] if label is not None else [] ),
        )
        if train_filter is not None:
            base = base.filter(
                F.expr(train_filter) if isinstance(train_filter, str)
                else train_filter)
        # the id-sorted cut must not SORT the text column (a TakeOrdered
        # carrying document bodies shuffles the corpus); cut on ids alone
        # and pull the sample rows back with a broadcast join
        ids = base.select("_id").orderBy("_id").limit(max_sample_rows)
        base = base.join(F.broadcast(ids), "_id")
        tk = base.withColumn("_tk", tx.tokens(F.col("_text")))
        if label is None:
            tk = tk.withColumn(
                "_y", (tx.quality_score_from_tokens(F.col("_tk"), F.col("_text"))
                       >= F.lit(quality_threshold)).cast("int"))
        th = tk.select("_id", "_y", em.token_hashes(F.col("_tk")).alias("_th"))
        feats = th.select(
            "_id", "_y", em.hashed_embedding(F.col("_th"), dim=dim).alias("_x"))
        rows = feats.orderBy("_id").collect()
        if not rows:
            raise ValueError("no training rows after train_filter")
        X = np.array([r["_x"] for r in rows], dtype=np.int64)
        y = np.array([r["_y"] for r in rows], dtype=np.int64)
        if y.min() == y.max():
            raise ValueError("degenerate supervision: all labels identical")
        w, b = fit_logistic_numpy(X, y, iters=iters, lr=lr, l2=l2)
        return cls(weights=[float(x) for x in w], bias=float(b))

    def prob_column(self, feat: Column) -> Column:
        """P(quality | features) as a Column over an ARRAY<BIGINT> feature
        column: literal-weight dot fold + sigmoid, rounded to 6 dp."""
        wlit = F.array(*[F.lit(float(w)) for w in self.weights])
        z = F.aggregate(
            F.zip_with(feat, wlit, lambda x, w: x.cast("double") * w),
            F.lit(float(self.bias)),
            lambda acc, t: acc + t,
        )
        return F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)

    def score(
        self,
        docs: DataFrame,
        *,
        text_col: str = "text",
        id_col: str = "doc_id",
        out_col: str = "quality_prob",
    ) -> DataFrame:
        """(id, prob, predicted) for every document — one tokenize + one
        fold per row, no shuffle, no Python."""
        th = docs.select(
            F.col(id_col).alias("doc_id"),
            em.token_hashes(tx.tokens(F.col(text_col))).alias("_th"))
        feats = th.select(
            "doc_id", em.hashed_embedding(F.col("_th"), dim=self.dim).alias("_x"))
        scored = feats.select(
            "doc_id", self.prob_column(F.col("_x")).alias(out_col))
        # derive the decision from the MATERIALIZED prob column — putting
        # prob_column in twice would run the d-wide fold twice per row
        return scored.select(
            "doc_id", out_col,
            (F.col(out_col) >= 0.5).cast("int").alias("predicted"))
