"""Metrics pipeline — SURVEY.md §2.6 A4-A9, reference plotting/metrics.py.

Everything is a DataFrame aggregation; the whole reference metrics layer
(recall, QPS, latency percentiles, Pareto frontier) is ~one Spark job over
the joined results⨯groundtruth table (SURVEY §3.3).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

PAD_ID = -1

DEFAULT_PERCENTILES = (0.5, 0.9, 0.95, 0.99, 0.999)  # plotting/metrics.py:61-108


def recall_per_query(run: DataFrame, truth: DataFrame, *, run_col: str = "neighbors",
                     truth_col: str = "neighbors") -> DataFrame:
    """Recall@k per query (plotting/metrics.py:6-26):
    |truth∩run − {−1}| / |truth − {−1}|, defaulting to 1.0 when the truth
    list is empty (filtered queries can legitimately have no neighbors)."""
    r = run.select("qid", F.array_remove(F.col(run_col), PAD_ID).alias("_run"))
    t = truth.select("qid", F.array_remove(F.col(truth_col), PAD_ID).alias("_truth"))
    j = t.join(r, "qid", "left").select(
        "qid",
        F.when(F.size("_truth") == 0, F.lit(1.0))
        .otherwise(
            F.size(F.array_intersect("_truth", F.coalesce("_run", F.lit([]).cast("array<bigint>"))))
            / F.size("_truth").cast("double")
        )
        .alias("recall"),
    )
    return j


def latency_percentiles(
    times: DataFrame,
    time_col: str = "latency",
    percentiles: Sequence[float] = DEFAULT_PERCENTILES,
) -> DataFrame:
    """Exact percentiles × 1000 ms (plotting/metrics.py:61-108 uses
    np.percentile = linear interpolation; Spark's ``percentile`` matches)."""
    pct = F.percentile(F.col(time_col), F.lit(list(percentiles)))
    df = times.agg(pct.alias("_p"))
    cols = [
        (F.element_at("_p", i + 1) * 1000).alias(f"p{str(p).replace('0.', '')}")
        for i, p in enumerate(percentiles)
    ]
    return df.select(*cols)


def pareto_frontier(points: DataFrame, x: str, y: str) -> DataFrame:
    """Pareto frontier (plotting/utils.py:16-38): sort by (−y, −x), keep a
    point iff its x strictly improves the running best.  Single window scan —
    at 100 TB the *inputs* here are already per-run aggregates (tiny)."""
    w = Window.orderBy(F.col(y).desc(), F.col(x).desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    return (
        points.withColumn("_best", F.max(x).over(w))
        .filter(F.col("_best").isNull() | (F.col(x) > F.col("_best")))
        .drop("_best")
    )


def approx_quantile_buckets(
    df: DataFrame,
    col: str,
    *,
    n_buckets: int = 10,
    accuracy: int = 10_000,
    out_col: str = "bucket",
) -> DataFrame:
    """Tag every row with an approximate quantile bucket (1..n_buckets) —
    the 100 TB replacement for global ``ntile``.

    ``ntile`` needs a single global ordering (one window partition, one
    core, all rows).  This plan instead computes the n_buckets−1 quantile
    thresholds with ``percentile_approx`` (one map-side-combined aggregate,
    KLL-sketch sized O(accuracy)) and tags each row by comparison against
    the broadcast threshold array — embarrassingly parallel, no global
    sort, rank error bounded by n/accuracy per threshold.

    Semantics vs ntile: rows equal to a threshold land in the LOWER bucket
    (strict ``>`` comparison), so exact ties never straddle buckets —
    bucket sizes are equal up to tie mass + sketch rank error, while ntile
    splits ties arbitrarily to force exact equality of counts."""
    probs = [i / n_buckets for i in range(1, n_buckets)]
    th = df.agg(
        F.percentile_approx(F.col(col), F.lit(probs), F.lit(accuracy)).alias("_th"))
    tagged = df.crossJoin(F.broadcast(th)).withColumn(
        out_col,
        (F.lit(1) + F.size(F.filter("_th", lambda t: F.col(col) > t))).cast("bigint"),
    )
    return tagged.drop("_th")


def cm_watchlist_report(
    docs: DataFrame,
    *,
    top_n: int = 10,
    eps: float = 1e-3,
    confidence: float = 0.99,
    seed: int = 1,
    text_col: str = "text",
) -> DataFrame:
    """Count-Min watchlist counts with their exactness contract asserted —
    the third sketch family beside HLL (distinct) and KLL (quantiles):
    approximate FREQUENCIES for a fixed term watchlist from ONE mergeable
    aggregate pass (Spark's native ``count_min_sketch``), no groupBy
    shuffle of the token stream at estimate time.

    The 100 TB shape: a watchlist (contamination markers, PII keywords,
    competitor names) needs corpus-wide counts per monitoring pass; the
    CM sketch is O(ln(1/δ)/ε) bytes, mergeable across partitions and
    days, and never reshuffles the corpus.  Here the watchlist is the
    exact top-``top_n`` tokens (deterministic, SQL-recomputable), so the
    driver's oracle can re-derive every row.

    Returns (term, exact_count, overcount_ok, within_eps_ok) ordered by
    (count desc, term): CM never undercounts (est ≥ exact — a sketch
    implementation bug trips this) and overshoots by at most ε·N with
    probability ≥ confidence (N = total insertions; deterministic given
    the seed, so the boolean is stable, not threshold-lucky).

    Driver-side work is bounded: top_n estimates against the collected
    sketch (the IVF/PQ fit-collect convention)."""
    from bigvectorbench_spark.functions import text as tx

    tk = docs.select(F.explode(tx.tokens(F.col(text_col))).alias("term"))
    tk = tk.persist()
    top = (tk.groupBy("term").count()
           .orderBy(F.col("count").desc(), "term").limit(top_n).collect())
    sk_bytes = tk.agg(F.expr(
        f"count_min_sketch(term, {eps}d, {confidence}d, {seed})")).collect()[0][0]
    spark = docs.sparkSession
    jcm = spark._jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(
        bytes(sk_bytes))
    n_total = jcm.totalCount()
    bound = int(eps * n_total) + 1
    rows = []
    for r in top:
        est = jcm.estimateCount(r["term"])
        rows.append((r["term"], int(r["count"]),
                     bool(est >= r["count"]),
                     bool(est - r["count"] <= bound)))
    tk.unpersist()
    out = spark.createDataFrame(
        rows, "term string, exact_count bigint, overcount_ok boolean, "
              "within_eps_ok boolean")
    return out.orderBy(F.col("exact_count").desc(), "term")
