"""Filtered kNN — SURVEY.md §2.2 Q4/Q5 and §2.4 G5/G6.

Reference semantics: kNN restricted to train rows whose label columns satisfy
a per-query predicate.  The predicate comes from a string template
(``filter_expr(*labels)``, runner.py:62-64, 87-88) whose grammar is
``<name> <op> <int>`` with op ∈ {==, !=, >, >=, <, <=} joined by and/or
(CONTRIBUTING.md:45-50, weaviate/utils.py:105-179) — a strict subset of Spark
SQL, so Catalyst's parser *is* the DSL parser.  The reference builds the
string with runtime ``exec`` (an implementation hazard we deliberately don't
copy); here templates are parameterized with ``{placeholder}`` names that bind
to query-row columns.

Scale design: each of the (up to 10k) queries carries its own predicate
parameters.  Compiling 10k separate plans would be catastrophic; instead the
template is rewritten once into a single join condition referencing both
sides (`label_0 <= q.label_0 and …`), so the whole filtered workload is ONE
broadcast join job regardless of query count (SURVEY §7 hard part 3).

Two physical strategies, mirroring the reference's selectivity-adaptive
ground-truth builder (create_artificial_datasets.py:151-285):

- **pre-filter** (filter-first): apply the predicate before scoring.  For the
  exact engine this is always correct and lets Catalyst push static parts of
  the predicate into the Parquet scan.
- **post-filter** (ANN-first): over-fetch ``k·1.5/ratio`` nearest neighbors
  ignoring labels, then drop non-matching rows.  Only meaningful for the
  approximate path (IVF/LSH), where scoring fewer rows is the win.

``filtered_ivf_knn(strategy="auto")`` picks between them by the reference's
branch: post-filter when the filter keeps at least
``POST_FILTER_THRESHOLD`` of the rows (create_artificial_datasets.py:165).
"""

from __future__ import annotations

import re
from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bigvectorbench_spark.functions import distance as dist_fns
from bigvectorbench_spark.operators.knn import (
    CLUSTER_COL, _query_rows, pair_dist_below_join, topk_window)

_PLACEHOLDER = re.compile(r"\{(\w+)\}")
_EQ_REWRITE = re.compile(r"(?<![=!<>])==")

POST_FILTER_THRESHOLD = 0.2  # create_artificial_datasets.py:165

QUERY_PREFIX = "__q_"


def compile_filter_template(template: str) -> str:
    """Rewrite a reference-style filter template into a Spark SQL join
    condition.  ``{name}`` placeholders become references to the query-side
    column ``__q_name``; ``==`` becomes SQL ``=`` (the same rewrite pgvector
    does, pgvector/module.py:92)."""
    cond = _PLACEHOLDER.sub(lambda m: f"{QUERY_PREFIX}{m.group(1)}", template)
    return _EQ_REWRITE.sub("=", cond)


def filtered_knn(
    train: DataFrame,
    queries: DataFrame,
    k: int = 10,
    metric: str = "euclidean",
    *,
    filter_template: str,
    query_param_cols: Sequence[str],
    vec_col: str = "vec",
    query_vec_col: Optional[str] = None,
    id_col: str = "id",
    qid_col: str = "qid",
) -> DataFrame:
    """Exact filtered kNN: one broadcast-join job for the whole query set.

    ``filter_template`` references train columns by name and query-row
    parameters as ``{param}`` (params listed in ``query_param_cols``), e.g.
    ``"label_0 <= {label_0} and label_1 <= {label_1}"`` — the
    random-xs-32-euclidean-2filter form (datasets.py:385-394) — or the
    range form ``"label_0 >= {l0} and label_0 <= {r0}"``
    (create_artificial_datasets.py:483-502).
    """
    qvec = query_vec_col or vec_col
    cond = compile_filter_template(filter_template)

    q = queries.select(
        F.col(qid_col).cast("bigint").alias("qid"),
        F.col(qvec).alias("__qvec"),
        *[F.col(c).alias(f"{QUERY_PREFIX}{c}") for c in query_param_cols],
    )
    t, q, dist = pair_dist_below_join(metric, train, q, vec_col, "__qvec")
    scored = (
        t.join(F.broadcast(q), on=F.expr(cond), how="inner")
        .select(
            "qid",
            F.col(id_col).cast("bigint").alias("id"),
            dist.alias("dist"),
        )
        .filter(dist_fns.metric_valid(metric, F.col("dist")))
    )
    return topk_window(scored, k).select("qid", "id", "dist", "rank")


def postfilter_knn(
    train: DataFrame,
    queries: DataFrame,
    k: int,
    metric: str,
    *,
    filter_template: str,
    query_param_cols: Sequence[str],
    selectivity: float,
    overfetch_factor: float = 1.5,
    vec_col: str = "vec",
    query_vec_col: Optional[str] = None,
    id_col: str = "id",
    qid_col: str = "qid",
) -> DataFrame:
    """ANN-first plan: fetch ``ceil(k·overfetch/selectivity)`` unfiltered
    neighbors, then apply the label predicate and re-rank
    (create_artificial_datasets.py:165-226).  With the exact scorer this is
    correct whenever enough matching rows survive the over-fetch; the
    reference accepts the same approximation."""
    if not (0.0 < selectivity <= 1.0):
        raise ValueError(f"selectivity must be in (0,1], got {selectivity}")
    fetch = max(k, int(k * overfetch_factor / selectivity))
    qvec = query_vec_col or vec_col
    cond = compile_filter_template(filter_template)

    q = queries.select(
        F.col(qid_col).cast("bigint").alias("qid"),
        F.col(qvec).alias("__qvec"),
        *[F.col(c).alias(f"{QUERY_PREFIX}{c}") for c in query_param_cols],
    )
    # over-fetched candidates, labels carried through for the post-check
    label_cols = [c for c in train.columns if c not in (vec_col,)]
    t, q, dist = pair_dist_below_join(metric, train, q, vec_col, "__qvec")
    scored = t.crossJoin(F.broadcast(q)).select(
        "qid",
        F.col(id_col).cast("bigint").alias("id"),
        dist.alias("dist"),
        *[c for c in label_cols if c != id_col],
        *[f"{QUERY_PREFIX}{c}" for c in query_param_cols],
    )
    fetched = topk_window(scored, fetch).drop("rank")
    return topk_window(fetched.filter(F.expr(cond)), k).select("qid", "id", "dist", "rank")


def filtered_ivf_knn(
    idx,
    indexed_train: DataFrame,
    queries: DataFrame,
    k: int = 10,
    *,
    filter_template: str,
    query_param_cols: Sequence[str],
    nprobe: int | str = 4,
    strategy: str = "auto",
    selectivity: Optional[float] = None,
    overfetch_factor: float = 1.5,
    vec_col: str = "vec",
    query_vec_col: Optional[str] = None,
    id_col: str = "id",
    qid_col: str = "qid",
) -> DataFrame:
    """Filtered ANN on the IVF-pruned path (VERDICT r6 ask #5): per-query
    label predicates composed with cell pruning under the G5 selectivity
    policy — the reference's adaptive branch
    (create_artificial_datasets.py:151-285) applied to the index scan
    instead of the exact one (its amazon-5filter regime: 15.9M×10k at
    0.01-1% filter ratios).

    ``indexed_train`` must carry ``cluster_id`` (idx.assign).  Strategies:

    - ``"post"`` (selectivity ≥ 0.2): ANN-first — the GEMM IVF kernel
      over-fetches ``k·overfetch/selectivity`` candidates ignoring labels
      (index work is label-blind, so the fast masked-GEMM path applies
      untouched), then the predicate checks ride on only those
      ~q·fetch candidate rows.  The 100 TB path: per-query work is the
      IVF probe cost + a bounded label join.
    - ``"pre"`` (selectivity < 0.2): filter-first INSIDE the probed cells —
      the broadcast probe table carries the query params, and the join
      condition is ``cells ∋ cluster AND predicate``, so Catalyst prunes
      to the probed cells and the few predicate survivors are scored with
      the exact expression fold.  Low selectivity is exactly when few
      survivors make per-pair expression scoring cheap.
    - ``"auto"``: the G5 branch on ``selectivity`` (must be given).

    Both strategies are deterministic given the seeded index build and the
    overfetch/tie rules, so the composition takes a full SQL value oracle
    (the ivf_knn convention: embedded assignment + probe lists).
    """
    if strategy == "auto":
        if selectivity is None:
            raise ValueError("strategy='auto' needs a selectivity estimate")
        strategy = "post" if selectivity >= POST_FILTER_THRESHOLD else "pre"
    if strategy not in ("pre", "post"):
        raise ValueError(f"unknown strategy {strategy!r}")
    qvec = query_vec_col or vec_col
    cond = compile_filter_template(filter_template)

    if strategy == "post":
        if not selectivity or not (0.0 < selectivity <= 1.0):
            raise ValueError("post-filter needs selectivity in (0,1]")
        fetch = max(k, int(k * overfetch_factor / selectivity))
        cand = idx.search(indexed_train, queries, k=fetch, nprobe=nprobe,
                          vec_col=vec_col, id_col=id_col, qid_col=qid_col
                          ).drop("rank")
        label_cols = [c for c in indexed_train.columns
                      if c not in (vec_col, CLUSTER_COL, id_col)]
        labels = indexed_train.select(
            F.col(id_col).cast("bigint").alias("id"), *label_cols)
        params = queries.select(
            F.col(qid_col).cast("bigint").alias("qid"),
            *[F.col(c).alias(f"{QUERY_PREFIX}{c}") for c in query_param_cols])
        checked = (cand.join(labels, "id")            # candidates ≪ train:
                   .join(F.broadcast(params), "qid")  # both joins bounded
                   .filter(F.expr(cond)))
        return topk_window(checked, k).select("qid", "id", "dist", "rank")

    # pre: predicate + cell membership in one broadcast join condition
    import numpy as np

    q_rows = _query_rows(queries, qid_col, F.col(qvec).cast("array<double>"),
                         *query_param_cols)
    spark = indexed_train.sparkSession
    if not q_rows:
        return spark.createDataFrame([], "qid bigint, id bigint, dist double, rank int")
    qmat = np.array([r[1] for r in q_rows], dtype=np.float64)
    probes = idx.probe_lists(qmat, nprobe)
    param_types = {f.name: f.dataType.simpleString()
                   for f in queries.schema.fields}
    probe_df = spark.createDataFrame(
        [(int(r[0]), [float(x) for x in r[1]], [int(c) for c in probes[i]],
          *[r[j + 2] for j in range(len(query_param_cols))])
         for i, r in enumerate(q_rows)],
        ", ".join(["qid bigint", "__qvec array<double>", "__cells array<int>"]
                  + [f"{QUERY_PREFIX}{c} {param_types[c]}"
                     for c in query_param_cols]))
    all_cells = sorted({int(c) for row in probes for c in row})
    pruned = indexed_train.filter(F.col(CLUSTER_COL).isin(all_cells))
    t, p, dist = pair_dist_below_join(idx.metric, pruned, probe_df, vec_col, "__qvec")
    scored = (
        t.join(F.broadcast(p),
               F.array_contains(F.col("__cells"), F.col(CLUSTER_COL)) & F.expr(cond))
        .select("qid", F.col(id_col).cast("bigint").alias("id"), dist.alias("dist"))
        .filter(dist_fns.metric_valid(idx.metric, F.col("dist")))
    )
    return topk_window(scored, k).select("qid", "id", "dist", "rank")
