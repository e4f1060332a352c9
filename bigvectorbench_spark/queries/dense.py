"""Dense kNN: exact kNN under the four metrics, filtered and post-filtered
kNN, multi-vector and multimodal kNN."""

from __future__ import annotations

import os

import numpy as np
import pyarrow.parquet as pq_
from pyspark.sql import functions as F

from bigvectorbench_spark.functions import distance as dx, text as tx
from bigvectorbench_spark.operators import multivector as mv
from bigvectorbench_spark.operators.filter_knn import (
    filtered_knn, postfilter_knn)
from bigvectorbench_spark.operators.knn import knn, knn_hamming_packed
from bigvectorbench_spark.sources.tables import load_table

from bigvectorbench_spark.queries._common import (
    _docs_wide, _gate, _knn_oracle, _L2, _ORACLE_SF_DIR, _queries_mod, _r,
    _TOKENS, _train)


# Embedding dimensionality of the synthetic workload (TESTDATA.md) — shared
# between the Spark queries and the oracle SQL so neither side runs a
# driver-blocking probe job inside a timed query path.
EMB_DIM = 64


def q_knn_euclid(spark, sf):
    """Q1/Q3/Q6: exact batch kNN, euclidean (expr path, Catalyst-visible)."""
    res = knn(_train(spark, sf), _queries_mod(spark, sf), k=10, method="expr")
    return res.select("qid", "id", _r(F.col("dist")).alias("dist"), F.col("rank").cast("bigint").alias("rank"))


def q_knn_euclid_gemm(spark, sf):
    """Q1 via the GEMM mapInArrow scale path (ids/ranks; kernel distances
    differ from the expr algebra at ~1e-8 so they are not emitted)."""
    res = knn(_train(spark, sf), _queries_mod(spark, sf), k=10, method="gemm")
    return res.select("qid", "id", F.col("rank").cast("bigint").alias("rank"))


def q_knn_angular(spark, sf):
    """Q1 with angular (cosine) distance (D2)."""
    res = knn(_train(spark, sf), _queries_mod(spark, sf), k=10, metric="angular", method="expr")
    return res.select("qid", "id", _r(F.col("dist")).alias("dist"), F.col("rank").cast("bigint").alias("rank"))


def q_knn_hamming(spark, sf):
    """Q1 with hamming distance (D3) over sign-bits of the embeddings,
    via the packed-bits plan: booleans pack into 64-bit words on the fly
    and scoring is one popcount per word (bit_count(xor)) — the scan that
    survives 100× data, at 1/64th the width of the dense boolean compare.
    Values are identical to the dense form (popcount/d is the same exact
    division), so the oracle is the ground-truth boolean semantics."""
    t = _train(spark, sf).withColumn("vec", F.transform("vec", lambda x: x > 0))
    q = _queries_mod(spark, sf).withColumn("vec", F.transform("vec", lambda x: x > 0))
    res = knn_hamming_packed(t, q, k=10, bits_col="vec")
    return res.select("qid", "id", F.round(F.col("dist"), 6).alias("dist"), F.col("rank").cast("bigint").alias("rank"))


def q_knn_hamming_packed(spark, sf):
    """The packed-table form of q_knn_hamming: ARRAY<BIGINT> words are
    materialized first (the M2 'index build' artifact a binary workload
    would store — reference data.py:20-25 point_type='bit') and the search
    reads ONLY the packed words (packed=True skips the boolean column
    entirely).  Oracle: DuckDB packs the same sign-bits into a BIT string
    and scores with bit_count(xor) — bit arithmetic on both engines."""
    tp = _train(spark, sf).select(
        "id", dx.pack_signs(F.col("vec"), EMB_DIM).alias("words"))
    qp = _queries_mod(spark, sf).select(
        "qid", dx.pack_signs(F.col("vec"), EMB_DIM).alias("words"))
    res = knn_hamming_packed(tp, qp, k=10, bits_col="words", d=EMB_DIM, packed=True)
    return res.select("qid", "id", F.round(F.col("dist"), 6).alias("dist"),
                      F.col("rank").cast("bigint").alias("rank"))


def q_knn_jaccard(spark, sf):
    """Q1 with jaccard distance (D4) over document token sets, including the
    validity rule (drop non-overlapping, distance.py:38)."""
    docs = _docs_wide(spark, sf)
    t = docs.select(F.col("doc_id").alias("id"),
                    F.array_sort(F.array_distinct(tx.tokens(F.col("text")))).alias("vec"))
    q = docs.filter("doc_id % 100 = 0").select(
        F.col("doc_id").alias("qid"),
        F.array_sort(F.array_distinct(tx.tokens(F.col("text")))).alias("vec"))
    res = knn(t, q, k=5, metric="jaccard", method="sparse")
    return res.select("qid", "id", F.round(F.col("dist"), 6).alias("dist"), F.col("rank").cast("bigint").alias("rank"))


def q_filter_knn_eq(spark, sf):
    """Q4/Q5: per-query equality predicate, one broadcast-join job."""
    res = filtered_knn(_train(spark, sf), _queries_mod(spark, sf), k=10,
                       filter_template="label == {label}", query_param_cols=["label"])
    return res.select("qid", "id", _r(F.col("dist")).alias("dist"), F.col("rank").cast("bigint").alias("rank"))


def q_filter_knn_range(spark, sf):
    """G6: per-query BETWEEN range predicate."""
    q = _queries_mod(spark, sf).withColumn("lo", F.col("label") - 2).withColumn(
        "hi", F.col("label") + 2)
    res = filtered_knn(_train(spark, sf), q, k=10,
                       filter_template="label >= {lo} and label <= {hi}",
                       query_param_cols=["lo", "hi"])
    return res.select("qid", "id", _r(F.col("dist")).alias("dist"), F.col("rank").cast("bigint").alias("rank"))


def q_filter_knn_2label(spark, sf):
    """The reference's TWO-filter configuration (its ``-2filter`` datasets,
    create_artificial_datasets.py:151-285 / README.md:164-186 carry two
    label columns per row and AND the per-query predicates): a second
    deterministic label (vec_id mod 7) joins the stored one, and each
    query constrains BOTH — an equality on label₁ AND a range on label₂ —
    through the same single-broadcast-join plan as the 1-filter queries
    (the conjunction rides in the join condition; no second join, no
    second scan)."""
    lbl2 = F.pmod(F.col("id"), F.lit(7)).cast("int")
    qlbl2 = F.pmod(F.col("qid"), F.lit(7)).cast("int")
    t = _train(spark, sf).withColumn("label2", lbl2)
    q = (_queries_mod(spark, sf)
         .withColumn("lo2", qlbl2 - 1).withColumn("hi2", qlbl2 + 1))
    res = filtered_knn(
        t, q, k=10,
        filter_template="label == {label} and label2 >= {lo2} and label2 <= {hi2}",
        query_param_cols=["label", "lo2", "hi2"])
    return res.select("qid", "id", _r(F.col("dist")).alias("dist"),
                      F.col("rank").cast("bigint").alias("rank"))


def q_postfilter_knn(spark, sf):
    """G5 post-filter plan (over-fetch then label check) — approximate vs
    true filtered kNN, but deterministic under the overfetch + tie rules,
    so it gets a full SQL oracle."""
    res = postfilter_knn(_train(spark, sf), _queries_mod(spark, sf), k=10,
                         metric="euclidean", filter_template="label <= {label}",
                         query_param_cols=["label"], selectivity=0.5)
    return res.select("qid", "id", _r(F.col("dist")).alias("dist"), F.col("rank").cast("bigint").alias("rank"))


def _mv_entities(spark, sf):
    """The shared mv-ann fixture: entities = 4 consecutive embedding rows
    (vec_id div 4), positions ordered by vec_id % 4 — the webvid shape
    (4 keyframe vectors per entity, reference README.md:220-227)."""
    emb = load_table(spark, sf, "embeddings")
    return (
        emb.select(F.expr("vec_id div 4").alias("eid"),
                   F.expr("vec_id % 4").alias("vi"), "embedding")
        .groupBy("eid")
        .agg(F.transform(F.sort_array(F.collect_list(F.struct("vi", "embedding"))),
                         lambda s: s["embedding"]).alias("vecs"))
    )


def q_mv_knn(spark, sf):
    """Q7: multi-vector kNN, mean of per-position euclidean distances.
    Entities = 4 consecutive embedding rows (vec_id div 4)."""
    ent = _mv_entities(spark, sf)
    res = mv.mv_knn(ent.withColumnRenamed("eid", "id"),
                    ent.filter("eid < 5").withColumnRenamed("eid", "qid"), k=5)
    return res.select("qid", "id", _r(F.col("dist")).alias("dist"), F.col("rank").cast("bigint").alias("rank"))


def q_mv_knn_fused(spark, sf):
    """Q7 fusion variant (WeightedRanker analog, milvus/module.py:422-458):
    per-position top-k subqueries fused by weighted similarity.  Approximate
    vs exact mean-distance kNN, but deterministic given the tie rules, so it
    gets a full SQL oracle."""
    ent = _mv_entities(spark, sf)
    res = mv.mv_knn_fused(ent.withColumnRenamed("eid", "id"),
                          ent.filter("eid < 5").withColumnRenamed("eid", "qid"),
                          k=5, weights=[0.25, 0.25, 0.25, 0.25], num_vectors=4)
    return res.select("qid", "id", F.round("score", 6).alias("score"), F.col("rank").cast("bigint").alias("rank"))


def q_mv_scale(spark, sf):
    """The mv-ann indexed scale twin (the 100× form of the brute
    multi-vector queries): per-position BQ candidate
    generation (packed 1-bit codes, hamming pre-rank top-40, exact refine
    to top-10 per position) + the SAME WeightedRanker fusion tail as
    mv_knn_fused — one ANN subquery per vector field, the reference's
    execution shape (milvus/module.py:422-458).  Fully value-oracled: the
    deterministic per-position BQ candidate sets (id-sorted float64 mean
    thresholds, (hamming, id) lexsort — the bq_knn convention) are
    recomputed at oracle-generation time and embedded as literals; DuckDB
    re-runs the exact-L2 refine, the 9-dp DECIMAL fusion ladder and the
    rank-on-rounded-score window, so fused scores and ranks hash-match
    end to end.  Queries: every 25th entity.  The entity aggregation is
    persisted (the mv_scale_parity / corpus_curation stage-boundary
    discipline): the operator reads it for the fit collect, the
    kernel scan, the refine join and the query block — without the
    boundary each reference re-runs the groupBy collect_list from
    parquet."""
    ent = _mv_entities(spark, sf).persist()
    res = mv.mv_indexed_fused(
        ent.withColumnRenamed("eid", "id"),
        ent.filter("eid % 25 = 0").withColumnRenamed("eid", "qid"),
        k=5, weights=[0.25, 0.25, 0.25, 0.25], num_vectors=4,
        per_vector_k=10, overfetch=4)
    return res.select("qid", "id", "score",
                      F.col("rank").cast("bigint").alias("rank"))


def q_mv_scale_parity(spark, sf):
    """The gate closing q_mv_scale's approximation loop (the
    hybrid_rrf_parity pattern): fuse the SAME per-position candidate
    budget through the brute per-position legs (mv_knn_fused) and through
    the BQ-indexed legs (mv_indexed_fused), and emit per-query top-5
    overlap thresholds the oracle asserts TRUE.  Measured: mean 0.76 /
    min 0.6 at sf0.001, mean 0.88 / min 0.6
    at sf0.01, mean 0.69 / min 0.4 at sf0.1 — the 1-bit/dim hamming
    pre-rank genuinely reorders the fused tail (the same honest-knob
    behavior bq_recall and hybrid_rrf_parity document), and overlap is
    computed on the STRICT top-5, where a single displaced entity costs
    0.2.  Tight thresholds 0.7/0.5 sit just under the oracle-sf floor so
    a candidate-stage defect (not only a cratering bug) fails the driver
    gate; off the oracle sfs the gate relaxes to a defect-only floor
    0.5/0.2."""
    mean_thr, min_thr = _gate(sf, tight=(0.7, 0.5), floor=(0.5, 0.2))
    ent = _mv_entities(spark, sf).persist()
    t = ent.withColumnRenamed("eid", "id")
    q = ent.filter("eid % 25 = 0").withColumnRenamed("eid", "qid")
    brute = mv.mv_knn_fused(t, q, k=5, weights=[0.25] * 4, num_vectors=4,
                            per_vector_k=10)
    idxd = mv.mv_indexed_fused(t, q, k=5, weights=[0.25] * 4, num_vectors=4,
                               per_vector_k=10, overfetch=4)
    a = brute.groupBy("qid").agg(F.collect_list("id").alias("brute_ids"))
    b = idxd.groupBy("qid").agg(F.collect_list("id").alias("idx_ids"))
    per = a.join(b, "qid").select(
        "qid",
        (F.size(F.array_intersect("brute_ids", "idx_ids"))
         / F.size("brute_ids")).alias("overlap"))
    return per.agg(
        F.count("*").alias("n_queries"),
        (F.avg("overlap") >= mean_thr).alias("mean_overlap_ok"),
        (F.min("overlap") >= min_thr).alias("min_overlap_ok"),
    )


def q_mm_knn(spark, sf):
    """Q8: multi-modal kNN — identical operator, disjoint query table (the
    'other modality' embedding set)."""
    res = knn(_train(spark, sf), _queries_mod(spark, sf, mod=1), k=10, method="expr")
    return res.select("qid", "id", _r(F.col("dist")).alias("dist"), F.col("rank").cast("bigint").alias("rank"))


def _mv_scale_oracles() -> dict[str, str]:
    """Value oracle for the mv-ann indexed scale twin (q_mv_scale): the
    per-position BQ candidate stage is recomputed at oracle-generation
    time with the SAME arithmetic as BQIndex (float64 mean thresholds
    over the entity-id-sorted position matrix, bit = x > mean,
    (hamming, id) lexsort top-40 — the bq_knn / _hybrid_scale_oracles
    convention), the candidate sets embed as (qid, id, position)
    literals, and DuckDB re-runs the exact-L2 refine (top-10 per
    position by raw fold distance, ties by id), the 9-dp DECIMAL
    WeightedRanker ladder, and the rank-on-rounded-score window.  The
    index-controlled part — WHICH entities each position refines — is
    therefore hash-checked end to end.  The parity gate's oracle
    recomputes only the query universe (the hybrid_rrf_parity shape):
    the overlap booleans are Spark-measured and asserted TRUE."""
    path = f"{_ORACLE_SF_DIR}/embeddings.parquet"
    if not os.path.exists(path):
        return {}

    tbl = pq_.read_table(path, columns=["vec_id", "embedding"])
    ids = tbl.column("vec_id").to_numpy()
    X = np.array(tbl.column("embedding").to_pylist(), dtype=np.float64)
    order = np.argsort(ids, kind="stable")
    ids, X = ids[order], X[order]
    eids = ids // 4
    fetch, n_cand = 10, 40                 # per_vector_k=10, overfetch=4
    vals = []
    for j in range(4):
        pmask = ids % 4 == j
        e_j, X_j = eids[pmask], X[pmask]   # entity-id-sorted by construction
        thr = X_j.mean(axis=0)             # BQIndex.fit: id-sorted f64 mean
        bits = X_j > thr[None, :]
        qmask = e_j % 25 == 0
        for qe, qb in zip(e_j[qmask], bits[qmask]):
            ham = (bits != qb[None, :]).sum(axis=1)
            top = e_j[np.lexsort((e_j, ham))[:n_cand]]
            vals.extend(f"({int(qe)},{int(i)},{j})" for i in top)
    l2_pos = _L2.format(a="t.v", b="q.v")
    mv_scale_sql = f"""
WITH cand(qid, id, j) AS (VALUES {", ".join(vals)}),
e AS (SELECT vec_id // 4 AS eid, vec_id % 4 AS vi, embedding::DOUBLE[] AS v
      FROM embeddings),
s AS (SELECT c.qid, c.id, c.j, {l2_pos} AS d
      FROM cand c JOIN e t ON t.eid = c.id AND t.vi = c.j
                  JOIN e q ON q.eid = c.qid AND q.vi = c.j),
top AS (SELECT qid, id, j, d,
               row_number() OVER (PARTITION BY qid, j ORDER BY d, id) AS rn
        FROM s),
contrib AS (SELECT qid, id,
                   round(0.25 / (1.0 + round(d, 4)), 9)::DECIMAL(28,10) AS c
            FROM top WHERE rn <= {fetch}),
fused AS (SELECT qid, id, CAST(round(sum(c), 6) AS DOUBLE) AS score
          FROM contrib GROUP BY qid, id),
r AS (SELECT qid, id, score,
             row_number() OVER (PARTITION BY qid ORDER BY score DESC, id)
                 AS rank
      FROM fused)
SELECT qid, id, score, rank FROM r WHERE rank <= 5
"""
    parity_sql = """
SELECT count(*) AS n_queries, TRUE AS mean_overlap_ok, TRUE AS min_overlap_ok
FROM (SELECT DISTINCT vec_id // 4 AS eid FROM embeddings) WHERE eid % 25 = 0
"""
    return {"mv_scale": mv_scale_sql, "mv_scale_parity": parity_sql}


def oracles() -> dict[str, str]:
    return _mv_scale_oracles() | {
        "knn_euclid": _knn_oracle(),
        "knn_euclid_gemm": _knn_oracle(cols="qid, id, rank"),
        "knn_angular": _knn_oracle(
            dist=("1.0 - list_sum(list_transform(list_zip(t.v, q.v), x -> x[1]*x[2])) / "
                  "(sqrt(list_sum(list_transform(t.v, x -> x*x))) * "
                  "sqrt(list_sum(list_transform(q.v, x -> x*x))))"),
        ),
        "knn_hamming": _knn_oracle(
            dist=("list_sum(list_transform(list_zip(t.v, q.v), "
                  "x -> CASE WHEN (x[1] > 0) = (x[2] > 0) THEN 0.0 ELSE 1.0 END)) / len(t.v)"),
            round_n=6,
        ),
        # Packed form: DuckDB builds the same sign-bit string as a BIT value
        # and scores with bit_count(xor) — genuine bit arithmetic mirroring
        # Spark's ARRAY<BIGINT> popcount words.
        "knn_hamming_packed": """
WITH t AS (SELECT vec_id AS id,
           list_aggregate(list_transform(embedding::DOUBLE[],
               x -> CASE WHEN x > 0 THEN '1' ELSE '0' END), 'string_agg', '')::BIT AS b
           FROM embeddings),
q AS (SELECT id AS qid, b FROM t WHERE id % 50 = 0),
s AS (SELECT q.qid, t.id,
             bit_count(xor(t.b, q.b))::DOUBLE / bit_length(t.b) AS d
      FROM q CROSS JOIN t),
r AS (SELECT qid, id, round(d, 6) + 0.0 AS dist,
             row_number() OVER (PARTITION BY qid ORDER BY d, id) AS rank FROM s)
SELECT qid, id, dist, rank FROM r WHERE rank <= 10
""",
        "knn_jaccard": f"""
WITH d AS (SELECT doc_id, list_sort(list_distinct({_TOKENS})) AS items FROM documents),
q AS (SELECT doc_id AS qid, items FROM d WHERE doc_id % 100 = 0),
s AS (SELECT q.qid, d.doc_id AS id,
             1.0 - len(list_intersect(d.items, q.items))::DOUBLE /
                   len(list_distinct(list_concat(d.items, q.items))) AS dist
      FROM q CROSS JOIN d),
v AS (SELECT * FROM s WHERE dist < 1.0 - 1e-5),
r AS (SELECT qid, id, round(dist, 6) AS dist,
             row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rank FROM v)
SELECT qid, id, dist, rank FROM r WHERE rank <= 5
""",
        "filter_knn_eq": _knn_oracle(join="JOIN", cond="ON t.label = q.label"),
        "filter_knn_range": _knn_oracle(
            join="JOIN",
            cond="ON t.label >= q.label - 2 AND t.label <= q.label + 2"),
        # two-filter conjunction: equality on label AND range on the
        # derived second label (id mod 7), both inside the one join
        "filter_knn_2label": _knn_oracle(
            join="JOIN",
            cond=("ON t.label = q.label AND t.id % 7 >= q.qid % 7 - 1 "
                  "AND t.id % 7 <= q.qid % 7 + 1")),
        "mv_knn": f"""
WITH e AS (SELECT vec_id // 4 AS eid, vec_id % 4 AS vi, embedding::DOUBLE[] AS v FROM embeddings),
ent AS (SELECT eid, array_agg(v ORDER BY vi) AS vs FROM e GROUP BY eid),
q AS (SELECT eid AS qid, vs AS qv FROM ent WHERE eid < 5),
s AS (SELECT q.qid, ent.eid AS id,
             list_sum(list_transform(list_zip(ent.vs, q.qv),
                 p -> {_L2.format(a="p[1]", b="p[2]")})) / 4.0 AS d
      FROM q CROSS JOIN ent),
r AS (SELECT qid, id, round(d, 4) AS dist,
             row_number() OVER (PARTITION BY qid ORDER BY d, id) AS rank FROM s)
SELECT qid, id, dist, rank FROM r WHERE rank <= 5
""",
        # The post-filter plan is approximate vs true filtered kNN but
        # deterministic given the overfetch rule: top-30 by (dist, id)
        # (fetch = k·1.5/selectivity), predicate check, re-rank top-10.
        "postfilter_knn": f"""
WITH t AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v, label FROM embeddings),
q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS v, label AS qlabel FROM embeddings
      WHERE vec_id % 50 = 0),
s AS (SELECT q.qid, t.id, {_L2.format(a="t.v", b="q.v")} AS d, t.label, q.qlabel
      FROM q CROSS JOIN t),
over_f AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY d, id) AS rn FROM s),
kept AS (SELECT qid, id, d FROM over_f WHERE rn <= 30 AND label <= qlabel),
r AS (SELECT qid, id, round(d, 4) AS dist,
             row_number() OVER (PARTITION BY qid ORDER BY d, id) AS rank FROM kept)
SELECT qid, id, dist, rank FROM r WHERE rank <= 10
""",
        # WeightedRanker fusion is deterministic given the per-position
        # top-``fetch`` candidate sets (ties broken by ascending id at both
        # levels), so it oracles exactly: per-(qid, position) top-10, score
        # w/(1+dist), sum per (qid, id), final top-5 by score desc.
        "mv_knn_fused": f"""
WITH e AS (SELECT vec_id // 4 AS eid, vec_id % 4 AS vi, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT eid AS qid, vi AS j, v AS qv FROM e WHERE eid < 5),
s AS (SELECT q.qid, e.eid AS id, q.j, {_L2.format(a="e.v", b="q.qv")} AS d
      FROM q JOIN e ON e.vi = q.j),
top AS (SELECT qid, id, j, d,
               row_number() OVER (PARTITION BY qid, j ORDER BY d, id) AS rn FROM s),
fused AS (SELECT qid, id, sum(0.25 / (1.0 + d)) AS score
          FROM top WHERE rn <= 10 GROUP BY qid, id),
r AS (SELECT qid, id, round(score, 6) AS score,
             row_number() OVER (PARTITION BY qid ORDER BY score DESC, id) AS rank FROM fused)
SELECT qid, id, score, rank FROM r WHERE rank <= 5
""",
        "mm_knn": _knn_oracle(where_q="vec_id % 50 = 1"),
    }
