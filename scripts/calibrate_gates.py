#!/usr/bin/env python
"""One-off calibration: measure the quality scalars the driver-visible
gates assert, so thresholds sit just under the measured floor instead of
leaving a silent-degradation corridor (VERDICT r3 'What's wrong #4').

Prints, per sf dir given on argv (default sf0.01):
  - SRP blocking recall vs exact brute pairs on the perturbed corpus
  - HLL++ relative error per documents.source
  - percentile_approx rank error per source
  - IVF / PQ / BQ / OPQ / SQ8 recall mean+min (the declared gates)
  - HNSW recall by ef, and sparse impact-pruning recall by m
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from bigvectorbench_spark import get_spark
from bigvectorbench_spark.operators import dedup as dd
from bigvectorbench_spark.operators import metrics as mx
from bigvectorbench_spark.operators.knn import knn
from bigvectorbench_spark.operators.pq import PQIndex
from bigvectorbench_spark.operators.similarity import IVFIndex
from bigvectorbench_spark.sources.tables import load_table


def perturbed_corpus(spark, sf):
    emb = load_table(spark, sf, "embeddings")
    pert = emb.select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: x + F.when(i % 7 == 0, F.lit(0.02)).otherwise(F.lit(0.0)),
        ).alias("embedding"),
        "label",
    )
    return emb.unionByName(pert)


def srp_recall(spark, sf):
    corpus = perturbed_corpus(spark, sf)
    brute = dd.embedding_dup_pairs(corpus, threshold=0.95, method="brute").select(
        "id_a", "id_b")
    srp = dd.embedding_dup_pairs(corpus, threshold=0.95, method="srp",
                                 num_planes=32, bands=4).select("id_a", "id_b")
    n_true = brute.count()
    n_hit = brute.intersect(srp).count()
    n_srp = srp.count()
    print(f"SRP: true_pairs={n_true} srp_pairs={n_srp} hit={n_hit} "
          f"recall={n_hit / max(n_true, 1):.4f}")


def sketch_errors(spark, sf):
    docs = load_table(spark, sf, "documents")
    both = docs.groupBy("source").agg(
        F.approx_count_distinct("text", 0.01).alias("hll"),
        F.countDistinct("text").alias("exact"),
        F.percentile_approx("n_chars", 0.5, 10000).alias("p50a"),
        F.expr("percentile(n_chars, 0.49)").alias("p49"),
        F.expr("percentile(n_chars, 0.51)").alias("p51"),
        F.count("*").alias("n"),
    ).collect()
    for r in both:
        rel = abs(r["hll"] - r["exact"]) / max(r["exact"], 1)
        ok = r["p49"] <= r["p50a"] <= r["p51"]
        print(f"sketch source={r['source']} n={r['n']} exact={r['exact']} "
              f"hll={r['hll']} rel_err={rel:.4f} p50a={r['p50a']} "
              f"in[p49,p51]={ok}")


def ann_recalls(spark, sf):
    t = load_table(spark, sf, "embeddings").select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec"), "label")
    q = load_table(spark, sf, "embeddings").filter("vec_id % 50 = 0").select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("vec"), "label")
    exact = knn(t, q, k=10, method="expr").groupBy("qid").agg(
        F.collect_list("id").alias("neighbors"))
    ivf = IVFIndex.fit(t, nlist=8, seed=1, max_iter=8, sort_col="id")
    approx = ivf.search(ivf.assign(t), q, k=10, nprobe=4).groupBy("qid").agg(
        F.collect_list("id").alias("neighbors"))
    row = mx.recall_per_query(approx, exact).agg(
        F.avg("recall").alias("mean"), F.min("recall").alias("min")).first()
    print(f"IVF recall mean={row['mean']:.4f} min={row['min']:.4f}")
    pq = PQIndex.fit(t, m=8, ksub=16, seed=1, max_iter=8, sort_col="id")
    approxp = pq.search(pq.encode(t), q, k=10, refine_train=t,
                        overfetch=4).groupBy("qid").agg(
        F.collect_list("id").alias("neighbors"))
    rowp = mx.recall_per_query(approxp, exact).agg(
        F.avg("recall").alias("mean"), F.min("recall").alias("min")).first()
    print(f"PQ recall mean={rowp['mean']:.4f} min={rowp['min']:.4f}")
    from bigvectorbench_spark.operators.bq import BQIndex

    bq = BQIndex.fit(t, sort_col="id")
    approxb = bq.search(bq.encode(t, keep=["id"]), q, k=10, refine_train=t,
                        overfetch=4).groupBy("qid").agg(
        F.collect_list("id").alias("neighbors"))
    rowb = mx.recall_per_query(approxb, exact).agg(
        F.avg("recall").alias("mean"), F.min("recall").alias("min")).first()
    print(f"BQ recall mean={rowb['mean']:.4f} min={rowb['min']:.4f}")
    from bigvectorbench_spark.operators.opq import OPQIndex

    opq = OPQIndex.fit(t, m=8, ksub=16, iters=3, seed=1, max_iter=8,
                       sort_col="id")
    approxo = opq.search(opq.encode(t).select("id", "codes"), q, k=10,
                         refine_train=t, overfetch=4).groupBy("qid").agg(
        F.collect_list("id").alias("neighbors"))
    rowo = mx.recall_per_query(approxo, exact).agg(
        F.avg("recall").alias("mean"), F.min("recall").alias("min")).first()
    print(f"OPQ recall mean={rowo['mean']:.4f} min={rowo['min']:.4f}")
    from bigvectorbench_spark.operators.quantize import (
        knn_quantized, quantize_table)

    tq = quantize_table(t, vec_col="vec", out_col="qvec").select("id", "qvec")
    approxs = knn_quantized(tq, q, k=10, method="expr").groupBy("qid").agg(
        F.collect_list("id").alias("neighbors"))
    rows8 = mx.recall_per_query(approxs, exact).agg(
        F.avg("recall").alias("mean"), F.min("recall").alias("min")).first()
    print(f"SQ8 recall mean={rows8['mean']:.4f} min={rows8['min']:.4f}")


def sparse_prune_recall(spark, sf):
    from bigvectorbench_spark.operators import sparse as sp

    docs = load_table(spark, sf, "documents").repartition(32)
    queries = load_table(spark, sf, "documents").filter(
        "doc_id % 100 = 0").select(F.col("doc_id").alias("qid"))
    wpost = sp.sparse_postings(docs, post=sp.lexical_postings(docs)).persist()
    exact = sp.sparse_topk(docs, queries, k=10, wpost=wpost).groupBy(
        "qid").agg(F.collect_list("doc_id").alias("neighbors"))
    for m in (32, 64, 128):
        pruned = sp.sparse_topk(
            docs, queries, k=10, wpost=sp.prune_postings(wpost, m=m),
            qwpost=wpost).groupBy("qid").agg(
            F.collect_list("doc_id").alias("neighbors"))
        row = mx.recall_per_query(pruned, exact).agg(
            F.avg("recall").alias("mean"), F.min("recall").alias("min")).first()
        print(f"sparse prune m={m} recall mean={row['mean']:.4f} "
              f"min={row['min']:.4f}")
    wpost.unpersist()


def hnsw_recalls(spark, sf):
    from bigvectorbench_spark.operators.hnsw import build_hnsw_shards, hnsw_search

    t = load_table(spark, sf, "embeddings").select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec"), "label")
    q = load_table(spark, sf, "embeddings").filter("vec_id % 50 = 0").select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("vec"), "label")
    exact = knn(t, q, k=10, method="expr").groupBy("qid").agg(
        F.collect_list("id").alias("neighbors"))
    shards = build_hnsw_shards(t, m=8, ef_construction=64, num_shards=4, seed=3)
    for ef in (16, 24, 32, 48):
        approx = hnsw_search(shards, q, k=10, ef=ef).groupBy("qid").agg(
            F.collect_list("id").alias("neighbors"))
        row = mx.recall_per_query(approx, exact).agg(
            F.avg("recall").alias("mean"), F.min("recall").alias("min")).first()
        print(f"HNSW recall ef={ef} mean={row['mean']:.4f} min={row['min']:.4f}")


if __name__ == "__main__":
    sfs = sys.argv[1:] or ["/root/testdata/sf0.01"]
    spark = get_spark()
    for sf in sfs:
        print(f"== {sf}")
        srp_recall(spark, sf)
        sketch_errors(spark, sf)
        ann_recalls(spark, sf)
        hnsw_recalls(spark, sf)
        sparse_prune_recall(spark, sf)
