"""Physical-plan assertions: the scale-design claims must be visible in
`.explain` output — broadcast joins for the query side, predicate pushdown
into parquet scans, partition pruning on the IVF layout."""

import io
import contextlib

import pytest
from pyspark.sql import functions as F

from bigvectorbench_spark.operators.knn import knn
from bigvectorbench_spark.operators.filter_knn import filtered_knn
from bigvectorbench_spark.operators.similarity import IVFIndex


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def pq(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("plans") / "train")
    spark.createDataFrame(
        [(i, [float(i), 0.0], i % 5) for i in range(200)],
        "id bigint, vec array<float>, label int",
    ).write.parquet(path)
    return spark.read.parquet(path)


@pytest.fixture(scope="module")
def queries(spark):
    return spark.createDataFrame(
        [(0, [1.0, 0.0], 3)], "qid bigint, vec array<float>, label int"
    )


def test_knn_broadcasts_queries(pq, queries):
    plan = plan_of(knn(pq, queries, k=5, method="expr"))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_static_prefilter_pushed_to_scan(pq, queries):
    plan = plan_of(knn(pq, queries, k=5, method="expr", pre_filter="label = 3"))
    # Catalyst must push the static predicate into the parquet scan
    assert "PushedFilters: [" in plan
    assert "EqualTo(label,3)" in plan


def test_filtered_knn_is_single_broadcast_join(pq, queries):
    plan = plan_of(
        filtered_knn(pq, queries, k=5, filter_template="label <= {label}",
                     query_param_cols=["label"])
    )
    assert "BroadcastNestedLoopJoin" in plan
    # per-query predicates become ONE join, never a shuffle join or N plans
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    # Spark 3.5+'s WindowGroupLimit applies the rank limit before the
    # exchange — the partial top-k we want is in the plan
    assert "WindowGroupLimit" in plan


def test_ivf_layout_partition_pruning(spark, pq, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("plans") / "ivf")
    idx = IVFIndex.fit(pq, nlist=4, seed=1)
    idx.write_indexed(pq, path)
    indexed = spark.read.parquet(path)
    pruned = indexed.filter(F.col("cluster_id").isin([0, 1]))
    plan = plan_of(pruned)
    # cluster_id is a partition column: the filter must prune partitions,
    # not appear as a data filter
    assert "PartitionFilters" in plan
    assert "cluster_id" in plan.split("PartitionFilters", 1)[1].split("]", 1)[0]


def test_column_pruning_reaches_scan(pq):
    plan = plan_of(pq.select("id"))
    # ReadSchema must not include vec/label when only id is selected
    read_schema = plan.split("ReadSchema:", 1)[1].splitlines()[0]
    assert "vec" not in read_schema and "label" not in read_schema


def test_gemm_path_partial_topk_reduces_shuffle(pq, queries):
    plan = plan_of(knn(pq, queries, k=5, method="gemm"))
    # the window merge consumes the Arrow kernel's partial top-k, so the
    # exchange sits above the kernel node (shuffling k-per-batch candidates,
    # never the full scored table)
    kernel = "MapInArrow" if "MapInArrow" in plan else "MapInPandas"
    assert kernel in plan
    assert plan.index(kernel) > plan.index("Exchange")  # formatted: tree order


def test_semi_anti_and_topk_plan_shapes(spark, sf_dir):
    import __spark_entry__ as e

    semi = plan_of(e.queries()["customers_semi_returns"](spark, sf_dir))
    assert "LeftSemi" in semi
    # both filters reach the scans (lineitem flag/qty as pushed filters)
    assert "EqualTo(l_returnflag,R)" in semi and "GreaterThanOrEqual(l_quantity,45" in semi

    anti = plan_of(e.queries()["customers_anti_urgent"](spark, sf_dir))
    assert "LeftAnti" in anti
    assert "EqualTo(o_orderpriority,1-URGENT)" in anti

    topk = plan_of(e.queries()["top_revenue_orders"](spark, sf_dir))
    # global ORDER BY + LIMIT must plan as TakeOrderedAndProject, not a
    # full sort of the aggregated frame
    assert "TakeOrderedAndProject" in topk
    # the date predicate reaches the orders scan
    assert "o_orderdate" in topk and "PushedFilters: [IsNotNull(o_orderdate)" in topk


def test_asof_join_is_single_shuffle_window(spark):
    from bigvectorbench_spark.operators.temporal import asof_join

    left = spark.createDataFrame([(1, "u", None)], "event_id bigint, user_id string, ts timestamp")
    right = spark.createDataFrame([(2, "u", None, 1.0)], "rid bigint, user_id string, ts timestamp, value double")
    plan = plan_of(asof_join(left, right, on="user_id", right_cols=["rid"]))
    # the sweep is a union + window — no join operator of any kind
    for j in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
              "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert j not in plan
    assert "Window" in plan and "Union" in plan


def test_approx_quantile_buckets_has_no_global_sort(spark):
    """The decile-tagging scale plan: thresholds via one aggregate, tags
    via a broadcast nested-loop of a 1-row frame — no Window, no global
    Sort, no shuffle of the tagged rows."""
    from bigvectorbench_spark.operators.metrics import approx_quantile_buckets

    df = spark.createDataFrame([(i, float(i)) for i in range(100)],
                               "id bigint, q double")
    plan = plan_of(approx_quantile_buckets(df, "q"))
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    # the only Sort allowed is inside the percentile aggregate, which the
    # physical plan does not surface as a Sort node
    assert "Sort " not in plan


def test_dedup_pair_generation_is_equijoin_not_cartesian(spark):
    """Every near-dup candidate generator must plan as a bucket/shingle
    equi-join — the O(candidates) scale claim.  A CartesianProduct or
    nested-loop join here is the O(n²) plan the operators exist to avoid."""
    from bigvectorbench_spark.operators.dedup import (
        minhash_lsh_pairs, ngram_jaccard_pairs, simhash_pairs)

    docs = spark.createDataFrame(
        [(i, f"w{i} common tokens shared by all documents here {i%3}")
         for i in range(30)],
        "doc_id bigint, text string",
    )
    for pairs in (ngram_jaccard_pairs(docs, threshold=0.5),
                  minhash_lsh_pairs(docs),
                  simhash_pairs(docs)):
        plan = plan_of(pairs)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


def test_curation_single_shuffle_reports(spark):
    """pii_scrub / gopher_quality / domain_mix are scan + ONE aggregation
    shuffle: every per-document rule (including the Gopher repetition
    rule, classically an explode + groupBy) stays inside whole-stage
    codegen, so exactly one Exchange appears — the final per-source
    rollup.  At 100 TB these are scan-bound, the best possible shape."""
    from bigvectorbench_spark.operators.curation import (
        domain_mix_report, gopher_quality_report, pii_scrub_report)

    docs = spark.createDataFrame(
        [(i, f"src{i % 3}", f"doc {i} with the a few words and tokens")
         for i in range(40)],
        "doc_id bigint, source string, text string",
    )
    for report in (pii_scrub_report(docs), gopher_quality_report(docs),
                   domain_mix_report(docs)):
        plan = plan_of(report)
        assert plan.count("Exchange") <= 2  # hashpartitioning (+AQE read)
        for j in ("SortMergeJoin", "CartesianProduct",
                  "BroadcastNestedLoopJoin"):
            assert j not in plan


def test_decontaminate_broadcasts_eval_side(spark):
    """The eval shingle inventory is fixed-size -> must broadcast; the
    train corpus is scanned, never shuffled through the semi-join."""
    from bigvectorbench_spark.operators.curation import decontaminate_report

    docs = spark.createDataFrame(
        [(i, f"src{i % 3}", " ".join(f"w{(i * 7 + j) % 13}" for j in range(12)))
         for i in range(50)],
        "doc_id bigint, source string, text string",
    )
    plan = plan_of(decontaminate_report(docs, eval_mod=7))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_substring_dedup_joins_on_hash_not_text(spark):
    """The occurrence-count join must key on the 8-byte window hash —
    no window strings in the shuffle, no cartesian fallback."""
    from bigvectorbench_spark.operators.curation import substring_dedup_report

    docs = spark.createDataFrame(
        [(i, "s", " ".join(f"t{(i + j) % 9}" for j in range(20)))
         for i in range(30)],
        "doc_id bigint, source string, text string",
    )
    plan = plan_of(substring_dedup_report(docs, window=15))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the join key is the hash column wh (bigint), visible in the plan
    assert "wh" in plan


def test_no_inlined_tokenizer_inside_window_lambdas(spark):
    """Regression pin for the InferFiltersFromGenerate defect (session.py
    excludes the rule): no optimized plan may contain the tokenizer
    substituted INSIDE a window-slice lambda (`slice(filter(split`), and
    no Filter node may carry a duplicated window `transform(` — either
    shape re-tokenizes the document once per array element (measured 25s
    -> 5.3s at 5k Zipf docs)."""
    from bigvectorbench_spark.operators.curation import (
        decontaminate_report, substring_dedup_report)

    docs = spark.createDataFrame(
        [(i, f"src{i % 3}", " ".join(f"w{(i * 5 + j) % 23}" for j in range(30)))
         for i in range(40)],
        "doc_id bigint, source string, text string",
    ).repartition(4)
    for report in (decontaminate_report(docs, eval_mod=7),
                   substring_dedup_report(docs, window=15)):
        p = report._jdf.queryExecution().optimizedPlan().toString()
        assert "slice(filter(split" not in p
        assert not any("Filter" in line and "transform(" in line
                       for line in p.splitlines())


def test_pack_blocks_has_no_global_window(spark):
    """The two-pass prefix sum must never plan the single-task global
    window: every Window in the plan is partitioned (by the range bucket),
    and the bucket-offset join is a broadcast."""
    from bigvectorbench_spark.operators.packing import pack_blocks

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{j}" for j in range(i % 7))) for i in range(60)],
        "doc_id bigint, text string",
    )
    plan = plan_of(pack_blocks(docs, block_size=8, n_buckets=4))
    # A global window materializes as an Exchange SinglePartition feeding
    # the Window node - the exact shape this operator exists to avoid.
    assert "SinglePartition" not in plan
    assert "Window" in plan and "partitionBy" not in plan.lower().replace(
        "partition by", "")  # formatted plans show 'Window [..], [_b..]'
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_lm_scoring_join_is_equijoin_without_text(spark):
    """LM scoring joins (doc_id, w1, w2) triples against the compact
    bigram table - an equi-join, never a cartesian, and the document text
    column does not survive into the join."""
    from bigvectorbench_spark.operators.lm import lm_score_report

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{(i + j) % 11}" for j in range(10)))
         for i in range(40)],
        "doc_id bigint, text string",
    )
    plan = plan_of(lm_score_report(docs))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # join keys are the pair words
    assert "w1" in plan and "w2" in plan


def test_semantic_dups_is_cluster_equijoin(spark):
    """SemDeDup pair generation must plan as an equi-join keyed on
    cluster_id - the n^2/k candidate bound - not a cross join with a
    filter."""
    import numpy as np

    from bigvectorbench_spark.operators.dedup import semantic_dup_pairs

    rng = np.random.RandomState(3)
    V = rng.randn(60, 8)
    df = spark.createDataFrame(
        [(i, [float(x) for x in V[i]]) for i in range(60)],
        "vec_id bigint, embedding array<float>",
    )
    plan = plan_of(semantic_dup_pairs(df, threshold=0.9, nlist=4))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "cluster_id" in plan


def test_c4_clean_is_zero_shuffle_scan(spark):
    """Every C4 rule is row-local; the report adds exactly one rollup
    exchange.  At 100 TB this is the ideal map-only cleaning shape."""
    from bigvectorbench_spark.operators.curation import (
        c4_clean, c4_line_filter_report)

    docs = spark.createDataFrame(
        [(i, f"src{i % 3}", "a good long sentence here.\nshort one.")
         for i in range(30)],
        "doc_id bigint, source string, text string",
    )
    assert "Exchange" not in plan_of(c4_clean(docs))
    plan = plan_of(c4_line_filter_report(docs))
    assert plan.count("Exchange") <= 2  # hashpartitioning (+AQE read)
    for j in ("SortMergeJoin", "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert j not in plan


def test_paragraph_dedup_shuffles_hashes_not_text(spark):
    """The keep-first decision joins on the 60-bit paragraph hash h; the
    cut-set joins back on doc_id.  Paragraph TEXT must appear in no
    exchange: both shuffles carry fixed-width columns only."""
    from bigvectorbench_spark.operators.curation import paragraph_dedup

    docs = spark.createDataFrame(
        [(i, "para one text\npara two text") for i in range(30)],
        "doc_id bigint, text string",
    )
    plan = plan_of(paragraph_dedup(docs))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # exchanges partition by hash h / min-key grouping / doc_id — never by
    # a string column; the paragraph string column is named `ps` pre-split
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "ps" not in line and "para" not in line, line


def test_dsir_ratio_table_broadcasts(spark):
    """The 4096-row bucket-ratio table must broadcast into the weight
    join; the corpus side is never sort-merge-joined, and the totals
    cross-join is a 1-row broadcast, not a cartesian of the corpus."""
    from bigvectorbench_spark.operators.dsir import dsir_report

    docs = spark.createDataFrame(
        [(i, f"src{i % 3}", " ".join(f"w{(i * 3 + j) % 17}" for j in range(10)))
         for i in range(40)],
        "doc_id bigint, source string, text string",
    )
    plan = plan_of(dsir_report(docs))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan


def test_temperature_sample_corpus_never_shuffles(spark):
    """The rate table broadcasts back; the corpus side contributes one
    count aggregation and one keep-filter aggregation — no sort-merge
    join, no corpus-wide repartition by a data column."""
    from bigvectorbench_spark.operators.curation import (
        temperature_sample_report)

    docs = spark.createDataFrame(
        [(i, f"src{i % 4}") for i in range(80)],
        "doc_id bigint, source string",
    )
    plan = plan_of(temperature_sample_report(docs))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_hashed_embed_knn_broadcasts_queries_and_limits_topk(spark):
    """The derived-embedding kNN inherits the knn_* plan contract: query
    embeddings broadcast (no corpus shuffle for the join) and the rank
    filter applies before the window shuffle (WindowGroupLimit)."""
    from bigvectorbench_spark.queries import hybrid

    plan = plan_of(hybrid.q_hashed_embed_knn(spark, "/root/testdata/sf0.001"))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan
    assert "WindowGroupLimit" in plan


def test_incremental_dedup_joins_keys_only(spark):
    """The corpus side reduces to DISTINCT 16-byte keys before the join;
    no cartesian, no text column in any exchange."""
    from bigvectorbench_spark.operators.dedup import incremental_dedup_report

    docs = spark.createDataFrame(
        [(i, f"s{i % 3}", f"text body number {i % 7}") for i in range(60)],
        "doc_id bigint, source string, text string")
    plan = plan_of(incremental_dedup_report(
        docs.filter("doc_id % 10 = 9"), docs.filter("doc_id % 10 != 9")))
    assert "CartesianProduct" not in plan
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "text" not in line, line


def test_shard_manifest_is_single_rollup_without_text(spark):
    """Shard assignment is a pure column function (map-only); the manifest
    adds exactly one hash exchange keyed on the shard id, and the
    map-side partial aggregate means document TEXT never enters the
    shuffle — the exchange carries <= n_shards * partitions tiny rows."""
    from bigvectorbench_spark.operators.packing import shard_assign, shard_manifest

    docs = spark.createDataFrame(
        [(i, "some words here") for i in range(50)],
        "doc_id bigint, text string",
    )
    assert "Exchange" not in plan_of(shard_assign(docs, n_shards=8))
    plan = plan_of(shard_manifest(docs, n_shards=8))
    assert plan.count("Exchange") <= 2  # hashpartitioning(shard) (+AQE read)
    assert "partial" in plan.lower()  # map-side combine before the exchange
    ex = plan[plan.index("Exchange"):]
    assert "text" not in ex.split("\n")[0]  # shuffle key/schema excludes text


def test_epoch_oversample_is_map_only(spark):
    """Replication is a bounded generator over a pure column function —
    no shuffle, no join; the audit adds exactly one rollup exchange."""
    from bigvectorbench_spark.operators.curation import (
        epoch_mix_report, epoch_oversample)

    docs = spark.createDataFrame(
        [(i, f"src{i % 3}", "words") for i in range(30)],
        "doc_id bigint, source string, text string",
    )
    assert "Exchange" not in plan_of(epoch_oversample(docs))
    plan = plan_of(epoch_mix_report(docs))
    assert plan.count("Exchange") <= 2  # hashpartitioning (+AQE read)
    assert "partial" in plan.lower()


def test_lsh_dedup_report_never_materializes_pairs(spark):
    """The scale property that motivates the operator: no candidate-pair
    self-join — no join condition on id < id, no pair distinct.  Both
    aggregations carry fixed-width (band, bucket, id) rows."""
    from bigvectorbench_spark.operators.dedup import lsh_dedup_report

    docs = spark.createDataFrame(
        [(i, "s", f"many words document number {i} with several tokens")
         for i in range(40)],
        "doc_id bigint, source string, text string",
    )
    plan = plan_of(lsh_dedup_report(docs))
    for bad in ("CartesianProduct", "BroadcastNestedLoopJoin"):
        assert bad not in plan
    # the pair operators join banded-with-banded on a.id < b.id, which
    # prints as an id-to-id '<' comparison; the pairless form has none
    assert " < id#" not in plan


def test_bq_search_plan_shape(pq, queries):
    """BQ candidate stage: codes scan + broadcast query block, partial
    top-n in the kernel; refine is broadcast pair joins — never a
    sort-merge join or cartesian over the corpus."""
    from bigvectorbench_spark.operators.bq import BQIndex

    idx = BQIndex.fit(pq, sort_col="id")
    codes = idx.encode(pq, keep=["id"])
    plan = plan_of(idx.search(codes, queries, k=5, refine_train=pq,
                              method="kernel"))
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan          # refine pair join
    assert "WindowGroupLimit" in plan           # rank filter before shuffle


def test_bq_prefilter_pushed_to_scan(pq, queries):
    """pre_filter reaches the parquet scan of the codes table."""
    from bigvectorbench_spark.operators.bq import BQIndex

    idx = BQIndex.fit(pq, sort_col="id")
    codes_path_df = idx.encode(pq, keep=["id", "label"])
    plan = plan_of(idx.search(codes_path_df, queries, k=5,
                              pre_filter="label = 3", method="expr"))
    # the parquet source is below the encode projection, so the predicate
    # must reach the scan as a pushed filter
    assert "PushedFilters: [" in plan and "EqualTo(label,3)" in plan
    assert "CartesianProduct" not in plan


def test_opq_search_plan_shape(pq, queries):
    """OPQ = rotation kernel + PQ ADC + original-space refine: broadcast
    pair joins only, rank limits applied before the window shuffle."""
    from bigvectorbench_spark.operators.opq import OPQIndex

    idx = OPQIndex.fit(pq, m=2, ksub=8, iters=1, sort_col="id")
    enc = idx.encode(pq).select("id", "codes")
    plan = plan_of(idx.search(enc, queries, k=5, refine_train=pq, overfetch=2))
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan


def test_ivf_delta_assign_is_map_only(pq):
    """Incremental maintenance contract: assigning a delta batch to the
    existing centroids adds NO exchange — the new data never reshuffles
    the base and the fit never reruns."""
    from bigvectorbench_spark.operators.similarity import IVFIndex

    idx = IVFIndex.fit(pq, nlist=4, seed=1, max_iter=4, sort_col="id")
    plan = plan_of(idx.assign(pq.filter("id % 10 = 0")))
    assert "Exchange" not in plan


def test_bq_leg_hybrid_has_no_corpus_crossjoin(spark, sf_dir):
    """The indexed-leg hybrid's scale claim, plan-asserted: the brute twin
    (q_hybrid_rrf_topk) carries a corpus-wide BroadcastNestedLoopJoin by
    declaration; the BQ-leg twin (q_hybrid_rrf_scale) must NOT — its
    candidate stage is the Arrow hamming kernel (mapInArrow) and every
    join after it (refine, fusion) is a bounded equi-join."""
    from bigvectorbench_spark.queries import hybrid

    full = plan_of(hybrid.q_hybrid_rrf_scale(spark, sf_dir))
    assert "CartesianProduct" not in full
    # BM25's single-row corpus-stats crossJoin is the ONLY nested-loop
    # join allowed in the fused plan (a scalar broadcast, bounded by
    # construction); the VECTOR leg itself must have none at all.
    vec = plan_of(hybrid._bq_vec_leg(spark, sf_dir, out_k=20))
    assert "CartesianProduct" not in vec
    assert "BroadcastNestedLoopJoin" not in vec
    # the brute twin declares exactly that corpus-wide join — the
    # contrast is the point
    brute = plan_of(hybrid.q_hybrid_rrf_topk(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in brute or "CartesianProduct" in brute
