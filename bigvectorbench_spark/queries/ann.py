"""ANN indexes: HNSW, IVF, PQ, IVF-PQ, OPQ, BQ, SQ8 and JL projection,
their incremental (delta) forms and their recall gates."""

from __future__ import annotations

import math
import os
import sys

import numpy as np
import pyarrow.parquet as pq_
from pyspark.sql import functions as F

from bigvectorbench_spark.operators import dedup as dd, projection as pj
from bigvectorbench_spark.operators.bq import BQIndex
from bigvectorbench_spark.operators.filter_knn import (
    filtered_ivf_knn, filtered_knn)
from bigvectorbench_spark.operators.hnsw import (
    build_hnsw_shards, hnsw_delta_report, hnsw_delta_shards, hnsw_search,
    load_or_build_hnsw)
from bigvectorbench_spark.operators.knn import knn
from bigvectorbench_spark.operators.opq import opq_fit_numpy, OPQIndex
from bigvectorbench_spark.operators.pq import (
    ivfpq_search, pq_delta_report, PQIndex)
from bigvectorbench_spark.operators.projection import projection_matrix
from bigvectorbench_spark.operators.quantize import (
    knn_quantized, quantize_table)
from bigvectorbench_spark.operators.similarity import (
    auto_nprobe, ivf_delta_report, IVFIndex, _kmeans_pp)
from bigvectorbench_spark.sources.tables import (
    load_table, table_fingerprint, table_rows)

from bigvectorbench_spark.queries._common import (
    _gate, _knn_oracle, _L2, _ORACLE_SF_DIR, _queries_mod, _r,
    _recall_gate, _train)


def _pinned_mean(n_rows: int):
    """Mean recall to 2 dp, pinned by the oracle only on corpora of at most
    500 rows (null elsewhere)."""
    return (F.when(F.lit(n_rows <= 500), F.round(F.avg("recall"), 2))
            .cast("double").alias("mean_recall_r2"))


def q_hnsw_knn(spark, sf):
    """§2.7 HNSW, re-expressed for Spark: partition-local HNSW graphs
    (one artifact per shard, built in parallel) + broadcast-query beam
    search + global top-k merge — the shard-and-merge architecture every
    distributed ANN system ships (operators/hnsw.py module doc cites the
    reference's five HNSW client wrappers).  Declared with ef >= shard
    size, where beam search is provably EXACT (connectivity-repaired
    graph), so the oracle is the exact kNN SQL — the approximate regime's
    recall/ef curve is pinned in test_hnsw.  Emits ids/ranks (numpy vs
    expression float folds differ ~1e-15, same convention as
    knn_euclid_gemm).

    Shard count derives from the corpus so SHARD SIZE stays bounded
    (~500 rows ≤ ef) — the property the exactness claim rests on.  A
    fixed shard count was the one superlinear outlier of the scaling
    bench: at sf1 it put 5000 rows/shard, silently breaking
    ef ≥ shard size and growing each task's Python insert loop 10×
    (21× wall per decade).  At the oracle SF this derivation reproduces
    the original 4-shard configuration exactly.  The row count comes
    from the parquet FOOTER (table_rows — the statistic a cluster
    catalog serves), not a ``count()`` action, so declaring the query
    costs no corpus scan.  This bounded-shard
    config is the ORACLE-EXACTNESS declaration; the serving-scale
    configuration (few large shards, ef ≪ shard size) is
    ``q_hnsw_scale_search`` below."""
    t = _train(spark, sf)
    num_shards = max(4, -(-table_rows(sf, "embeddings") // 500))
    shards = build_hnsw_shards(t, m=8, ef_construction=64,
                               num_shards=num_shards, seed=3)
    res = hnsw_search(shards, _queries_mod(spark, sf), k=10, ef=2048)
    return res.select("qid", "id", F.col("rank").cast("bigint").alias("rank"))


def q_hnsw_delta_knn(spark, sf):
    """Incremental HNSW maintenance (the
    M3-inserts × M2-index composition ivf_delta_knn and
    sparse_delta_report already pin for their families): the graph
    shards build on the BASE corpus (90%, the ivf_delta split), a later
    arrival batch (10%) absorbs as its OWN shard(s) via
    hnsw.hnsw_delta_shards — no existing shard is read or re-linked
    (a stored-artifact engine appends; rewriting neighbor lists across
    a persisted graph is the in-memory serving systems' move) — and
    search runs over base ∪ delta through the unchanged shard-and-merge
    path.  Declared in the bounded-shard / ef ≥ shard-size regime, where
    BOTH sides are provably exact, so absorb-then-search ≡ full rebuild
    and the oracle is the exact kNN SQL (the hnsw_knn convention); the
    zero-base-mutation property is pinned byte-level in test_hnsw."""
    t = _train(spark, sf)
    base, delta = t.filter("id % 10 != 0"), t.filter("id % 10 = 0")
    n_rows = table_rows(sf, "embeddings")
    num_shards = max(4, -(-(n_rows * 9 // 10) // 500))
    # Persisted: the base artifact is read twice (delta sizing stats +
    # the union search) — persisting IS the M2 contract (at scale this
    # frame is the stored parquet artifact, metadata-cheap).
    base_shards = build_hnsw_shards(base, m=8, ef_construction=64,
                                    num_shards=num_shards, seed=3).persist()
    delta_shards = hnsw_delta_shards(
        delta, base_shards, m=8, ef_construction=64, seed=3,
        n_delta=n_rows - n_rows * 9 // 10)
    res = hnsw_search(base_shards.unionByName(delta_shards),
                      _queries_mod(spark, sf), k=10, ef=2048)
    return res.select("qid", "id", F.col("rank").cast("bigint").alias("rank"))


def q_hnsw_delta_report(spark, sf):
    """The rebuild-on-evidence meter beside q_hnsw_delta_knn (the
    family convention ivf_delta_report and
    sparse_delta_report already set): TWO consecutive arrival batches
    (10% each) absorb as append-only shards against an 80% base, then
    hnsw.hnsw_delta_report emits the search-work accounting — shard
    counts, row occupancy, and work_growth = shards_total /
    shards_rebuilt, the per-query beam-invocation multiplier the
    append-only layout pays vs a same-sizing rebuild (search cost is
    Σ per-shard beams, so shard count IS the work unit).  The second
    absorb sizes against base ∪ first-delta — the real N-absorb usage,
    so the meter reflects accumulated appends, not a single batch.
    Value-oracled exactly: the report is pure shard-metadata arithmetic
    (counts, integer division, one 6-dp round), and the shard-sizing
    rules (max(4, ceil(rows/500)) base shards; delta shards at the
    prior layout's rows-per-shard) replay in ANSI SQL from the same
    row counts.  Reference analog: index build/rebuild cost accounting,
    runner.py:446-489."""
    t = _train(spark, sf)
    base = t.filter("id % 10 >= 2")
    d1, d2 = t.filter("id % 10 = 0"), t.filter("id % 10 = 1")
    n = table_rows(sf, "embeddings")
    n_d1, n_d2 = (n + 9) // 10, (n + 8) // 10   # ids are 0..n-1 contiguous
    n_base = n - n_d1 - n_d2
    num_shards = max(4, -(-n_base // 500))
    base_shards = build_hnsw_shards(base, m=8, ef_construction=64,
                                    num_shards=num_shards, seed=3).persist()
    s1 = hnsw_delta_shards(d1, base_shards, m=8, ef_construction=64,
                           seed=3, n_delta=n_d1).persist()
    s2 = hnsw_delta_shards(d2, base_shards.unionByName(s1), m=8,
                           ef_construction=64, seed=3, n_delta=n_d2).persist()
    # Non-empty-bucket guard: the oracle REPLAYS the shard
    # sizing from raw row counts, which assumes every pmod(hash(id),
    # num_shards) bucket produced an artifact row.  The shipped fixtures
    # are dense, but a tiny delta or unlucky hashing at another fixture
    # size could drop a bucket — fail HERE with a diagnosis instead of
    # surfacing as an inscrutable oracle hash mismatch.  Replay uses the
    # same arithmetic the oracle does (per-shard target from the PRIOR
    # layout, ceil for the delta shard count).
    per1 = max(1, n_base // num_shards)
    nds1 = -(-n_d1 // per1)
    per2 = max(1, (n_base + n_d1) // (num_shards + nds1))
    nds2 = -(-n_d2 // per2)
    # ONE guard job for all three layouts: the union counts every
    # shard frame in a single action — which also materializes the three
    # persists the report consumes — instead of three sequential count()
    # jobs.  Same counts, same assertion.
    got = {r["nm"]: r["count"] for r in
           base_shards.select(F.lit("base").alias("nm"))
           .unionByName(s1.select(F.lit("delta1").alias("nm")))
           .unionByName(s2.select(F.lit("delta2").alias("nm")))
           .groupBy("nm").count().collect()}
    for want, name in ((num_shards, "base"), (nds1, "delta1"),
                       (nds2, "delta2")):
        if got.get(name, 0) != want:
            raise AssertionError(
                f"hnsw_delta_report fixture: {name} produced "
                f"{got.get(name, 0)} shard rows, sizing expects {want} — "
                f"an empty hash bucket breaks the value oracle's sizing "
                f"replay (build_hnsw_shards non-empty-bucket note)")
    return hnsw_delta_report(base_shards, s1.unionByName(s2))


def q_hnsw_recall(spark, sf):
    """Driver-visible gate for HNSW's APPROXIMATE regime (same contract
    as ``q_ivf_recall``): recall of beam search at
    ef=16 — far below the ~150-row shard size, so the exactness escape
    hatch (hnsw.py ef >= n) never engages and the gate exercises the real
    beam/neighbor-selection code paths — against the exact kNN, both in
    Spark.  Measured at the oracle sf: mean 0.99 / min 0.90 (m=8,
    ef_construction=64, 4 shards, seed 3; scripts/calibrate_gates.py),
    identical at sf0.001.  Tight thresholds 0.95/0.8 sit just under the
    floor so a partial graph-build or beam defect (0.99 → 0.93) fails;
    off the oracle sf the gate relaxes to a defect-only floor 0.7/0.5.
    ``mean_recall_r2`` additionally pins the rounded VALUE (deterministic:
    seeded build, deterministic beam), the srp_recall tightening applied
    here from the start.  The pin only holds where it was calibrated —
    the clamped ≤500-row embeddings corpora (the shipped sf0.001/sf0.01
    fixtures; the 0.99 constant is seed-dependent, calibrated on the
    seed-42 driver tables) — so off them both sides emit NULL (at sf0.1
    the same code measures 0.88: larger shards at fixed ef=16
    legitimately lower recall; the ok booleans still gate against the
    defect floor there).  The pin predicate is row-count ≤ 500 from the
    parquet footer — the IDENTICAL predicate the DuckDB oracle evaluates
    (``count(embeddings) <= 500``), so a renamed sf dir can't make the
    two sides disagree."""
    mean_thr, min_thr = _gate(sf, tight=(0.95, 0.8), floor=(0.7, 0.5))
    t, q = _train(spark, sf), _queries_mod(spark, sf)
    n_rows = table_rows(sf, "embeddings")
    # Bounded ~125-row shards: the calibrated oracle-SF configuration was
    # 4 shards over 500 rows, and recall at fixed ef depends on shard
    # size — deriving the count keeps every SF in the calibrated regime
    # (and build wall time flat per decade, see q_hnsw_knn).
    num_shards = max(4, -(-n_rows // 125))
    shards = build_hnsw_shards(t, m=8, ef_construction=64,
                               num_shards=num_shards, seed=3)
    return _recall_gate(
        hnsw_search(shards, q, k=10, ef=16), knn(t, q, k=10, method="expr"),
        mean_thr, min_thr, _pinned_mean(n_rows))


# Serving-scale HNSW configuration: shard count tracks
# EXECUTORS (fixed 8 — local[32]/4, the contract every sharded ANN serving
# system uses: milvus segments ∝ query nodes), NOT corpus size, so each
# shard holds thousands-to-millions of rows and beam width ef ≪ shard size
# does genuinely sublinear per-shard work.  The bounded-shard q_hnsw_knn
# config above stays as the oracle-EXACTNESS declaration; this one is the
# recall/QPS trade-off point the reference's Pareto output plots.
_HNSW_SCALE_CFG = dict(m=8, ef_construction=64, num_shards=8, seed=3)
# Beam width resolves PER SHARD from its row count (hnsw.auto_ef: ef ∝
# n_shard^0.9, calibrated on the measured recall ladder).
# On the ≤500-row oracle corpora this floors at 24 ≥ shard size → exact
# search, so the gate's pin-1.0 regime is unchanged; at the 200k fixture it
# resolves to ~382 and holds recall ≈0.88 where fixed ef=24 fell to 0.44.
_HNSW_SCALE_EF = "auto"


def _hnsw_scale_index(spark, sf):
    """Load-or-build the persisted scale-mode index artifact for ``sf``.

    Returns (shards DataFrame, corpus row count).  The cache key is the
    sf dir basename + footer row count + footer-statistics fingerprint —
    the fingerprint keeps a corpus REGENERATED with a new seed (same
    shape, same count, often same byte size) from being served a stale
    graph.  No count() action and no data read runs."""
    n = table_rows(sf, "embeddings")
    key = (f"{os.path.basename(str(sf).rstrip('/'))}_{n}"
           f"_{table_fingerprint(sf, 'embeddings')}")
    shards = load_or_build_hnsw(_train(spark, sf), cache_key=key,
                                **_HNSW_SCALE_CFG)
    return shards, n


def _queries_block(spark, sf, n_rows):
    """A fixed-size (~100) query block whatever the corpus size —
    the serving workload shape: query volume is set by traffic, not by
    corpus growth, so search-cost scaling isolates the per-query cost vs
    corpus size (the claim an ANN index exists to make)."""
    stride = max(1, n_rows // 100)
    return load_table(spark, sf, "embeddings").filter(
        f"vec_id % {stride} = 0").select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("vec"))


def q_hnsw_scale_search(spark, sf):
    """§2.7 HNSW at the SERVING-SCALE configuration: 8 executor-aligned
    shards, beam ef='auto' (per-shard adaptive width, hnsw.auto_ef — holds
    recall ≈0.885 as shards grow where fixed ef=24 decayed to 0.44),
    search served from the persisted index artifact
    (load_or_build_hnsw — built once, the M2 build/search cost split;
    reference milvus/module.py:662-686).  Fixed ~100-query block
    (traffic-shaped, not corpus-shaped).  Approximate by design →
    rows-only correctness here; the recall at this exact configuration is
    driver-gated by ``hnsw_scale_recall`` and the per-decade search work
    is measured in SCALING.md (work FRACTION of brute falls 0.20 → 0.136
    per decade at constant recall)."""
    shards, n = _hnsw_scale_index(spark, sf)
    q = _queries_block(spark, sf, n)
    res = hnsw_search(shards, q, k=10, ef=_HNSW_SCALE_EF)
    return res.select("qid", "id", F.col("rank").cast("bigint").alias("rank"))


def q_hnsw_scale_recall(spark, sf):
    """Driver-visible recall gate for the serving-scale HNSW config —
    same contract as ``q_hnsw_recall`` but at the 8-fixed-shard / ef='auto'
    configuration ``q_hnsw_scale_search`` serves.  Calibrated at
    the oracle sf (scripts/calibrate_gates.py): on the clamped 500-row
    corpus the 8-shard union (8 × top-10 from 62-row shards at beam 24)
    recovers the exact top-10 completely — mean = min = 1.0, so the pin
    is 1.0 and any build/beam defect that costs even one neighbor per
    query trips the 0.95/0.8 thresholds.  The approximate regime engages
    above the clamp (sf0.1: mean 0.975, min 0.8; 250-row shards), where
    the pin is NULL and the defect floor (0.7/0.5) gates — at sf1
    (2500-row shards) the same code measures the genuine large-shard
    recall reported in SCALING.md.  Pin predicate = footer row count
    ≤ 500, identical to the oracle's count(embeddings) <= 500."""
    # Off-oracle floor 0.8/0.35: with ef='auto' the measured recall
    # holds ~0.885 mean / ≥0.5 min at BOTH the 20k and 200k fixtures
    # (SCALING.md third table) instead of decaying
    # with shard size, so the defect floor tightens.  Still defect-only:
    # a broken build/beam lands far below it.
    mean_thr, min_thr = _gate(sf, tight=(0.95, 0.8), floor=(0.8, 0.35))
    shards, n_rows = _hnsw_scale_index(spark, sf)
    t = _train(spark, sf)
    q = _queries_block(spark, sf, n_rows)
    return _recall_gate(
        hnsw_search(shards, q, k=10, ef=_HNSW_SCALE_EF),
        knn(t, q, k=10, method="expr"), mean_thr, min_thr, _pinned_mean(n_rows))


def q_filter_ivf_knn(spark, sf):
    """Q4/Q5 per-query predicates composed with §2.7 IVF cell pruning under
    the G5 selectivity policy (reference
    create_artificial_datasets.py:151-285 applied to the index scan — its
    amazon-5filter regime).  Equality predicate keeps ~10% of rows →
    the policy picks the PRE branch: the predicate joins INSIDE the probed
    cells, so only cells ∩ label survivors are scored (with the exact
    expression fold → distances hash-match).  Value-oracled the ivf_knn
    way: the seeded KMeans assignment + probe lists are recomputed at
    oracle-generation time and embedded as SQL literals, with the label
    equi-join added on top."""
    t = _train(spark, sf)
    idx = IVFIndex.fit(t, nlist=8, seed=1, max_iter=8, sort_col="id")
    res = filtered_ivf_knn(
        idx, idx.assign(t), _queries_mod(spark, sf), k=10,
        filter_template="label == {label}", query_param_cols=["label"],
        nprobe=4, strategy="auto", selectivity=0.1)
    return res.select("qid", "id", _r(F.col("dist")).alias("dist"),
                      F.col("rank").cast("bigint").alias("rank"))


def q_filter_ivf_recall(spark, sf):
    """Recall gate for the POST branch of the filtered-IVF composition
    (range predicate keeps ~44% of rows → ANN-first: the masked-GEMM IVF
    kernel over-fetches k·1.5/selectivity label-blind candidates, the
    predicate checks ride on those rows only).  Same contract as
    ``q_ivf_recall``: recall vs the EXACT filtered kNN at the identical
    predicate, emitted as threshold booleans the oracle asserts TRUE.
    Calibrated measurements (same protocol as scripts/calibrate_gates.py):
    sf0.01 mean 0.78 / min 0.60; sf0.001 0.76/0.60; sf0.1 0.737/0.50 —
    tight thresholds 0.7/0.45 sit just under the oracle-sf floor so a
    partial degradation (probe ranking, mask, or predicate-join defect)
    fails the gate; off-oracle the defect-only floor is 0.5/0.25, under
    the worst measured healthy tail."""
    mean_thr, min_thr = _gate(sf, tight=(0.7, 0.45), floor=(0.5, 0.25))
    t = _train(spark, sf)
    q = (_queries_mod(spark, sf)
         .withColumn("lo", F.col("label") - 2)
         .withColumn("hi", F.col("label") + 2))
    idx = IVFIndex.fit(t, nlist=8, seed=1, max_iter=8, sort_col="id")
    approx = filtered_ivf_knn(
        idx, idx.assign(t), q, k=10,
        filter_template="label >= {lo} and label <= {hi}",
        query_param_cols=["lo", "hi"], nprobe=4, strategy="auto",
        selectivity=0.44)
    exact = filtered_knn(
        t, q, k=10, filter_template="label >= {lo} and label <= {hi}",
        query_param_cols=["lo", "hi"])
    return _recall_gate(approx, exact, mean_thr, min_thr)


def q_ivf_knn(spark, sf):
    """M7: IVF (KMeans cluster-pruned) ANN at nprobe=4.  Value-oracled:
    the deterministic driver-side KMeans (seeded kmeans++, fixed iteration
    count) is recomputed in ``oracles()`` and the resulting
    cell assignments / probe lists embedded as SQL literals, so DuckDB can
    score the identical candidate sets.  Ids/ranks are emitted (not the
    GEMM-kernel distances, which differ from the SQL fold at ~1e-8 —
    same convention as knn_euclid_gemm)."""
    t = _train(spark, sf)
    idx = IVFIndex.fit(t, nlist=8, seed=1, max_iter=8, sort_col="id")
    res = idx.search(idx.assign(t), _queries_mod(spark, sf), k=10, nprobe=4)
    return res.select("qid", "id", F.col("rank").cast("bigint").alias("rank"))


def q_pq_knn(spark, sf):
    """§2.7 PQ: product-quantized ADC scan (reads ARRAY<SMALLINT> codes only,
    never float vectors) + exact refine of the overfetched candidates.
    Value-oracled: the deterministic codebook fit / encode / LUT-sum ADC is
    recomputed at oracle-generation time and the per-query candidate sets
    embedded as literals; the refine stage uses the expression fold on both
    engines, so even distances hash-match (see _ann_oracles)."""
    t = _train(spark, sf)
    idx = PQIndex.fit(t, m=8, ksub=16, seed=1, max_iter=8, sort_col="id")
    res = idx.search(idx.encode(t), _queries_mod(spark, sf), k=10,
                     refine_train=t, overfetch=4)
    return res.select("qid", "id", _r(F.col("dist")).alias("dist"),
                      F.col("rank").cast("bigint").alias("rank"))


def q_ivfpq_knn(spark, sf):
    """§2.7 IVF_PQ: cell pruning bounds which rows are scanned, ADC bounds
    what is read per row; exact refine restores result quality.
    Value-oracled via recomputed candidate sets (see _ann_oracles)."""
    t = _train(spark, sf)
    ivf = IVFIndex.fit(t, nlist=8, seed=1, max_iter=8, sort_col="id")
    pq = PQIndex.fit(t, m=8, ksub=16, seed=1, max_iter=8, sort_col="id")
    table = ivf.assign(pq.encode(t))
    res = ivfpq_search(ivf, pq, table, _queries_mod(spark, sf), k=10, nprobe=4,
                       refine_train=t, overfetch=4)
    return res.select("qid", "id", _r(F.col("dist")).alias("dist"),
                      F.col("rank").cast("bigint").alias("rank"))


def q_ivf_delta_knn(spark, sf):
    """Incremental IVF maintenance (the M3-inserts × M2-index composition a
    production deployment actually runs): the index is fit on the BASE
    corpus (90%), a later delta batch (10%) is assigned to the EXISTING
    centroids — a map-only operation, no refit, no reshuffle of the base —
    and search runs over base ∪ delta.  Value-oracled like ivf_knn: the
    base-only fit, the assignments of every resident row, and the probe
    lists are recomputed at oracle-generation time and embedded."""
    t = _train(spark, sf)
    base, delta = t.filter("id % 10 != 0"), t.filter("id % 10 = 0")
    idx = IVFIndex.fit(base, nlist=8, seed=1, max_iter=8, sort_col="id")
    table = idx.assign(base).unionByName(idx.assign(delta))
    res = idx.search(table, _queries_mod(spark, sf, mod=1), k=10, nprobe=4)
    return res.select("qid", "id", F.col("rank").cast("bigint").alias("rank"))


def q_ivf_delta_report(spark, sf):
    """The maintenance meter beside q_ivf_delta_knn: per-cell occupancy
    (base vs delta rows) and mean centroid distance — the drift signal that
    decides when re-clustering pays.  Value-oracled: DuckDB recomputes the
    distances from the embedded centroid literals with the same L2 fold,
    DECIMAL accumulation and rounding."""
    t = _train(spark, sf)
    base, delta = t.filter("id % 10 != 0"), t.filter("id % 10 = 0")
    idx = IVFIndex.fit(base, nlist=8, seed=1, max_iter=8, sort_col="id")
    return ivf_delta_report(idx, idx.assign(base), idx.assign(delta)).select(
        F.col("cluster_id").cast("bigint").alias("cluster_id"),
        "n_base", "n_delta", "mean_dist")


def q_pq_delta_report(spark, sf):
    """Incremental PQ maintenance meter (completes the
    M2×M3 maintenance story across every core ANN family: IVF has
    ivf_delta_knn/_report, sparse has sparse_delta_report/_parity, HNSW
    has hnsw_delta_knn/_report): codebooks fit on the BASE corpus (90%),
    the arrival batch (10%) encodes with the FROZEN books — map-only,
    no refit, no reshuffle of the stored codes — and pq.pq_delta_report
    meters the drift quantity that decides a codebook re-fit: mean
    squared reconstruction error per side and their ratio.  Value-
    oracled like ivf_delta_report: the base-only fit and every row's
    codes are recomputed at oracle-generation time and embedded; DuckDB
    recomputes each reconstruction error from the embedded codebook
    literals with the same DECIMAL accumulation and rounding, so a
    drifted fit, a wrong encode, or broken accounting all mismatch."""
    t = _train(spark, sf)
    base, delta = t.filter("id % 10 != 0"), t.filter("id % 10 = 0")
    idx = PQIndex.fit(base, m=8, ksub=16, seed=1, max_iter=8, sort_col="id")
    return pq_delta_report(idx, idx.encode(base), idx.encode(delta))


def q_opq_knn(spark, sf):
    """§2.7 OPQ (Ge et al. 2013): an orthogonal rotation learned by
    alternating codebook fit / Procrustes solve is applied before the PQ
    split, aligning variance with the subspace cuts; ADC runs in the
    rotated space, the exact refine in the ORIGINAL space (orthogonal R
    preserves L2).  Rotated coordinates round to 6 dp (the jl_knn
    discipline) so the batched Arrow rotation kernel and any external
    full-matrix recomputation agree bit-for-bit.  Value-oracled: the
    deterministic fit (shared numpy path ``opq_fit_numpy``), rotation,
    encode and ADC candidate selection are recomputed at oracle-generation
    time; refine distances hash-match via the expression fold (the pq_knn
    convention)."""
    t = _train(spark, sf)
    idx = OPQIndex.fit(t, m=8, ksub=16, iters=3, seed=1, max_iter=8,
                       sort_col="id")
    enc = idx.encode(t).select("id", "codes")
    res = idx.search(enc, _queries_mod(spark, sf), k=10,
                     refine_train=t, overfetch=4)
    return res.select("qid", "id", _r(F.col("dist")).alias("dist"),
                      F.col("rank").cast("bigint").alias("rank"))


def q_opq_recall(spark, sf):
    """Recall gate for the OPQ path (the ivf/pq/bq_recall contract):
    threshold booleans vs exact kNN.  Measured at sf0.01: mean 0.72 /
    min 0.5 — 0.13 recall ABOVE plain PQ (0.59/0.4, pq_recall docstring)
    at the identical m=8/ksub=16/overfetch=4 budget: the learned rotation
    is worth a third more recall on this corpus, the Ge et al. result
    reproduced end-to-end.  Tight thresholds 0.65/0.4 sit just under the
    measured floor; off the oracle sf the gate relaxes to 0.4/0.1
    (measured sf0.1: mean 0.497 / min 0.2 — the same published density
    decay at a fixed code budget pq_recall documents)."""
    mean_thr, min_thr = _gate(sf, tight=(0.65, 0.4), floor=(0.4, 0.1))

    t, q = _train(spark, sf), _queries_mod(spark, sf)
    idx = OPQIndex.fit(t, m=8, ksub=16, iters=3, seed=1, max_iter=8,
                       sort_col="id")
    enc = idx.encode(t).select("id", "codes")
    approx = idx.search(enc, q, k=10, refine_train=t, overfetch=4)
    return _recall_gate(approx, knn(t, q, k=10, method="expr"),
                        mean_thr, min_thr)


def q_jl_knn(spark, sf):
    """Johnson-Lindenstrauss compressed search: embeddings projected
    64→16 dims (seeded Gaussian matrix, 4× bandwidth/FLOP cut), exact
    kNN in the reduced space.  Projected coordinates round to 6 dp before
    ranking so the whole pipeline — projection fold included — is
    engine-stable and value-oracled."""
    emb = load_table(spark, sf, "embeddings").select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec"))
    proj = pj.project(emb, out_dim=16, in_dim=64, seed=1, round_to=6)
    q = proj.filter("id % 50 = 0").select(F.col("id").alias("qid"), "vec")
    res = knn(proj, q, k=10, method="expr")
    return res.select("qid", "id", _r(F.col("dist")).alias("dist"),
                      F.col("rank").cast("bigint").alias("rank"))


def q_bq_knn(spark, sf):
    """§2.7 BQ (binary quantization): every dimension collapses to one sign
    bit around its learned per-dimension mean, the packed 64-bit words are
    scanned with XOR+popcount (1/64th the read width of the float column,
    pure whole-stage codegen), and the hamming pre-rank's k·overfetch
    survivors are re-ranked exactly.  The reference carries binary codes as
    a first-class point type (datasets.py:348-352 point_type='bit'); BQ is
    the float→binary compression every production store added on top.
    Value-oracled: the deterministic driver-side fit (float64 mean over the
    id-sorted sample) and the integer hamming candidate selection are
    recomputed at oracle-generation time and the candidate sets embedded as
    literals; the refine uses the expression L2 fold on both engines, so
    distances hash-match (the pq_knn convention)."""
    t = _train(spark, sf)
    idx = BQIndex.fit(t, sort_col="id")
    codes = idx.encode(t, keep=["id"])
    # method default = the Arrow byte-LUT kernel (per-batch partial top-n
    # with the (hamming, id) tie rule — pinned equal to the expr/global
    # form in test_bq, so the embedded oracle candidates check either path)
    res = idx.search(codes, _queries_mod(spark, sf), k=10,
                     refine_train=t, overfetch=4)
    return res.select("qid", "id", _r(F.col("dist")).alias("dist"),
                      F.col("rank").cast("bigint").alias("rank"))


def q_bq_recall(spark, sf):
    """Closes the BQ oracle self-reference the same way ivf_recall/pq_recall
    do: recall of the BQ hamming-prerank+refine path against the EXACT kNN,
    both computed in Spark, emitted as oracle-asserted threshold booleans.
    Measured at sf0.01: mean 0.68 / min 0.4 (1-bit/dim codes, overfetch=4);
    tight thresholds 0.6/0.3 sit just under that floor so a partial
    packing/threshold degradation fails the gate, not only a cratering bug.
    Off the oracle sf the gate relaxes to a defect-only floor 0.35/0.05:
    measured at sf0.1 the same path yields mean 0.465 / min 0.1 — recall at
    a fixed 1-bit/dim budget genuinely falls as corpus density grows (the
    same published behavior pq_recall documents), so the floor sits under
    the healthy-at-scale tail."""
    mean_thr, min_thr = _gate(sf, tight=(0.6, 0.3), floor=(0.35, 0.05))
    t, q = _train(spark, sf), _queries_mod(spark, sf)
    idx = BQIndex.fit(t, sort_col="id")
    approx = idx.search(idx.encode(t, keep=["id"]), q, k=10,
                        refine_train=t, overfetch=4)
    return _recall_gate(approx, knn(t, q, k=10, method="expr"),
                        mean_thr, min_thr)


def q_sq8_knn(spark, sf):
    """§2.7 IVF_SQ8's scalar-quantization stage (milvus/module.py:595-620)
    as a declared, fully value-oracled query: per-vector symmetric int8
    codes (scale = max|v|/127, float32), dequantize inside the scan
    projection (narrow, whole-stage codegen), exact L2 ranking over the
    4×-smaller stored column — queries stay full precision, matching the
    reference's SQ8 semantics.  Unlike pq/bq there is no candidate stage to
    embed: the oracle replays the ENTIRE quantize→dequantize→rank pipeline
    in SQL (float32 casts at the same three points, double fold), so codes,
    scales, distances, and ranks are all independently recomputed."""
    t = _train(spark, sf)
    tq = quantize_table(t, vec_col="vec", out_col="qvec").select("id", "qvec")
    res = knn_quantized(tq, _queries_mod(spark, sf), k=10, method="expr")
    return res.select("qid", "id", _r(F.col("dist")).alias("dist"),
                      F.col("rank").cast("bigint").alias("rank"))


def q_sq8_recall(spark, sf):
    """Closes the SQ8 loop the ivf_recall/pq_recall way: recall of the
    dequantized ranking against the EXACT full-precision kNN, emitted as
    oracle-asserted threshold booleans.  SQ8 error is bounded by the
    per-dimension quantization step, so recall is near-perfect by
    construction (measured 1.0/1.0 at sf0.001 and sf0.01,
    scripts/calibrate_gates.py convention); the tight gate 0.97/0.9 trips
    on any scale/sign/rounding defect while tolerating a rare boundary
    swap.  Off the oracle sfs it relaxes to a defect-only 0.9/0.7 floor."""
    mean_thr, min_thr = _gate(sf, tight=(0.97, 0.9), floor=(0.9, 0.7))

    t, q = _train(spark, sf), _queries_mod(spark, sf)
    tq = quantize_table(t, vec_col="vec", out_col="qvec").select("id", "qvec")
    return _recall_gate(knn_quantized(tq, q, k=10, method="expr"),
                        knn(t, q, k=10, method="expr"), mean_thr, min_thr)


def q_ivf_recall(spark, sf):
    """Closes the IVF oracle self-reference (the ivf_knn oracle embeds the
    recomputed probe lists, so a bug corrupting both sides identically
    would pass): recall of the IVF path against the EXACT kNN, both
    computed in Spark, emitted as threshold booleans the oracle asserts
    TRUE.  Measured recall at sf0.01 is mean 0.79 / min 0.6 (nlist=8,
    nprobe=4; scripts/calibrate_gates.py); the tight thresholds 0.7/0.45
    sit just under the measured floor, so even a *partial* index
    degradation (e.g. mean 0.79 → 0.62 from a probe-ranking defect) now
    fails the driver gate — not only a cratering bug.  Off the oracle sf
    the distribution shifts (measured min 0.5 at sf0.001), so the gate
    relaxes to a defect-only floor of 0.4/0.2."""
    mean_thr, min_thr = _gate(sf, tight=(0.7, 0.45), floor=(0.4, 0.2))
    t, q = _train(spark, sf), _queries_mod(spark, sf)
    idx = IVFIndex.fit(t, nlist=8, seed=1, max_iter=8, sort_col="id")
    return _recall_gate(idx.search(idx.assign(t), q, k=10, nprobe=4),
                        knn(t, q, k=10, method="expr"), mean_thr, min_thr)


def q_ivf_auto_recall(spark, sf):
    """Driver gate for IVF's ``nprobe="auto"`` mode (the
    auto-knob trilogy's IVF member beside hnsw.auto_ef and
    sparse.auto_m): the index builds under the classic nlist ≈ sqrt(n)
    rule and searches with the calibrated recall-holding probe count
    auto_nprobe(nlist) = ceil(0.0934·nlist^0.6215) (measured decade
    ladder: recall 0.954–0.998 across 20k→632k where a fixed nprobe=4
    decays 0.997→0.813).  Emits the RESOLVED
    auto_nprobe as a value column — the oracle recomputes the ceil
    formula in SQL from the same row count, so a drifted coefficient,
    a broken resolution path, or a wrong nlist derivation all
    hash-mismatch.  Regime note, measured: the clamped sf fixtures
    (500–2000 near-unclustered rows, cells of ~sqrt(n)) sit far below
    the calibrated regime and auto resolves to nprobe=1 with mean
    recall 0.27/0.34 (sf0.001/0.01) and 0.2225 (sf0.1) — the recall
    booleans here are DEFECT floors (0.2/0.05 tight, 0.15/0.05 off the
    oracle sfs), not the ≥0.9 operating claim; that claim lives in the
    scale artifact where the regime exists."""
    mean_thr, min_thr = _gate(sf, tight=(0.2, 0.05), floor=(0.15, 0.05))
    t, q = _train(spark, sf), _queries_mod(spark, sf)
    n = table_rows(sf, "embeddings")
    nlist = max(8, round(math.sqrt(n)))
    idx = IVFIndex.fit(t, nlist=nlist, seed=1, max_iter=8, sort_col="id")
    return _recall_gate(
        idx.search(idx.assign(t), q, k=10, nprobe="auto"),
        knn(t, q, k=10, method="expr"), mean_thr, min_thr,
        lead=[F.lit(auto_nprobe(nlist)).cast("bigint").alias("auto_nprobe")])


def q_pq_recall(spark, sf):
    """Same contract for the PQ path (codebook fit, encode, ADC scan,
    refine): recall vs exact kNN as oracle-asserted booleans.  Measured at
    sf0.01: mean 0.59 / min 0.4 (m=8, ksub=16, overfetch=4;
    scripts/calibrate_gates.py); tight thresholds 0.5/0.3 catch partial
    codebook/ADC degradation, not just cratering bugs.  Off the oracle sf
    the gate relaxes to the defect-only floor 0.3/0.05:
    measured at sf0.1 the same code path yields mean 0.45 / min 0.10 /
    p1 0.14 — recall at a fixed 4-bit/subspace code budget genuinely
    falls as corpus density grows (the published PQ behavior), so the
    floor must sit under the healthy-at-scale tail, not the oracle-sf
    one."""
    mean_thr, min_thr = _gate(sf, tight=(0.5, 0.3), floor=(0.3, 0.05))
    t, q = _train(spark, sf), _queries_mod(spark, sf)
    idx = PQIndex.fit(t, m=8, ksub=16, seed=1, max_iter=8, sort_col="id")
    approx = idx.search(idx.encode(t), q, k=10, refine_train=t, overfetch=4)
    return _recall_gate(approx, knn(t, q, k=10, method="expr"),
                        mean_thr, min_thr)


def q_semantic_dups(spark, sf):
    """SemDeDup-style semantic dedup: k-means (the IVF build — nlist=8,
    seed=1) partitions the embedding space; exact unit-vector cosine pairs
    are generated WITHIN clusters only, turning the O(n²) cross join into
    one equi-join keyed on cluster_id (pair work n²/k).  The oracle embeds
    the independently recomputed assignment and re-derives every
    within-cluster pair with the same cosine fold, so the partition AND
    the scores hash-check.  Boundary-straddling pairs are the published
    recall trade-off; the brute twin (embedding_cosine_dups, same 0.4
    threshold) bounds what this path can see."""
    emb = load_table(spark, sf, "embeddings")
    # the cosine fold's term order is engine-reproducible, so the 6-dp
    # round agrees with DuckDB's
    out = dd.semantic_dup_pairs(emb, threshold=0.4, nlist=8, seed=1,
                                max_iter=8)
    return out.select("id_a", "id_b", "cluster_id",
                      F.round("cosine", 6).alias("cosine"))


def _ann_oracles() -> dict[str, str]:
    """Full value oracles for the ANN index families (ivf_knn, pq_knn,
    ivfpq_knn): rerun the seeded, deterministic index builds with the SAME
    numpy code paths the Spark operators use (fit on collected sample,
    norm-expansion argmin assignment/encode, LUT-sum ADC), then embed the
    data-dependent artifacts — IVF cell assignments + probe lists, PQ ADC
    candidate sets — as SQL literals.  DuckDB re-scores the identical
    candidate rows with the exact L2 fold, so the index-controlled part
    (which rows are scanned) is hash-checked end to end.  For PQ/IVFPQ the
    Spark refine stage also uses the expression fold, so even the emitted
    distances hash-match; IVF's GEMM kernel distances differ at ~1e-8, so
    that oracle checks ids/ranks (knn_euclid_gemm convention)."""
    path = f"{_ORACLE_SF_DIR}/embeddings.parquet"
    if not os.path.exists(path):
        print(f"[oracle] {path} missing: ANN queries degrade to rows-only",
              file=sys.stderr, flush=True)
        return {}

    tbl = pq_.read_table(path, columns=["vec_id", "embedding"])
    ids = tbl.column("vec_id").to_numpy()
    X = np.array(tbl.column("embedding").to_pylist(), dtype=np.float64)
    # Pin the fit-sample order to vec_id: the Spark operators fit with
    # sort_col="id" and kmeans++ seeding is row-order dependent, so both
    # sides must index the same matrix (parquet row order is NOT part of
    # either contract).
    order = np.argsort(ids, kind="stable")
    ids, X = ids[order], X[order]
    qmask = ids % 50 == 0
    qids_, Q = ids[qmask], X[qmask]
    l2 = _L2.format(a="t.v", b="q.v")

    # ---- IVF (nlist=8, seed=1, max_iter=8, nprobe=4) ---------------------
    def ivf(fit_mask, qm):
        """Centroids fit on the ``fit_mask`` rows, every row's cell and the
        ``qm`` queries' probe lists, the last two as VALUES literals."""
        C = _kmeans_pp(X[fit_mask], 8, seed=1, max_iter=8)
        # assignment: identical expansion to IVFIndex._assign_gemm
        d2 = (X * X).sum(1)[:, None] - 2.0 * (X @ C.T) + (C * C).sum(1)[None, :]
        cid = d2.argmin(axis=1)
        # probe lists: identical to IVFIndex.probe_lists
        dq = ((X[qm][:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        probes = np.argpartition(dq, 3, axis=1)[:, :4]
        assign_vals = ", ".join(f"({int(i)},{int(c)})" for i, c in zip(ids, cid))
        probe_vals = ", ".join(
            f"({int(q)},{int(c)})"
            for qi, q in enumerate(ids[qm]) for c in probes[qi])
        return C, cid, probes, assign_vals, probe_vals

    C, cid, probes, assign_vals, probe_vals = ivf(slice(None), qmask)
    ivf_sql = f"""
WITH assign(id, cell) AS (VALUES {assign_vals}),
probe(qid, cell) AS (VALUES {probe_vals}),
t AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id % 50 = 0),
s AS (SELECT q.qid, t.id, {l2} AS d
      FROM q JOIN probe ON probe.qid = q.qid
      JOIN assign ON assign.cell = probe.cell
      JOIN t ON t.id = assign.id),
r AS (SELECT qid, id, row_number() OVER (PARTITION BY qid ORDER BY d, id) AS rank FROM s)
SELECT qid, id, rank FROM r WHERE rank <= 10
"""

    # ---- filtered IVF, PRE branch (same build; label equi-join inside the
    # probed cells — filter_knn.filtered_ivf_knn strategy='pre').  The Spark
    # side scores survivors with the exact expression fold, so distances
    # hash-match at the usual round-4.
    filter_ivf_sql = f"""
WITH assign(id, cell) AS (VALUES {assign_vals}),
probe(qid, cell) AS (VALUES {probe_vals}),
t AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v, label FROM embeddings),
q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS v, label FROM embeddings WHERE vec_id % 50 = 0),
s AS (SELECT q.qid, t.id, {l2} AS d
      FROM q JOIN probe ON probe.qid = q.qid
      JOIN assign ON assign.cell = probe.cell
      JOIN t ON t.id = assign.id AND t.label = q.label),
r AS (SELECT qid, id, round(d, 4) + 0.0 AS dist,
             row_number() OVER (PARTITION BY qid ORDER BY d, id) AS rank FROM s)
SELECT qid, id, dist, rank FROM r WHERE rank <= 10
"""

    # ---- PQ (m=8, ksub=16, seed=1, max_iter=8, overfetch=4) --------------
    m, ksub, k_adc = 8, 16, 40
    dsub = X.shape[1] // m

    def fit_books(Xm):
        return np.stack([
            _kmeans_pp(Xm[:, j * dsub:(j + 1) * dsub], ksub, 1 + j, 8)
            for j in range(m)
        ])

    def encode(Xm, books):
        # identical expansion to PQIndex.encode
        c2 = (books * books).sum(axis=2)
        codes = np.empty((len(Xm), m), dtype=np.int64)
        Xs = Xm.reshape(len(Xm), m, dsub)
        for j in range(m):
            S = Xs[:, j, :]
            codes[:, j] = ((S * S).sum(1)[:, None] - 2.0 * (S @ books[j].T)
                           + c2[j][None, :]).argmin(axis=1)
        return codes

    def adc(Qm, books, codes):
        # identical LUT build + accumulation order to PQIndex.search
        Qs = Qm.reshape(len(Qm), m, dsub)
        lut = np.stack([
            ((books[j][:, None, :] - Qs[None, :, j, :]) ** 2).sum(axis=2)
            for j in range(m)
        ])  # (m, ksub, nq)
        acc = np.zeros((len(codes), len(Qm)), dtype=np.float64)
        for j in range(m):
            acc += lut[j][codes[:, j], :]
        return np.sqrt(np.maximum(acc, 0.0))

    def _adc_topk(D_col, row_ids):
        order = np.lexsort((row_ids, D_col))
        return row_ids[order[:k_adc]]

    def _adc_pairs(D):
        return ", ".join(
            f"({int(q)},{int(i)})"
            for qi, q in enumerate(qids_) for i in _adc_topk(D[:, qi], ids))

    books = fit_books(X)
    codes = encode(X, books)
    D = adc(Q, books, codes)

    def _cand_sql(cand_pairs: str) -> str:
        return f"""
WITH cand(qid, id) AS (VALUES {cand_pairs}),
t AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id % 50 = 0),
s AS (SELECT q.qid, t.id, {l2} AS d
      FROM cand JOIN q ON q.qid = cand.qid JOIN t ON t.id = cand.id),
r AS (SELECT qid, id, round(d, 4) + 0.0 AS dist,
             row_number() OVER (PARTITION BY qid ORDER BY d, id) AS rank FROM s)
SELECT qid, id, dist, rank FROM r WHERE rank <= 10
"""

    pq_sql = _cand_sql(_adc_pairs(D))

    # ---- IVFPQ (IVF mask over the same ADC scores) -----------------------
    member = np.zeros((8, len(qids_)), dtype=bool)
    for qi in range(len(qids_)):
        member[probes[qi], qi] = True
    D_masked = np.where(member[cid], D, np.inf)
    ivfpq_pairs = []
    for qi, q in enumerate(qids_):
        col = D_masked[:, qi]
        finite = np.isfinite(col)
        top = _adc_topk(col[finite], ids[finite])
        ivfpq_pairs.extend(f"({int(q)},{int(i)})" for i in top)
    ivfpq_sql = _cand_sql(", ".join(ivfpq_pairs))

    # ---- SemDeDup (same IVF build: nlist=8, seed=1, max_iter=8) ----------
    # The cluster partition is the IVF assignment above, embedded verbatim;
    # DuckDB re-derives every within-cluster pair with the exact unit-vector
    # cosine fold, so both the partition (which pairs are candidates) and
    # the scores are hash-checked.
    semantic_sql = f"""
WITH assign(id, cell) AS (VALUES {assign_vals}),
u AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
n AS (SELECT id, list_transform(v, x -> x / sqrt(list_sum(list_transform(v, y -> y*y)))) AS u
      FROM u),
j AS (SELECT n.id, u, cell FROM n JOIN assign ON assign.id = n.id),
p AS (SELECT a.id AS id_a, b.id AS id_b, a.cell::INT AS cluster_id,
             list_sum(list_transform(list_zip(a.u, b.u), x -> x[1]*x[2])) AS cosine
      FROM j a JOIN j b ON a.cell = b.cell AND a.id < b.id)
SELECT id_a, id_b, cluster_id, round(cosine, 6) AS cosine FROM p
WHERE cosine >= 0.4
"""

    # ---- OPQ (m=8, ksub=16, iters=3, overfetch=4) ------------------------
    # Identical arithmetic to OPQIndex: shared numpy fit (opq_fit_numpy),
    # rotation rounded to 6 dp, norm-expansion encode, LUT-sum ADC, then
    # (D, id) lexsort — the pq_knn oracle with rotated inputs.
    R_o, books_o = opq_fit_numpy(X, m=8, ksub=16, iters=3, seed=1, max_iter=8)
    XR = np.round(X @ R_o, 6)
    opq_sql = _cand_sql(_adc_pairs(
        adc(XR[qmask], books_o, encode(XR, books_o))))

    # ---- BQ (mean thresholds, overfetch=4 → 40 hamming candidates) -------
    # Identical arithmetic to BQIndex: float64 mean over the id-sorted
    # matrix, bit = (x > mean), integer hamming, (hamming, id) lexsort.
    means = X.mean(axis=0)
    bits = X > means[None, :]
    qbits = bits[qmask]
    bq_pairs = []
    for qi, q in enumerate(qids_):
        ham = (bits != qbits[qi][None, :]).sum(axis=1)
        top = ids[np.lexsort((ids, ham))[:40]]
        bq_pairs.extend(f"({int(q)},{int(i)})" for i in top)
    bq_sql = _cand_sql(", ".join(bq_pairs))

    # ---- incremental IVF (fit on BASE ids%10!=0; delta assigned, no refit)
    Cd, _, _, assignd_vals, probed_vals = ivf(ids % 10 != 0, ids % 50 == 1)
    ivf_delta_sql = f"""
WITH assign(id, cell) AS (VALUES {assignd_vals}),
probe(qid, cell) AS (VALUES {probed_vals}),
t AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id % 50 = 1),
s AS (SELECT q.qid, t.id, {l2} AS d
      FROM q JOIN probe ON probe.qid = q.qid
      JOIN assign ON assign.cell = probe.cell
      JOIN t ON t.id = assign.id),
r AS (SELECT qid, id, row_number() OVER (PARTITION BY qid ORDER BY d, id) AS rank FROM s)
SELECT qid, id, rank FROM r WHERE rank <= 10
"""
    cents_lit = "[" + ", ".join(
        "[" + ", ".join(repr(float(x)) for x in c) + "]" for c in Cd) + "]"
    ivf_delta_report_sql = f"""
WITH assign(id, cell) AS (VALUES {assignd_vals}),
cents AS (SELECT {cents_lit} AS cl),
t AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v,
             CASE WHEN vec_id % 10 != 0 THEN 1 ELSE 0 END AS is_base
      FROM embeddings),
j AS (SELECT a.cell, t.is_base,
             sqrt(list_sum(list_transform(list_zip(t.v, cl[a.cell + 1]),
                 x -> (x[1]-x[2])*(x[1]-x[2])))) AS d
      FROM t JOIN assign a ON a.id = t.id CROSS JOIN cents)
SELECT cell::BIGINT AS cluster_id,
       sum(is_base)::BIGINT AS n_base,
       (count(*) - sum(is_base))::BIGINT AS n_delta,
       round(sum(round(d, 9)::DECIMAL(28,10))::DOUBLE / count(*)::DOUBLE, 6)
           AS mean_dist
FROM j GROUP BY cell
"""

    # ---- PQ delta report (base-only fit, frozen-book encode of ALL rows;
    # the ivf_delta_report convention: embed the argmins — codes — and let
    # SQL recompute every reconstruction error from codebook literals) ----
    books_pd = fit_books(X[ids % 10 != 0])
    codes_pd = encode(X, books_pd)
    code_vals = ", ".join(
        f"({int(i)},{j},{int(codes_pd[r, j])})"
        for r, i in enumerate(ids) for j in range(m))
    book_vals = ", ".join(
        "({},{},[{}])".format(
            j, c, ", ".join(repr(float(x)) for x in books_pd[j, c]))
        for j in range(m) for c in range(ksub))
    pq_delta_report_sql = f"""
WITH codes(id, j, code) AS (VALUES {code_vals}),
books(j, code, bv) AS (VALUES {book_vals}),
t AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v,
             CASE WHEN vec_id % 10 != 0 THEN 1 ELSE 0 END AS is_base
      FROM embeddings),
e AS (SELECT t.id, t.is_base,
             sum(list_sum(list_transform(
                 list_zip(t.v[c.j*{dsub}+1:(c.j+1)*{dsub}], b.bv),
                 x -> (x[1]-x[2])*(x[1]-x[2])))) AS err
      FROM t JOIN codes c ON c.id = t.id
      JOIN books b ON b.j = c.j AND b.code = c.code
      GROUP BY t.id, t.is_base),
d AS (SELECT is_base, round(err, 9)::DECIMAL(28,10) AS e FROM e),
agg AS (SELECT sum(is_base)::BIGINT AS n_base,
               (count(*) - sum(is_base))::BIGINT AS n_delta,
               round(sum(CASE WHEN is_base = 1 THEN e END)::DOUBLE
                     / sum(is_base)::DOUBLE, 6) AS mean_qerr_base,
               round(sum(CASE WHEN is_base = 0 THEN e END)::DOUBLE
                     / (count(*) - sum(is_base))::DOUBLE, 6)
                   AS mean_qerr_delta
        FROM d)
SELECT n_base, n_delta, mean_qerr_base, mean_qerr_delta,
       round(mean_qerr_delta / mean_qerr_base, 6) AS qerr_drift
FROM agg
"""

    return {"ivf_knn": ivf_sql, "pq_knn": pq_sql, "ivfpq_knn": ivfpq_sql,
            "filter_ivf_knn": filter_ivf_sql, "semantic_dups": semantic_sql,
            "bq_knn": bq_sql, "opq_knn": opq_sql,
            "ivf_delta_knn": ivf_delta_sql,
            "ivf_delta_report": ivf_delta_report_sql,
            "pq_delta_report": pq_delta_report_sql}


# ivf_recall / pq_recall: the Spark side computes recall of the approximate
# path against exact kNN and emits threshold booleans; the oracle asserts
# they are TRUE (and checks the query count).  No index artifacts are
# embedded, so this check CANNOT be fooled by a bug that corrupts the Spark
# build and the oracle recomputation identically.
_RECALL_GATE_SQL = """
SELECT count(*) AS n_queries, TRUE AS mean_recall_ok, TRUE AS min_recall_ok
FROM embeddings WHERE vec_id % 50 = 0
"""


# sq8_knn: the oracle replays the whole SQ8 pipeline — per-vector float32
# scale (= max|v|/127, the Spark when/otherwise zero guard included), int8
# codes via round(x/scale) in double, dequantize as float32 code·scale, then
# the exact double L2 fold and (dist, id) ranking.  Float32 casts sit at the
# same three points as quantize_vec/dequantize_vec (operators/quantize.py),
# so every intermediate is bit-identical across engines.
_SQ8_KNN_SQL = f"""
WITH t0 AS (SELECT vec_id AS id, embedding AS v FROM embeddings),
ts AS (SELECT id, v,
              (CASE WHEN list_max(list_transform(v, x -> abs(x))) > 0
                    THEN list_max(list_transform(v, x -> abs(x)))::DOUBLE
                    ELSE 1.0::DOUBLE END / 127.0::DOUBLE)::FLOAT AS scale
       FROM t0),
t AS (SELECT id,
             list_transform(v, x ->
                 ((round(x::DOUBLE / scale::DOUBLE)::TINYINT)::FLOAT
                  * scale)::FLOAT)::DOUBLE[] AS v
      FROM ts),
q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS v FROM embeddings
      WHERE vec_id % 50 = 0),
s AS (SELECT q.qid, t.id, {_L2.format(a="t.v", b="q.v")} AS d
      FROM q CROSS JOIN t),
r AS (SELECT qid, id, round(d, 4) + 0.0 AS dist,
             row_number() OVER (PARTITION BY qid ORDER BY d, id) AS rank
      FROM s)
SELECT qid, id, dist, rank FROM r WHERE rank <= 10
"""


# hnsw_recall: the oracle recomputes the query count and asserts the
# Spark-side threshold booleans plus the PINNED rounded mean recall
# (0.99 at the oracle sf — scripts/calibrate_gates.py; deterministic:
# seeded shard assignment + seeded level draws + deterministic beam).
# The pin is calibrated on the clamped 500-row embeddings corpus
# (sf0.001/sf0.01); at larger SFs both sides emit NULL and only the
# defect-floor booleans gate (q_hnsw_recall mirrors this branch).
_HNSW_RECALL_SQL = """
SELECT count(*) AS n_queries, TRUE AS mean_recall_ok, TRUE AS min_recall_ok,
       CASE WHEN (SELECT count(*) FROM embeddings) <= 500
            THEN CAST(0.99 AS DOUBLE) END AS mean_recall_r2
FROM embeddings WHERE vec_id % 50 = 0
"""


# hnsw_scale_recall: same contract at the serving-scale (8 fixed shards,
# ef=24) configuration.  The fixed ~100-query block's stride is
# greatest(1, n // 100) on both sides; the pinned mean on the clamped
# ≤500-row corpora is exactly 1.0 (the 8-shard top-10 union recovers the
# exact top-10 — scripts/calibrate_gates.py).
_HNSW_SCALE_RECALL_SQL = """
SELECT count(*) AS n_queries, TRUE AS mean_recall_ok, TRUE AS min_recall_ok,
       CASE WHEN (SELECT count(*) FROM embeddings) <= 500
            THEN CAST(1.0 AS DOUBLE) END AS mean_recall_r2
FROM embeddings
WHERE vec_id % greatest(1, (SELECT count(*) FROM embeddings) // 100) = 0
"""


# ivf_auto_recall: the resolved auto_nprobe is deterministic arithmetic on
# the corpus row count (nlist = max(8, round(sqrt(n))), then the calibrated
# ceil power law).  The knob is derived ONCE here in Python — the same
# round()/math.ceil the Spark query resolves through — and embedded as an
# integer literal (the centroid/codebook literal convention: replaying
# round()/CEIL(POW(...)) in DuckDB risks banker's-rounding and
# 1-ulp pow divergence at future row counts).  The recall booleans are
# defect floors (see q_ivf_auto_recall's regime note).
def _ivf_auto_recall_sql() -> str:

    path = f"{_ORACLE_SF_DIR}/embeddings.parquet"
    if not os.path.exists(path):
        # No table to derive from (rows-only degradation mirrors
        # _ann_oracles); emit a count-only oracle so the key stays present.
        return """
SELECT (SELECT count(*) FROM embeddings WHERE vec_id % 50 = 0) AS n_queries,
       CAST(NULL AS BIGINT) AS auto_nprobe,
       TRUE AS mean_recall_ok, TRUE AS min_recall_ok
"""
    n = pq_.ParquetFile(path).metadata.num_rows
    nlist = max(8, round(math.sqrt(n)))
    return f"""
SELECT (SELECT count(*) FROM embeddings WHERE vec_id % 50 = 0) AS n_queries,
       CAST({auto_nprobe(nlist)} AS BIGINT) AS auto_nprobe,
       TRUE AS mean_recall_ok, TRUE AS min_recall_ok
"""


# hnsw_delta_report: the report is pure shard-metadata arithmetic, so the
# oracle REPLAYS the sizing rules from the raw row counts — base shards
# max(4, ceil(rows_base/500)) (the q_hnsw_knn bounded-shard derivation),
# first absorb sized at the base's rows/shard, second absorb at the
# base∪first layout's rows/shard, rebuild at the base's rows/shard — and
# recomputes every column including the 6-dp work_growth ratio.  A sizing
# bug on the Spark side (wrong per-shard target, off-by-one ceil, offset
# arithmetic dropping a shard) breaks the match.
_HNSW_DELTA_REPORT_SQL = """
WITH c AS (SELECT count(*) AS n,
                  count(*) FILTER (WHERE vec_id % 10 = 0) AS nd1,
                  count(*) FILTER (WHERE vec_id % 10 = 1) AS nd2
           FROM embeddings),
p AS (SELECT n - nd1 - nd2 AS rows_base, nd1, nd2,
             GREATEST(4, CAST(CEIL((n - nd1 - nd2) / 500.0) AS BIGINT)) AS nbs
      FROM c),
s1 AS (SELECT *, CAST(CEIL(nd1::DOUBLE /
                GREATEST(1, rows_base // nbs)) AS BIGINT) AS nds1 FROM p),
s2 AS (SELECT *, CAST(CEIL(nd2::DOUBLE /
                GREATEST(1, (rows_base + nd1) // (nbs + nds1))) AS BIGINT)
                AS nds2 FROM s1),
f AS (SELECT nbs, nds1 + nds2 AS nds, rows_base, nd1 + nd2 AS rows_delta,
             GREATEST(1, rows_base // nbs) AS per FROM s2)
SELECT nbs AS n_base_shards, nds AS n_delta_shards, rows_base, rows_delta,
       nbs + nds AS shards_total,
       (rows_base + rows_delta + per - 1) // per AS shards_rebuilt,
       round((nbs + nds)::DOUBLE /
             ((rows_base + rows_delta + per - 1) // per)::DOUBLE, 6)
           AS work_growth
FROM f
"""


def oracles() -> dict[str, str]:
    l2 = _L2.format(a="t.v", b="q.v")
    jl_mat = "[" + ", ".join(
        "[" + ", ".join(repr(float(x)) for x in row) + "]"
        for row in projection_matrix(64, 16, seed=1)
    ) + "]"
    return _ann_oracles() | {
        "ivf_recall": _RECALL_GATE_SQL,
        "ivf_auto_recall": _ivf_auto_recall_sql(),
        "filter_ivf_recall": _RECALL_GATE_SQL,
        "pq_recall": _RECALL_GATE_SQL,
        "bq_recall": _RECALL_GATE_SQL,
        "sq8_knn": _SQ8_KNN_SQL,
        "sq8_recall": _RECALL_GATE_SQL,
        "opq_recall": _RECALL_GATE_SQL,
        "hnsw_recall": _HNSW_RECALL_SQL,
        "hnsw_delta_report": _HNSW_DELTA_REPORT_SQL,
        "hnsw_scale_recall": _HNSW_SCALE_RECALL_SQL,
        # hnsw at ef >= shard size is exact (connectivity-repaired graph,
        # hnsw.py) — the oracle is the exact kNN ranking
        "hnsw_knn": _knn_oracle(cols="qid, id, rank"),
        # delta absorb at ef >= shard size: base and arrival shards are
        # BOTH exact, so absorb-then-search == the exact kNN ranking
        "hnsw_delta_knn": _knn_oracle(cols="qid, id, rank"),
        # JL projection: the seeded 16×64 matrix is embedded as a literal;
        # the same left-to-right double fold computes each coordinate,
        # rounded to 6 dp before distance ranking on both engines.
        "jl_knn": f"""
WITH t0 AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
pr AS (SELECT id, list_transform({jl_mat}::DOUBLE[][], row ->
           round(list_sum(list_transform(list_zip(v, row), x -> x[1]*x[2])), 6)) AS v
       FROM t0),
q AS (SELECT id AS qid, v FROM pr WHERE id % 50 = 0),
s AS (SELECT q.qid, pr.id, {_L2.format(a="pr.v", b="q.v")} AS d FROM q CROSS JOIN pr),
r AS (SELECT qid, id, round(d, 4) AS dist,
             row_number() OVER (PARTITION BY qid ORDER BY d, id) AS rank FROM s)
SELECT qid, id, dist, rank FROM r WHERE rank <= 10
""",
    }
