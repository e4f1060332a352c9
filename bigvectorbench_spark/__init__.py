"""bigvectorbench_spark — a PySpark-native analytics engine with the query
and data-processing capabilities of BenchCouncil/BigVectorBench.

The reference (/root/reference, read-only snapshot 2025-02-22) is a vector-DB
benchmark harness; its query surface is k-nearest-neighbor search over
dense/sparse/binary vector tables under four metrics, optionally constrained
by scalar predicates, over multiple vectors per row, or cross-modal — plus
ground-truth computation, DML latency workloads, and a
recall/QPS/percentile/Pareto metrics pipeline (SURVEY.md §2).

This package re-expresses that surface Spark-first:

- vectors are ``ARRAY<FLOAT>`` columns in Parquet-backed DataFrames;
- every operator is a function ``DataFrame -> DataFrame`` built from
  ``pyspark.sql.functions`` so Catalyst can push filters, prune columns and
  broadcast the (always small) query side;
- Python-side kernels run only where they beat whole-stage codegen.  The
  Arrow ones share one idiom, ``operators.knn.arrow_map`` (the ANN scans,
  index builds, Bloom probe and dedup signatures; Bloom's build fold and
  merge emit once per partition and call ``mapInArrow`` directly).  Nine
  pandas-API kernels remain: the HNSW build and search
  (``hnsw.py``), BPE segmentation (``bpe.py``), the audio and video
  features (``multimodal.py``), the Gopher quality and repetition flags
  (``curation.py``), MMR reranking (``retrieval.py``, ``applyInPandas``)
  and the Spark-engine PQ codebook fit (``pq.py``).

Convenience API (full surface lives in the submodules)::

    from bigvectorbench_spark import get_spark, knn, filtered_knn, IVFIndex
"""

from bigvectorbench_spark.session import get_spark
from bigvectorbench_spark.operators.knn import (
    assert_unique_candidates,
    knn,
    knn_hamming_packed,
    topk_window,
)
from bigvectorbench_spark.operators.filter_knn import filtered_knn, postfilter_knn
from bigvectorbench_spark.operators.multivector import mv_knn, mv_knn_fused
from bigvectorbench_spark.operators.groundtruth import (
    build_groundtruth,
    pack_results,
    verify_distances,
)
from bigvectorbench_spark.operators.metrics import (
    latency_percentiles,
    pareto_frontier,
    recall_per_query,
)
from bigvectorbench_spark.operators.similarity import IVFIndex
from bigvectorbench_spark.operators.dedup import (
    embedding_dup_pairs,
    exact_dup_groups,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from bigvectorbench_spark.operators.mutation import VectorTable
from bigvectorbench_spark.operators.pq import PQIndex, ivfpq_search
from bigvectorbench_spark.operators.quantize import knn_quantized, quantize_table

__all__ = [
    "IVFIndex",
    "PQIndex",
    "VectorTable",
    "assert_unique_candidates",
    "build_groundtruth",
    "embedding_dup_pairs",
    "exact_dup_groups",
    "filtered_knn",
    "get_spark",
    "ivfpq_search",
    "knn",
    "knn_hamming_packed",
    "knn_quantized",
    "latency_percentiles",
    "minhash_lsh_pairs",
    "mv_knn",
    "mv_knn_fused",
    "ngram_jaccard_pairs",
    "pack_results",
    "pareto_frontier",
    "postfilter_knn",
    "quantize_table",
    "recall_per_query",
    "simhash_pairs",
    "topk_window",
    "verify_distances",
]
__version__ = "0.1.0"
