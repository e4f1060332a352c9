"""SparkSession factory with scale-oriented defaults.

Defaults are chosen for the 100 TB design point and merely *sized down* for
local testing: AQE on (runtime re-plan, skew-join splitting, partition
coalescing), Arrow on (all pandas-UDF kernels are Arrow-batched), UTC session
timezone (deterministic timestamp semantics vs the DuckDB oracle).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# At 100 TB these would be cluster-level conf (shuffle partitions sized to
# ~128 MB per task, executor-count-aware); locally we size to the core count.
_DEFAULTS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.shuffle.partitions": "32",
    # Shuffle WIDTH is the memory knob at corpus scale: 32 reducers cap
    # per-task input at data/32, and at a 5M-doc/4 GB-text corpus the
    # PPJoin shingle rollup put ~600 MB of aggregation state in every
    # reducer and exhausted the execution pool
    # (UNABLE_TO_ACQUIRE_MEMORY).  Starting wide and letting AQE
    # coalesce bounds per-task state — but it is NOT free at small
    # scale: measured +45-85% on the multi-stage PPJoin at sf0.1
    # (2.6s → 3.8s at 64, 4.9s at 256 initial partitions), so it stays
    # at the shuffle width here (a 100 TB cluster job runs thousands).
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum": "32",
    # ARRAY<FLOAT> vectors decode fastest with the vectorized reader.
    "spark.sql.parquet.enableVectorizedReader": "true",
    # Queries are broadcast by design; keep the threshold generous so the
    # query side of every kNN join stays a broadcast.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # The driver's events table stores TIMESTAMP(NANOS), which Spark's
    # reader rejects by default; read as long and convert in load_table.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # InferFiltersFromGenerate copies the ENTIRE generator child expression
    # into an inferred `size(child) > 0 AND isnotnull(child)` filter, which
    # predicate pushdown then carries below projections — substituting every
    # column alias with its full expression.  For explode-of-computed-array
    # pipelines (window hashes, shingles) the array expression contains a
    # higher-order lambda over a tokenized column, and after substitution the
    # tokenizer lands INSIDE the lambda, re-evaluated once per array element:
    # measured 25s → 5.3s on the 5k-doc Zipf decontamination query, with the
    # duplicated filter running single-threaded in the pre-repartition scan
    # task.  The rule's benefit (dropping empty-array rows before Generate)
    # is negligible for these plans; operators that want it add an explicit
    # cheap size() filter on the materialized column instead (curation.py).
    "spark.sql.optimizer.excludedRules":
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
    # In local mode the driver JVM IS the executor: all local[N] task
    # threads share this one heap, so size it like a cluster would size N
    # cores of executors (~1 GB/core; a 4-core/4 GB executor is the
    # standard shape), not like a cluster driver.  The old 8g default
    # (256 MB/core at local[32]) OOMed the PPJoin shingle stages on a
    # 5M-doc/4 GB-text corpus that a per-core-realistic heap absorbs —
    # artificial scarcity, not a plan defect.  SPARK_GRAFT_DRIVER_MEM
    # overrides for smaller machines.
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g"),
}


def get_spark(app_name: str = "bigvectorbench-spark", **overrides: str) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default: all cores),
    mirroring the reference's ``--cpuset-cpus`` knob (main.py:387-429).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = SparkSession.builder.appName(app_name).master(f"local[{cpus}]")
    for k, v in {**_DEFAULTS, **overrides}.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
