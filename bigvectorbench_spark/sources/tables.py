"""Standard loader for the driver's synthetic tables (TESTDATA.md).

Handles the one physical-type quirk: ``events.ts`` is parquet
TIMESTAMP(NANOS), which Spark reads (under ``nanosAsLong``) as a raw long.
Values carry only microsecond precision, so ``timestamp_micros(ns div 1000)``
is a lossless conversion that matches what DuckDB sees natively.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name in ("events", "orders", "lineitem"):
        # self-sufficient under ANY session (the driver builds its own):
        # nanosAsLong is required to read events at all, and UTC pins
        # timestamp semantics to match the DuckDB oracle's naive timestamps
        # regardless of host timezone.  Both confs are runtime-settable.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # integer division: ns/1000 in DOUBLE loses precision at epoch scale
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            # Spark 4.1 reads TIMESTAMP(NANOS) parquet as TIMESTAMP_NTZ when
            # the session planned the scan before nanosAsLong took effect.
            # With the session pinned to UTC above, NTZ -> TIMESTAMP keeps the
            # same instant DuckDB's naive epoch_us sees, and downstream
            # unix_micros/window arithmetic type-checks.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def _parquet_files(path: str) -> list[str]:
    """The part files of a sharded ``name.parquet`` directory (sorted,
    ``_SUCCESS`` and other non-parquet files skipped), or the file itself."""
    import os

    if not os.path.isdir(path):
        return [path]
    return sorted(os.path.join(path, f) for f in os.listdir(path)
                  if f.endswith(".parquet"))


def table_rows(sf_dir: str, name: str) -> int:
    """Row count from the parquet FOOTER (pyarrow metadata), no Spark job.

    Plan-construction decisions that depend on corpus size (HNSW shard
    count, adaptive query-block strides) must not cost a full-table
    ``count()`` action before the query even runs (VERDICT r5 "What's
    wrong #4") — the footer already stores the exact row count, the same
    statistic a cluster catalog serves.  Handles both a single
    ``name.parquet`` file and a directory of part files (the sharded
    layout scripts/gen_sf.py writes at sf1)."""
    import os

    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, f"{name}.parquet")
    return sum(pq.read_metadata(f).num_rows for f in _parquet_files(path))


def table_dim(sf_dir: str, name: str, col: str) -> int:
    """Element count of a list column's first non-null row, read with
    pyarrow from the parquet files directly (small batches, no Spark job)
    — the table_rows convention for the other plan-construction statistic
    vector operators need: the vector width.  Matches the first non-null
    ``df.select(size(col))`` on any table whose column width is uniform
    (every shipped embedding table).  Empty shards and null rows are
    skipped; a column with no non-null row raises ``ValueError``."""
    import os

    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, f"{name}.parquet")
    for f in _parquet_files(path):
        for batch in pq.ParquetFile(f).iter_batches(batch_size=64,
                                                    columns=[col]):
            for v in batch.column(0):
                if v.is_valid:
                    return len(v)
    raise ValueError(f"{path}: column {col!r} has no non-null row")


def table_fingerprint(sf_dir: str, name: str) -> str:
    """Short content fingerprint from the parquet FOOTERS (no data read):
    md5 over row counts, byte sizes, and every column chunk's min/max
    statistics.  A corpus REGENERATED with a new seed keeps its shape —
    and, for incompressible float payloads, even its byte size — but the
    leaf-column value ranges virtually never survive a reseed, so
    derived-artifact cache keys that include this can't serve a stale
    index for a same-shaped, different-content corpus."""
    import hashlib
    import os

    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, f"{name}.parquet")
    h = hashlib.md5()
    for f in _parquet_files(path):
        md = pq.read_metadata(f)
        h.update(f"{md.num_rows}:{os.path.getsize(f)}".encode())
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for c in range(g.num_columns):
                st = g.column(c).statistics
                if st is not None:
                    h.update(repr((st.min, st.max, st.null_count)).encode())
    return h.hexdigest()[:12]
