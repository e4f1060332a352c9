"""Mutation (DML) operators — SURVEY.md §2.5 M1-M5.

Reference semantics (base/module.py:63-79, 142-181; runner.py:245-335):
bulk load, then *sequential* single-row insert / update-by-id / delete-by-id
sweeps with per-operation latency measurement (results.py:121-158).

Spark is not an OLTP store; the idiomatic mapping is a **log-structured
table** (exactly what Delta/Iceberg do under MERGE/DELETE, re-implemented
minimally here because the container has plain parquet only):

- the table is a base parquet snapshot plus an ordered op log
  (insert/upsert/delete entries with a monotonically increasing sequence);
- the read view resolves each id to its latest op (window max-seq) and drops
  tombstones — identical semantics to MERGE INTO;
- ``checkpoint()`` compacts log into base (the analog of OPTIMIZE /
  rewrite), keeping the view cheap.

At 100 TB: base is partitioned parquet, the op log is tiny relative to base,
and the resolve-latest view is a broadcast anti/semi join against the log —
NOT a full-table window.  ``snapshot()`` below implements that: the window
runs only over (log ∪ base-rows-whose-id-appears-in-log), the untouched bulk
of the base table is passed through unshuffled.
"""

from __future__ import annotations

import time
from typing import Optional

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

OP_INSERT = "i"
OP_UPSERT = "u"
OP_DELETE = "d"


class VectorTable:
    """Mutable vector table with reference-compatible DML surface."""

    def __init__(self, spark: SparkSession, base: DataFrame, id_col: str = "id"):
        self.spark = spark
        self.id_col = id_col
        self._base = base
        self._schema = base.schema
        self._log: list[tuple[int, str, Optional[Row]]] = []  # (seq, op, row)
        self._seq = 0
        self._max_id = (base.agg(F.max(id_col)).first() or [None])[0]
        if self._max_id is None:
            self._max_id = -1

    # ------------------------------------------------------------- M1 bulk load
    @classmethod
    def bulk_load(cls, spark: SparkSession, df: DataFrame, path: str,
                  id_col: str = "id") -> tuple["VectorTable", float]:
        """Create the base snapshot (timed, the reference's insert_time —
        runner.py:413-443)."""
        t0 = time.perf_counter()
        df.write.mode("overwrite").parquet(path)
        elapsed = time.perf_counter() - t0
        return cls(spark, spark.read.parquet(path), id_col=id_col), elapsed

    # ---------------------------------------------------------------- op log
    def _append(self, op: str, row: Optional[dict]) -> float:
        t0 = time.perf_counter()
        self._seq += 1
        self._log.append((self._seq, op, Row(**row) if row else None))
        return time.perf_counter() - t0

    def insert(self, values: dict) -> float:
        """M3: append a new row; id assigned = max id + 1 when absent
        (reference assigns id = current row count, base/module.py:142-152)."""
        if self.id_col not in values:
            values = {**values, self.id_col: self._max_id + 1}
        self._max_id = max(self._max_id, values[self.id_col])
        return self._append(OP_INSERT, values)

    def update(self, id_value, values: dict) -> float:
        """M4: upsert-by-id (milvus upsert, module.py:488-514)."""
        return self._append(OP_UPSERT, {**values, self.id_col: id_value})

    def delete(self, id_value) -> float:
        """M5: tombstone-by-id (milvus delete, module.py:516-530)."""
        return self._append(OP_DELETE, {self.id_col: id_value})

    # ------------------------------------------------------------------ view
    def _log_df(self) -> Optional[DataFrame]:
        if not self._log:
            return None
        cols = [f.name for f in self._schema.fields]
        rows = []
        for seq, op, row in self._log:
            d = row.asDict() if row is not None else {}
            rows.append(tuple(d.get(c) for c in cols) + (seq, op))
        from pyspark.sql.types import StructType, StructField, LongType, StringType
        schema = StructType(
            list(self._schema.fields)
            + [StructField("__seq", LongType()), StructField("__op", StringType())]
        )
        return self.spark.createDataFrame(rows, schema)

    def snapshot(self) -> DataFrame:
        """Current view = base with the op log merged in.

        Only ids touched by the log enter the latest-version resolution; the
        untouched base majority streams through without a shuffle (the log is
        broadcast for both the anti-join and the window input)."""
        log = self._log_df()
        if log is None:
            return self._base
        touched = log.select(self.id_col).distinct()
        untouched = self._base.join(F.broadcast(touched), self.id_col, "left_anti")
        base_touched = (
            self._base.join(F.broadcast(touched), self.id_col, "left_semi")
            .withColumn("__seq", F.lit(0).cast("long"))
            .withColumn("__op", F.lit(OP_INSERT))
        )
        from pyspark.sql import Window
        w = Window.partitionBy(self.id_col).orderBy(F.col("__seq").desc())
        resolved = (
            base_touched.unionByName(log)
            .withColumn("__rn", F.row_number().over(w))
            .filter((F.col("__rn") == 1) & (F.col("__op") != OP_DELETE))
            .drop("__seq", "__op", "__rn")
        )
        return untouched.unionByName(resolved)

    def checkpoint(self, path: str) -> None:
        """Compact log into a new base snapshot (OPTIMIZE analog)."""
        self.snapshot().write.mode("overwrite").parquet(path)
        self._base = self.spark.read.parquet(path)
        self._log.clear()
