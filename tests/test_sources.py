"""Parquet footer statistics: row counts, content fingerprint, vector width."""

import pytest


def test_table_rows_and_fingerprint_sharded_dir(tmp_path):
    """Footer row counts work on both a single parquet file and a sharded
    directory (skipping _SUCCESS), and the footer-statistics fingerprint
    changes when same-shaped content changes — the property the index
    cache key relies on to never serve a stale graph (raw byte size does
    NOT have it: incompressible float payloads of the same shape write
    the same size)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from bigvectorbench_spark.sources.tables import table_fingerprint, table_rows

    def write_corpus(root, seed):
        d = root / "embeddings.parquet"
        d.mkdir(parents=True)
        rng = np.random.RandomState(seed)
        for s in range(3):
            pq.write_table(pa.table({
                "vec_id": np.arange(s * 10, s * 10 + 10, dtype=np.int64),
                "embedding": pa.array(
                    [rng.randn(8).astype(np.float32) for _ in range(10)],
                    pa.list_(pa.float32())),
            }), str(d / f"part-{s}.parquet"))
        (d / "_SUCCESS").touch()

    write_corpus(tmp_path / "a", seed=1)
    write_corpus(tmp_path / "b", seed=2)  # same shape, different content
    assert table_rows(str(tmp_path / "a"), "embeddings") == 30
    assert table_rows(str(tmp_path / "b"), "embeddings") == 30
    assert (table_fingerprint(str(tmp_path / "a"), "embeddings")
            != table_fingerprint(str(tmp_path / "b"), "embeddings"))
    # deterministic for identical content
    assert (table_fingerprint(str(tmp_path / "a"), "embeddings")
            == table_fingerprint(str(tmp_path / "a"), "embeddings"))


def test_table_dim_matches_size_probe(spark, tmp_path):
    """table_dim (pyarrow read of the first non-null row, no probe job)
    must equal the first non-null select(size(col)) on a list column — on
    a single file, on a sharded directory whose first shard is empty and
    whose first row is null, and it refuses a column with no non-null row."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from bigvectorbench_spark.sources.tables import table_dim

    def tbl(vecs):
        return pa.table({"vec_id": pa.array(range(len(vecs)), pa.int64()),
                         "embedding": pa.array(vecs, pa.list_(pa.float32()))})

    pq.write_table(tbl([[1.0] * 7, [2.0] * 7]),
                   str(tmp_path / "embeddings.parquet"))
    want = (spark.read.parquet(str(tmp_path / "embeddings.parquet"))
            .select(F.size("embedding").alias("d")).first()["d"])
    assert table_dim(str(tmp_path), "embeddings", "embedding") == want == 7

    sharded = tmp_path / "sharded" / "embeddings.parquet"
    sharded.mkdir(parents=True)
    pq.write_table(tbl([]), str(sharded / "part-0.parquet"))
    pq.write_table(tbl([None, [3.0] * 5]), str(sharded / "part-1.parquet"))
    want = (spark.read.parquet(str(sharded))
            .select(F.size("embedding").alias("d"))
            .filter(F.col("d") >= 0).first()["d"])
    got = table_dim(str(sharded.parent), "embeddings", "embedding")
    assert got == want == 5

    pq.write_table(tbl([None, None]), str(tmp_path / "nulls.parquet"))
    with pytest.raises(ValueError, match="no non-null row"):
        table_dim(str(tmp_path), "nulls", "embedding")


def test_table_stats_follow_rewrite(tmp_path):
    """A table rewritten in place within one process reads its new width
    and row count, not the first read's."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from bigvectorbench_spark.sources.tables import table_dim, table_rows

    def write(n, d):
        pq.write_table(pa.table({"embedding": pa.array(
            [[1.0] * d] * n, pa.list_(pa.float32()))}),
            str(tmp_path / "embeddings.parquet"))

    def stats():
        return (table_dim(str(tmp_path), "embeddings", "embedding"),
                table_rows(str(tmp_path), "embeddings"))

    write(3, 4)
    assert stats() == (4, 3)
    write(5, 8)
    assert stats() == (8, 5)
