"""Source/sink tests: fvecs/ivecs round-trip, text vectors, result tree,
and parquet footer statistics (row counts, content fingerprint, vector width)."""

import struct

import numpy as np
import pytest

from bigvectorbench_spark.sources import vectors as src


def _write_fvecs(path, mat):
    with open(path, "wb") as f:
        for row in mat:
            f.write(struct.pack("<i", len(row)))
            f.write(np.asarray(row, dtype="<f4").tobytes())


def test_read_fvecs_roundtrip(spark, tmp_path):
    mat = np.random.RandomState(0).rand(20, 8).astype(np.float32)
    _write_fvecs(tmp_path / "a.fvecs", mat)
    df = src.read_fvecs(spark, str(tmp_path / "a.fvecs"))
    rows = df.orderBy("id").collect()
    assert len(rows) == 20
    got = np.array([r["vec"] for r in rows], dtype=np.float32)
    assert np.array_equal(got, mat)


def test_read_fvecs_multifile_offsets(spark, tmp_path):
    a = np.ones((3, 4), dtype=np.float32)
    b = np.full((2, 4), 2.0, dtype=np.float32)
    _write_fvecs(tmp_path / "a.fvecs", a)
    _write_fvecs(tmp_path / "b.fvecs", b)
    df = src.read_fvecs(spark, str(tmp_path))
    rows = df.orderBy("id").collect()
    assert [r["id"] for r in rows] == list(range(5))
    assert rows[0]["vec"][0] == 1.0 and rows[4]["vec"][0] == 2.0


def test_read_ivecs(spark, tmp_path):
    mat = np.arange(12, dtype="<i4").reshape(3, 4)
    with open(tmp_path / "g.ivecs", "wb") as f:
        for row in mat:
            f.write(struct.pack("<i", 4))
            f.write(row.tobytes())
    df = src.read_fvecs(spark, str(tmp_path / "g.ivecs"), elem="i")
    got = np.array([r["vec"] for r in df.orderBy("id").collect()])
    assert np.array_equal(got, mat)


def test_read_text_vectors(spark, tmp_path):
    (tmp_path / "glove.txt").write_text("cat 1.0 2.0 3.0\ndog 4.0 5.0 6.0\n")
    df = src.read_text_vectors(spark, str(tmp_path / "glove.txt"))
    got = {r["token"]: r["vec"] for r in df.collect()}
    assert got["cat"] == pytest.approx([1.0, 2.0, 3.0])
    assert got["dog"] == pytest.approx([4.0, 5.0, 6.0])


def test_read_idx_images(spark, tmp_path):
    import gzip
    mat = np.arange(2 * 4, dtype=np.uint8).reshape(2, 2, 2)
    raw = struct.pack(">iiii", 0x00000803, 2, 2, 2) + mat.tobytes()
    (tmp_path / "imgs.idx.gz").write_bytes(gzip.compress(raw))
    df = src.read_idx_images(spark, str(tmp_path / "imgs.idx.gz"))
    rows = df.orderBy("id").collect()
    assert len(rows) == 2 and rows[0]["vec"] == [0.0, 1.0, 2.0, 3.0]


def test_read_transactions(spark, tmp_path):
    (tmp_path / "tx.dat").write_text("1 2 3\n4 5\n\n6\n")
    df = src.read_transactions(spark, str(tmp_path / "tx.dat"))
    got = {r["id"]: r["items"] for r in df.collect()}
    assert got[0] == [1, 2, 3] and got[1] == [4, 5] and got[2] == [] and got[3] == [6]


def test_read_bag_of_words(spark, tmp_path):
    (tmp_path / "docword.txt").write_text("2\n10\n4\n1 3 1\n1 5 2\n2 3 1\n2 7 1\n")
    df = src.read_bag_of_words(spark, str(tmp_path / "docword.txt"))
    got = {r["id"]: r["items"] for r in df.collect()}
    assert got == {1: [3, 5], 2: [3, 7]}


def test_read_ratings_sets(spark, tmp_path):
    (tmp_path / "ratings.dat").write_text(
        "1::10::5.0\n1::20::2.0\n2::10::4.0\n2::30::4.5\n")
    df = src.read_ratings_sets(spark, str(tmp_path / "ratings.dat"))
    got = {r["id"]: r["items"] for r in df.collect()}
    assert got == {1: [10], 2: [10, 30]}


def test_result_tree_roundtrip(spark, tmp_path):
    df = spark.createDataFrame([(0, [1, 2], [0.1, 0.2])],
                               "qid bigint, neighbors array<bigint>, distances array<float>")
    src.write_results(df, str(tmp_path / "res"), dataset="fx", count=10, algo="flat")
    src.write_results(df, str(tmp_path / "res"), dataset="fx", count=10, algo="ivf")
    out = src.load_all_results(spark, str(tmp_path / "res"), algo="flat")
    assert out.count() == 1
    assert out.collect()[0]["dataset"] == "fx"


def test_hf_batches_to_df(spark):
    import pandas as pd

    batches = [
        pd.DataFrame({"emb": [[0.5, 1.0], [2.0, 3.0]], "body": ["a", "b"]}),
        pd.DataFrame({"emb": [[4.0, 5.0]], "body": ["c"]}),
    ]
    df = src.hf_batches_to_df(spark, batches, vec_col="emb", text_col="body")
    rows = {r["id"]: (r["vec"], r["text"]) for r in df.collect()}
    assert rows == {0: ([0.5, 1.0], "a"), 1: ([2.0, 3.0], "b"), 2: ([4.0, 5.0], "c")}
    assert dict(df.dtypes)["vec"] == "array<float>"
    # empty input keeps the contract schema
    assert src.hf_batches_to_df(spark, [], vec_col="emb").count() == 0


def test_read_huggingface_gated(spark):
    import importlib.util

    if importlib.util.find_spec("datasets") is not None:
        import pytest
        pytest.skip("datasets installed in this env")
    import pytest
    with pytest.raises(NotImplementedError):
        src.read_huggingface(spark, "some/dataset")


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
