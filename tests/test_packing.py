"""Sequence packing (operators/packing.py): distributed two-pass prefix sum
vs a single-pass Python oracle, bucket-count invariance, block accounting."""

import pytest
from pyspark.sql import functions as F

from bigvectorbench_spark.operators import packing as pk


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")


def _oracle(texts, block_size):
    """Global-order packing computed sequentially."""
    out, off = [], 0
    for i, t in enumerate(texts):
        n = len([w for w in t.split() if w])
        start, end = off, off + n
        first = start // block_size
        nb = (end - 1) // block_size - first + 1 if n > 0 else 0
        out.append((i, n, start, end, first, nb))
        off = end
    return out


TEXTS = [
    "alpha beta gamma delta",           # 4 tokens
    "",                                  # empty doc: n=0, zero blocks
    "one two three four five six seven", # 7
    "x " * 9,                            # 9 — crosses the 8-token boundary
    "tail",                              # 1
    "a b c d e f g h i j k l",           # 12 — spans two full boundaries
]


def test_pack_blocks_matches_sequential_oracle(spark):
    got = sorted(
        tuple(r) for r in pk.pack_blocks(
            _docs(spark, TEXTS), block_size=8, n_buckets=3).collect())
    assert got == sorted(_oracle(TEXTS, 8))


@pytest.mark.parametrize("n_buckets", [1, 2, 7, 1024])
def test_bucketing_never_changes_output(spark, n_buckets):
    """The two-pass prefix sum must equal the global window for ANY bucket
    count — bucketing is a parallelism choice, not a semantic one."""
    got = sorted(
        tuple(r) for r in pk.pack_blocks(
            _docs(spark, TEXTS), block_size=8, n_buckets=n_buckets).collect())
    assert got == sorted(_oracle(TEXTS, 8))


def test_max_id_hint_skips_scan_and_agrees(spark):
    df = _docs(spark, TEXTS)
    base = sorted(tuple(r) for r in pk.pack_blocks(df, block_size=8).collect())
    # Any upper bound on max id is valid (metadata need not be tight).
    hinted = sorted(tuple(r) for r in pk.pack_blocks(
        df, block_size=8, max_id=10_000).collect())
    assert hinted == base


def test_block_manifest_accounts_every_token(spark):
    packed = pk.pack_blocks(_docs(spark, TEXTS), block_size=8)
    man = {r["block_id"]: (r["n_docs"], r["n_tokens"])
           for r in pk.block_manifest(packed, block_size=8).collect()}
    total = sum(len(t.split()) for t in TEXTS)
    # Every non-final block is exactly full; the final block holds the rest.
    n_blocks = (total + 7) // 8
    assert set(man) == set(range(n_blocks))
    assert sum(v[1] for v in man.values()) == total
    for b in range(n_blocks - 1):
        assert man[b][1] == 8
    assert man[n_blocks - 1][1] == total - 8 * (n_blocks - 1)
    # Oracle doc membership of block 0: docs 0,2,3 cover offsets [0,8).
    assert man[0][0] == 2  # doc0 [0,4), doc2 [4,11) — doc1 is empty


def test_empty_and_single_doc(spark):
    assert pk.pack_blocks(_docs(spark, []), block_size=8).count() == 0
    got = pk.pack_blocks(_docs(spark, ["a b"]), block_size=8).collect()
    assert [tuple(r) for r in got] == [(0, 2, 0, 2, 0, 1)]


def test_invalid_block_size(spark):
    with pytest.raises(ValueError):
        pk.pack_blocks(_docs(spark, ["a"]), block_size=0)


# ------------------------------------------------------------- RAG chunking


def test_chunk_documents_windows_and_tail(spark):
    from bigvectorbench_spark.operators.packing import chunk_documents

    df = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(10))), (2, ""), (3, "one two")],
        "doc_id long, text string")
    rows = [r.asDict() for r in chunk_documents(df, size=4, stride=3)
            .orderBy("doc_id", "chunk_id").collect()]
    assert [(r["doc_id"], r["chunk_id"], r["start_tok"], r["chunk_text"])
            for r in rows] == [
        (1, 0, 1, "w0 w1 w2 w3"),
        (1, 1, 4, "w3 w4 w5 w6"),   # stride 3 -> one-token overlap
        (1, 2, 7, "w6 w7 w8 w9"),
        (3, 0, 1, "one two"),        # short doc: one short chunk
    ]
    # every token covered: last chunk reaches the end
    assert rows[2]["start_tok"] + rows[2]["n_chunk_tokens"] - 1 == 10


def test_chunk_documents_exact_fit_no_empty_tail(spark):
    from bigvectorbench_spark.operators.packing import chunk_documents

    # n == size -> exactly one chunk; n = size + stride -> two full chunks
    df = spark.createDataFrame(
        [(1, " ".join(f"a{i}" for i in range(4))),
         (2, " ".join(f"b{i}" for i in range(7)))],
        "doc_id long, text string")
    got = {}
    for r in chunk_documents(df, size=4, stride=3).collect():
        got.setdefault(r["doc_id"], []).append(r["n_chunk_tokens"])
    assert got[1] == [4]
    assert sorted(got[2], reverse=True) == [4, 4]


def test_chunk_report_totals(spark):
    from bigvectorbench_spark.operators.packing import chunk_report

    df = spark.createDataFrame(
        [(1, "a", " ".join(f"w{i}" for i in range(10))), (2, "a", "")],
        "doc_id long, source string, text string")
    r = chunk_report(df, size=4, stride=3).collect()[0]
    assert r["n_docs_chunked"] == 1  # the empty doc emits no chunks
    assert r["n_chunks"] == 3
    assert r["n_chunk_tokens"] == 12  # 10 tokens + 2 overlap repeats
    assert r["n_short_chunks"] == 0


def test_chunk_validation(spark):
    from bigvectorbench_spark.operators.packing import chunk_documents

    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    import pytest as _pt
    with _pt.raises(ValueError):
        chunk_documents(df, size=0, stride=3)


def test_shard_assign_deterministic_and_total(spark):
    from bigvectorbench_spark.operators.packing import shard_assign

    df = spark.createDataFrame(
        [(i, f"doc {i} text") for i in range(200)],
        "doc_id long, text string")
    a = shard_assign(df, n_shards=8, seed=42)
    rows = {r["doc_id"]: r["shard"] for r in a.collect()}
    assert len(rows) == 200  # every doc exactly once
    assert all(0 <= s < 8 for s in rows.values())
    # deterministic: a second evaluation (and a fresh plan) agrees
    again = {r["doc_id"]: r["shard"]
             for r in shard_assign(df, n_shards=8, seed=42).collect()}
    assert rows == again
    # a different seed actually reshuffles membership
    other = {r["doc_id"]: r["shard"]
             for r in shard_assign(df, n_shards=8, seed=7).collect()}
    assert rows != other
    # known value pinned against the DuckDB twin expression:
    # ('0x'||substring(md5('42|7'),1,8))::BIGINT = 1994382085; % 8 = 5
    assert rows[7] == 1994382085 % 8


def test_shard_manifest_balance_and_conservation(spark):
    from bigvectorbench_spark.operators.packing import shard_manifest

    n = 4000
    df = spark.createDataFrame(
        [(i, "w " * (1 + i % 5)) for i in range(n)],
        "doc_id long, text string")
    m = shard_manifest(df, n_shards=16, seed=42).collect()
    assert len(m) == 16
    assert sum(r["n_docs"] for r in m) == n
    assert sum(r["n_tokens"] for r in m) == sum(1 + i % 5 for i in range(n))
    # unbiased scatter: no shard is wildly over/under the n/16 mean
    # (md5 is uniform; 3-sigma on Binomial(4000, 1/16) is ~±46)
    mean = n / 16
    assert all(abs(r["n_docs"] - mean) < 60 for r in m)


def test_mix_shards_separates_copies(spark):
    """Copies of an upweighted doc are sharded by the COMBINED (doc,
    copy) key: collision rate across a doc's copies tracks 1/n_shards,
    not 1.0 (sharding-then-replicating would collide always).  The
    manifest conserves the emitted row count exactly."""
    from pyspark.sql import functions as F
    from bigvectorbench_spark.operators.curation import epoch_oversample
    from bigvectorbench_spark.operators.packing import shard_assign

    docs = spark.createDataFrame(
        [(i, "src2", 5) for i in range(500)],  # src2 -> 2.0 epochs
        "doc_id long, source string, n_tok long")
    over = epoch_oversample(docs)
    keyed = over.withColumn(
        "_sid", F.concat(F.col("doc_id").cast("string"), F.lit("#"),
                         F.col("copy_id").cast("string")))
    a = shard_assign(keyed, n_shards=16, seed=42, id_col="_sid")
    by_doc = {}
    for r in a.collect():
        by_doc.setdefault(r["doc_id"], []).append(r["shard"])
    assert all(len(v) == 2 for v in by_doc.values())  # exactly 2.0 epochs
    collide = sum(1 for v in by_doc.values() if v[0] == v[1]) / len(by_doc)
    assert collide < 0.2  # ~1/16 expected; 1.0 would mean copies collocate
    m = a.groupBy("shard").count().collect()
    assert sum(r["count"] for r in m) == 1000


