"""Sequence packing for LLM training-data pipelines (builder's-brief
extension surface): assign every document a contiguous token span in the
virtual concatenation of the corpus, then cut that stream into fixed-size
training blocks — the "concat-and-split" packing used by GPT-style
pretraining loaders (each block is ``block_size`` tokens; a document may
span a block boundary).

The core primitive is a GLOBAL prefix sum over documents ordered by id.
The naive Spark expression — ``sum(n) OVER (ORDER BY doc_id)`` with no
partitionBy — collapses the whole corpus into ONE window task, which is
exactly the single-thread bottleneck a 100 TB table cannot afford.  This
module implements the classic two-pass distributed prefix sum instead:

1. docs are range-bucketed by id (``n_buckets`` fixed, independent of
   corpus size), and the cumulative sum WITHIN each bucket is a
   ``partitionBy(bucket)`` window — all buckets in parallel, one shuffle;
2. per-bucket token totals (≤ ``n_buckets`` rows — bounded by
   construction, not by data) are collected, turned into exclusive bucket
   offsets on the driver, and joined back broadcast.

``global start = bucket offset + within-bucket cumsum − n_tokens`` is
exact integer arithmetic, identical to the single-window form for every
row, which is what the DuckDB oracle (a plain global window) checks.

Scale notes:
- The tokenizer runs ONCE per document: the narrow (id, n_tokens, bucket)
  projection is cached before the totals pass, so pass 2 reads 3 longs per
  row, not the text.  The cache envelope is 24 bytes × n_docs — at 10^9
  docs that is ~24 GB cluster-wide, a fraction of executor storage; for
  corpora beyond that, write the projection to parquet instead (same two
  jobs, no semantic change).
- Shuffle account: one hash exchange on ``bucket`` (3-long rows), one
  broadcast of the ≤ n_buckets offset table.  Document text never moves.
- Everything downstream (block ids, boundary-crossing flags, per-block
  token splits) is pure integer arithmetic in whole-stage codegen.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, functions as F

from bigvectorbench_spark.functions import text as tx

__all__ = ["pack_blocks", "block_manifest", "chunk_documents", "chunk_report",
           "shard_assign", "shard_manifest"]


def pack_blocks(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_size: int = 512,
    n_buckets: int = 1024,
    max_id: int | None = None,
) -> DataFrame:
    """Per-document packing spans: (doc_id, n_tokens, start_off, end_off,
    first_block, n_blocks), where offsets index the virtual concatenation
    of all documents in ``id_col`` order and blocks are ``block_size``-token
    windows of that stream.  ``n_blocks`` counts the blocks the document
    touches (0 for empty documents).

    ``max_id``: highest id, used only to size the range buckets.  Pass it
    when known from table metadata (e.g. a generation manifest) to skip
    the one-column max() scan; any upper bound ≥ the true max is valid —
    bucketing changes intermediate bucket ids, never the output.
    """
    if block_size <= 0:
        raise ValueError("block_size must be positive")
    sid, n = F.col(id_col).cast("bigint"), F.col("n_tokens")
    if max_id is None:
        row = df.agg(F.max(sid).alias("m")).first()
        max_id = 0 if row is None or row["m"] is None else int(row["m"])
    width = max(1, (int(max_id) + n_buckets) // n_buckets)

    narrow = df.select(
        sid.alias("_id"),
        tx.token_count(F.col(text_col)).cast("bigint").alias("n_tokens"),
        (sid / width).cast("bigint").alias("_b"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("_b").orderBy("_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    cum = narrow.withColumn("_cum", F.sum("n_tokens").over(w))
    # One tokenize pass total: the totals job below re-reads this narrow
    # cached projection (3 longs/row), not the text.
    cum = cum.persist()
    try:
        # Bounded collect: ≤ n_buckets rows by construction (fixed at call
        # time, not data-dependent) — the driver-side half of the two-pass
        # prefix sum.
        totals = {
            r["_b"]: r["t"]
            for r in cum.groupBy("_b").agg(F.max("_cum").alias("t")).collect()
        }
        off, offsets = 0, {}
        for b in sorted(totals):
            offsets[b] = off
            off += totals[b]
        spark = df.sparkSession
        off_df = spark.createDataFrame(
            [(int(b), int(o)) for b, o in sorted(offsets.items())],
            "_b bigint, _off bigint")
        start = (F.col("_off") + F.col("_cum") - F.col("n_tokens"))
        first = F.col("start_off") - F.col("start_off") % block_size
        last_tok = F.col("end_off") - 1
        out = (
            cum.join(F.broadcast(off_df), "_b")
            .select(
                F.col("_id").alias(id_col),
                "n_tokens",
                start.alias("start_off"),
                (start + F.col("n_tokens")).alias("end_off"),
            )
            .select(
                id_col, "n_tokens", "start_off", "end_off",
                (F.col("start_off") / block_size).cast("bigint")
                .alias("first_block"),
                F.when(
                    F.col("n_tokens") > 0,
                    (last_tok / block_size).cast("bigint")
                    - (F.col("start_off") / block_size).cast("bigint") + 1,
                ).otherwise(F.lit(0)).cast("bigint").alias("n_blocks"),
            )
        )
        # Materialization note: callers that consume `out` lazily after this
        # function returns still hit the persisted `cum` (unpersist below is
        # lazy/non-blocking), but the cache lifetime is the caller's query,
        # not the session.
        return out
    finally:
        cum.unpersist(blocking=False)


def block_manifest(
    packed: DataFrame, *, block_size: int = 512, id_col: str = "doc_id"
) -> DataFrame:
    """Per-block composition from ``pack_blocks`` output: (block_id, n_docs,
    n_tokens) — how many documents contribute to each training block and
    how many of its ``block_size`` slots they fill (the final block of the
    stream may be partial; all others are exactly full, which is the
    packing invariant a loader relies on).

    Plan: explode each document onto the blocks it touches (``n_blocks`` is
    tiny for natural text — a doc touches ⌈n/B⌉+1 blocks at most), compute
    the overlap of [start_off, end_off) with each block window in codegen,
    then one map-side-combined groupBy on block_id."""
    b = F.col("block_id")
    lo = F.greatest(F.col("start_off"), b * block_size)
    hi = F.least(F.col("end_off"), (b + 1) * block_size)
    return (
        packed.filter(F.col("n_blocks") > 0)
        .select(
            id_col, "start_off", "end_off",
            F.explode(
                F.sequence(
                    F.col("first_block"),
                    F.col("first_block") + F.col("n_blocks") - 1,
                )
            ).alias("block_id"),
        )
        .groupBy("block_id")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(hi - lo).cast("bigint").alias("n_tokens"),
        )
    )


# --------------------------------------------------------- training shards

def shard_assign(df: DataFrame, *, n_shards: int = 32, seed: int = 42,
                 id_col: str = "doc_id") -> DataFrame:
    """Deterministic pseudo-random training-shard assignment — the "last
    mile" of a curation pipeline: scatter documents across ``n_shards``
    output shards (WebDataset/TFRecord-style) so each shard is an unbiased
    sample of the corpus and a loader can stream shards independently.

    ``shard = int(md5(seed || '|' || id)[:8 hex], 16) % n_shards`` — a
    seeded hash, not ``rand()``, so the assignment is a pure column
    function: re-running the job, resuming after failure, or recomputing
    a lost partition yields the SAME shard for every document (rand()
    breaks exactly-once shard membership under task retry).  The 32-bit
    hash prefix keeps the value in bigint range in every engine.

    Scale shape: map-only (no shuffle here).  The actual shard WRITE is
    ``out.repartition(n_shards, "shard").write.partitionBy("shard")`` —
    one hash exchange on the shard key, each shard landing as one
    contiguous partition; at 100 TB you'd raise n_shards to O(10k) so a
    shard fits an executor and set maxRecordsPerFile for file sizing."""
    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(str(int(seed))), F.lit("|"),
                           F.col(id_col).cast("string"))), 1, 8),
        16, 10).cast("bigint")
    return df.withColumn("shard", (h % n_shards).cast("int"))


def shard_manifest(df: DataFrame, *, n_shards: int = 32, seed: int = 42,
                   id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """Per-shard manifest for the assignment above: (shard, n_docs,
    n_tokens, n_chars) — the balance sheet a training job reads to verify
    no shard is pathologically over/under-weight before launch.  One
    map-side-combined groupBy on the shard key; output is ≤ n_shards rows
    regardless of corpus size."""
    a = shard_assign(df, n_shards=n_shards, seed=seed, id_col=id_col)
    return (
        a.groupBy("shard")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(tx.token_count(F.col(text_col)).cast("bigint"))
            .cast("bigint").alias("n_tokens"),
            F.sum(F.length(text_col)).cast("bigint").alias("n_chars"),
        )
    )


# ------------------------------------------------------------- RAG chunking

def chunk_documents(df: DataFrame, *, id_col: str = "doc_id",
                    text_col: str = "text", size: int = 64,
                    stride: int = 48,
                    extra_cols: Sequence[str] = ()) -> DataFrame:
    """Sliding-window document chunking — the context-window preparation
    step for embedding / RAG pipelines: split each document's token
    stream into windows of ``size`` tokens advancing by ``stride``
    (overlap = size - stride), with a final short chunk for the tail so
    every token lands in >= 1 chunk.  Emits one row per chunk:

      (doc_id, [extra...], chunk_id, start_tok, n_chunk_tokens, chunk_text)

    chunk_id is 0-based within the document; start_tok is the 1-based
    token offset.  Chunk count per doc: 1 + ceil(max(0, n - size) /
    stride) for docs with n >= 1 tokens; empty docs emit no chunks.

    Scale shape: entirely row-local (one tokenizer pass, one higher-order
    transform, one explode) — a map-only scan like c4_clean; the chunk
    stream is a generator output with no shuffle of its own.  Chunk text
    re-joins token slices, so downstream embedding UDFs see clean
    whitespace-normalized windows."""
    if size < 1 or stride < 1:
        raise ValueError("size and stride must be >= 1")
    tk = df.select(F.col(id_col), *[F.col(c) for c in extra_cols],
                   tx.tokens(F.col(text_col)).alias("tk"))
    n = F.size("tk")
    n_chunks = F.when(
        n <= 0, F.lit(0)
    ).otherwise(
        1 + F.ceil((F.greatest(n - size, F.lit(0))) / F.lit(stride))
    ).cast("int")
    idx = F.when(n_chunks > 0, F.sequence(F.lit(0), n_chunks - 1)
                 ).otherwise(F.lit([]).cast("array<int>"))
    chunks = F.transform(
        idx,
        lambda c: F.struct(
            c.alias("chunk_id"),
            (c * stride + 1).alias("start_tok"),
            F.slice(F.col("tk"), c * stride + 1, size).alias("toks"),
        ),
    )
    ex = tk.select(id_col, *extra_cols, F.explode(chunks).alias("ch"))
    return ex.select(
        id_col, *extra_cols,
        F.col("ch.chunk_id").cast("int").alias("chunk_id"),
        F.col("ch.start_tok").cast("int").alias("start_tok"),
        F.size("ch.toks").cast("int").alias("n_chunk_tokens"),
        F.array_join("ch.toks", " ").alias("chunk_text"),
    )


def chunk_report(df: DataFrame, *, id_col: str = "doc_id",
                 text_col: str = "text", group_col: str = "source",
                 size: int = 64, stride: int = 48) -> DataFrame:
    """Per-group chunking accounting: chunk volume, token coverage
    (tokens counted once per CHUNK, so overlap shows up as
    chunk_tokens > doc tokens), short-tail counts, and chunk-text
    character volume.  One map-side-combined rollup on the shuffle-free
    chunk scan."""
    ch = chunk_documents(df, id_col=id_col, text_col=text_col, size=size,
                         stride=stride, extra_cols=(group_col,))
    return (
        ch.groupBy(group_col)
        .agg(
            F.countDistinct(id_col).cast("bigint").alias("n_docs_chunked"),
            F.count("*").cast("bigint").alias("n_chunks"),
            F.sum("n_chunk_tokens").cast("bigint").alias("n_chunk_tokens"),
            F.sum((F.col("n_chunk_tokens") < size).cast("int"))
            .cast("bigint").alias("n_short_chunks"),
            F.sum(F.length("chunk_text")).cast("bigint").alias("chunk_chars"),
        )
    )
