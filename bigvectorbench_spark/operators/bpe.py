"""BPE vocabulary training (Sennrich et al. 2016, "Neural Machine
Translation of Rare Words with Subword Units"), re-expressed Spark-first:
learn a byte-pair-encoding merge table from a corpus and apply it — the
tokenizer-construction step of an LLM data pipeline (functions/text.py's
``bpe_tokens`` PRE-tokenizes with the GPT-2 regex; this module learns the
subword vocabulary itself).

Reference scope: the reference benchmarks engines on pre-embedded corpora
and ships no tokenizer training; this is the builder's-brief
training-pipeline surface (like curation.py / dsir.py).

Scale design (the shuffle account at 100 TB):

- **Word histogram** (the ONLY corpus-sized step): explode tokens ->
  groupBy(word) with map-side combine, so the shuffle is bounded by the
  DISTINCT vocabulary per partition (Heaps-law sublinear), never token
  volume.  ``min_count`` prunes the long tail before the fit — the
  standard frequency threshold, and at web scale the difference between
  a 100M-row histogram and a 1M-row one.
- **Merge learning** runs driver-side on the collected histogram — the
  bounded-fit convention the PQ/IVF index builds use (pq.py,
  similarity.py), guarded by an explicit ``vocab_cap`` envelope: BPE's
  merge loop is inherently sequential (each merge depends on counts
  produced by the previous one), so no engine distributes it; what
  scales is keeping its INPUT vocabulary-bounded.
- **Segmentation** is distributed over the vocabulary table
  (mapInPandas), not the corpus: each distinct word is segmented once.
- **Application** broadcasts the (word -> piece count) map back into the
  token stream; the rollup is map-side combined.  Corpus text is
  scanned, never shuffled.

Cross-engine check: the oracle (``queries.text._bpe_oracle``) learns
the same merge table with an INDEPENDENT implementation — Sennrich-style
apply-merges-in-order segmentation vs this module's GPT-2-style
lowest-rank-first loop — and embeds its (word, n_pieces) map as SQL
literals; hash equality proves both the distributed histogram and the
deterministic merge order agree."""

from __future__ import annotations

from collections import Counter
from typing import Iterable, Sequence

from pyspark.sql import DataFrame, functions as F

from bigvectorbench_spark.functions import text as tx

__all__ = ["MARKER", "word_histogram", "learn_bpe", "bpe_segment",
           "bpe_train_report"]

MARKER = "</w>"          # end-of-word symbol (Sennrich's convention)
BPE_FIT_VOCAB_CAP = 200_000  # driver-side fit envelope (distinct words)


def word_histogram(df: DataFrame, *, text_col: str = "text",
                   min_count: int = 1) -> DataFrame:
    """(word, n) — corpus word frequencies.  One map-side-combined
    aggregation; the shuffle carries distinct words per partition, not
    token volume."""
    hist = (df.select(F.explode(tx.tokens(F.col(text_col))).alias("word"))
            .groupBy("word")
            .agg(F.count("*").cast("bigint").alias("n")))
    if min_count > 1:
        hist = hist.filter(F.col("n") >= min_count)
    return hist


def learn_bpe(word_counts: Iterable[tuple[str, int]],
              num_merges: int) -> list[tuple[str, str]]:
    """The classic BPE trainer over a (word, count) histogram: start from
    characters (+ the end-of-word marker), repeatedly merge the most
    frequent adjacent symbol pair.  DETERMINISTIC tie-break: highest
    count, then lexicographically smallest pair — no dict-order or
    float dependence, so any engine reproduces the merge list exactly.

    Pure driver-side: O(num_merges x Σ|word|) over the vocabulary-bounded
    histogram (identical sequences aggregate their counts first)."""
    vocab: dict[tuple[str, ...], int] = {}
    for w, c in word_counts:
        seq = tuple(w) + (MARKER,)
        vocab[seq] = vocab.get(seq, 0) + int(c)
    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        pairs: Counter = Counter()
        for seq, c in vocab.items():
            for pair in zip(seq, seq[1:]):
                pairs[pair] += c
        if not pairs:
            break
        top = max(pairs.values())
        best = min(p for p, c in pairs.items() if c == top)
        merges.append(best)
        a, b = best
        ab = a + b
        new: dict[tuple[str, ...], int] = {}
        for seq, c in vocab.items():
            out: list[str] = []
            i = 0
            while i < len(seq):
                if i + 1 < len(seq) and seq[i] == a and seq[i + 1] == b:
                    out.append(ab)
                    i += 2
                else:
                    out.append(seq[i])
                    i += 1
            t = tuple(out)
            new[t] = new.get(t, 0) + c
        vocab = new
    return merges


def bpe_segment(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Segment one word with a learned merge table, GPT-2 style: repeatedly
    merge ALL occurrences of the lowest-rank adjacent pair.  Equivalent to
    applying the merges in learned order (the oracle implements THAT form;
    their agreement is cross-checked)."""
    seq: list[str] = list(word) + [MARKER]
    while len(seq) > 1:
        best_rank = None
        best_pair = None
        for pair in zip(seq, seq[1:]):
            r = ranks.get(pair)
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_pair = r, pair
        if best_pair is None:
            break
        a, b = best_pair
        ab = a + b
        out: list[str] = []
        i = 0
        while i < len(seq):
            if i + 1 < len(seq) and seq[i] == a and seq[i + 1] == b:
                out.append(ab)
                i += 2
            else:
                out.append(seq[i])
                i += 1
        seq = out
    return seq


def bpe_train_report(df: DataFrame, *, text_col: str = "text",
                     group_col: str = "source", num_merges: int = 100,
                     min_count: int = 1,
                     vocab_cap: int = BPE_FIT_VOCAB_CAP) -> DataFrame:
    """Learn ``num_merges`` BPE merges from the corpus, then account for
    the resulting tokenization per group:

      (group, n_tokens, n_pieces, pieces_per_token)

    pieces_per_token is the compression the learned vocabulary achieves
    (chars+1 per token with no merges, approaching 1.0 as merges cover
    whole words).  Histogram -> driver fit (envelope-guarded bounded
    collect) -> distributed per-word segmentation -> broadcast join back
    to the token stream."""
    hist = word_histogram(df, text_col=text_col,
                          min_count=min_count).persist()
    rows = hist.limit(vocab_cap + 1).collect()
    if len(rows) > vocab_cap:
        raise ValueError(
            f"distinct vocabulary exceeds the driver-fit envelope "
            f"({vocab_cap}); raise min_count or vocab_cap")
    merges = learn_bpe(((r["word"], r["n"]) for r in rows), num_merges)
    ranks = {p: i for i, p in enumerate(merges)}

    def seg(batches):
        for pdf in batches:
            pdf = pdf[["word"]].copy()
            pdf["n_pieces"] = [len(bpe_segment(w, ranks))
                               for w in pdf["word"]]
            yield pdf

    wmap = hist.mapInPandas(seg, schema="word string, n_pieces int")
    occ = df.select(F.col(group_col),
                    F.explode(tx.tokens(F.col(text_col))).alias("word"))
    j = occ.join(F.broadcast(wmap), "word")
    return j.groupBy(group_col).agg(
        F.count("*").cast("bigint").alias("n_tokens"),
        F.sum("n_pieces").cast("bigint").alias("n_pieces"),
        F.round(F.sum("n_pieces").cast("double") / F.count("*"), 6)
        .alias("pieces_per_token"),
    )
