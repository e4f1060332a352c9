"""Deduplication operators for training-data pipelines (BASELINE.json
extension surface): exact, n-gram Jaccard, MinHash+LSH, SimHash, and
embedding-cosine near-dup.

Scale design notes (the whole point of these implementations):

- **No cross joins.** Candidate generation is always a *bucket join* — an
  inverted index on shingles, an LSH band hash, or a SimHash band — so the
  shuffle is O(candidates), not O(n²).  A 100 TB corpus cross-joined with
  itself is not a plan; grouped buckets with a frequency cap are.
- **Exact Jaccard via co-occurrence counts.** |A∩B| is the number of shared
  shingles, countable by self-joining the inverted index — no need to carry
  full shingle arrays through the shuffle.
- **Hot-key protection.** A shingle appearing in f docs yields f² candidate
  pairs; ``max_shingle_freq`` drops degenerate shingles (stopword runs) the
  way real pipelines do.
"""

from __future__ import annotations

import math
from typing import Optional

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bigvectorbench_spark.functions import text as tx
from bigvectorbench_spark.functions import distance as dist_fns
from bigvectorbench_spark.operators.knn import arrow_map, arrow_rows, list_parts

def _widen(df: DataFrame) -> DataFrame:
    """Small parquet inputs arrive as 1-2 partitions; expression-heavy
    per-row work (minhash/simhash/shingling) then runs single-threaded.
    Repartition up to the session's parallelism before such stages — the
    shuffle of raw text is trivially cheaper than serializing the compute.
    At real corpus scale inputs already have enough splits and this no-ops."""
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < parallelism:
        return df.repartition(parallelism)
    return df


# ---------------------------------------------------------------- exact dedup


def text_key(text: Column) -> Column:
    """Canonical content key: md5 of whitespace-normalized lowercase text."""
    return F.md5(F.concat_ws(" ", tx.tokens(text)))


def exact_dup_groups(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Groups of byte-identical (post-normalization) documents:
    (text_key, n_docs, canonical_id=min id).  Hash-groupBy — one shuffle on
    the 32-char key, map-side partial aggregation for free."""
    return (
        df.select(F.col(id_col), text_key(F.col(text_col)).alias("text_key"))
        .groupBy("text_key")
        .agg(F.count("*").alias("n_docs"), F.min(id_col).alias("canonical_id"))
    )


# ------------------------------------------------- n-gram Jaccard (inverted index)


def _hash_fn(hash: str):
    """Shingle/token hash choice: engine-native xxhash64 (fast) or the
    portable md5-derived 60-bit hash (cross-engine reproducible — lets the
    whole signature pipeline be oracle-checked value-for-value)."""
    if hash == "xxhash64":
        return lambda s: F.xxhash64(s)
    if hash == "md5":
        return tx.portable_hash60
    raise ValueError(f"unknown hash {hash!r}")


def _shingle_sets(df: DataFrame, id_col: str, text_col: str, n: int,
                  hash: str = "xxhash64",
                  tk: DataFrame | None = None) -> DataFrame:
    """(id, sh ARRAY<BIGINT>): distinct hashed n-gram shingles per doc.

    Two-phase projection: tokens materialize before shingling (see
    ``shingles_from_tokens`` — inlining re-tokenizes per shingle).

    ``tk``: a precomputed ``(id, tk)`` tokenized frame (per-document
    local, so row-identical to tokenizing here) — pipelines that also
    need tokens for quality scoring share one pass."""
    tokenized = tk.select("id", "tk") if tk is not None else df.select(
        F.col(id_col).alias("id"), tx.tokens(F.col(text_col)).alias("tk")
    )
    # Emptiness filter on TOKEN COUNT, not on the shingle array: a filter on
    # size(sh) gets pushed below the projection with the whole shingle
    # expression substituted in — re-running the quadratic pipeline per row.
    return tokenized.filter(F.size("tk") >= n).select(
        "id",
        F.transform(tx.shingles_from_tokens(F.col("tk"), n), _hash_fn(hash)).alias("sh"),
    )


def _verify_jaccard(cand: DataFrame, sets_df: DataFrame) -> DataFrame:
    """Join full shingle arrays onto (id_a, id_b) candidates and compute the
    exact Jaccard — O(candidates), independent of how candidates were found."""
    a = sets_df.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sets_df.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    return (
        cand.join(a, "id_a").join(b, "id_b")
        .withColumn(
            "jaccard",
            inter / (F.size("sh_a") + F.size("sh_b") - inter).cast("double"),
        )
        .select("id_a", "id_b", "jaccard")
    )


def _hot_order_prefix(
    sets_df: DataFrame,
    freq: DataFrame,
    threshold: float,
    max_shingle_freq: Optional[int],
    max_hot_shingles: int,
) -> DataFrame:
    """(id, shingle) prefix entries via the broadcast-hot global order (see
    ``ngram_jaccard_pairs`` freq_order='hot').  One vocabulary-bounded
    shuffle (the freq rollup, already computed), one bounded driver collect,
    zero per-occurrence joins.

    The hot head is selected by a FREQUENCY-HISTOGRAM cut, not by a global
    sort-limit: ``orderBy().limit(n).collect()`` ships each task's local
    top-n to the driver — 32 partitions × 2M rows blew
    spark.driver.maxResultSize at 500k Zipf docs.  One bounded aggregate
    (distinct frequency values ≪ vocabulary) picks the smallest cut
    frequency whose survivor count fits ``max_hot_shingles``; the final
    collect is genuinely bounded.  Ordering among sub-cut shingles falls
    back to (1, hash) — still one consistent global total order, so
    candidate completeness is untouched; only candidate volume can grow,
    bounded by the cut frequency itself (a non-hot shingle's inverted list
    has < cut entries)."""
    freq = freq.persist()
    try:
        hist = sorted(
            ((r["freq"], r["n"]) for r in
             freq.groupBy("freq").agg(F.count("*").alias("n")).collect()),
            reverse=True)
        f_cut, running = 2, 0
        for f, n_at_f in hist:           # hottest first; stop above the cap
            if f < 2 or running + n_at_f > max_hot_shingles:
                break
            running += n_at_f
            f_cut = f
        if running == 0:
            f_cut = (hist[0][0] + 1) if hist else 2   # head empty: all cold
        if max_shingle_freq is not None and f_cut > max_shingle_freq + 1:
            # the degenerate-shingle drop list must be fully inside the hot
            # head or dropped shingles would silently re-enter candidates
            raise ValueError(
                f"hot head at cut frequency {f_cut} cannot cover the "
                f"max_shingle_freq={max_shingle_freq} drop list; raise "
                f"max_hot_shingles")
        hot_rows = freq.filter(F.col("freq") >= f_cut).collect()
    finally:
        freq.unpersist()
    hotmap = {r["shingle"]: r["freq"] for r in hot_rows}
    thr, max_f = float(threshold), max_shingle_freq

    def _prefix(batch, hm):
        ids_out, sh_out = [], []
        for did, sh in zip(batch.column("id").to_pylist(), batch.column("sh").to_pylist()):
            if max_f is not None:
                sh = [s for s in sh if hm.get(s, 1) <= max_f]
            if not sh:
                continue
            sh.sort(key=lambda s: (hm.get(s, 1), s))
            plen = len(sh) - math.ceil(thr * len(sh)) + 1
            ids_out.extend([did] * plen)
            sh_out.extend(sh[:plen])
        return [ids_out, sh_out]

    return arrow_map(sets_df, _prefix, [("id", pa.int64()), ("shingle", pa.int64())],
                     state=hotmap)


def ngram_jaccard_pairs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_freq: Optional[int] = None,
    freq_order: str = "auto",
    max_hot_shingles: int = 2_000_000,
    hot_min_docs: int = 100_000,
    tk: DataFrame | None = None,
) -> DataFrame:
    """All document pairs with n-gram-shingle Jaccard ≥ threshold — EXACT,
    via prefix filtering (the PPJoin family): order each document's shingles
    by ascending global frequency and index only the first
    ``|A| − ⌈t·|A|⌉ + 1`` of them; any pair with Jaccard ≥ t must share an
    indexed prefix shingle under a consistent global order, so candidates
    are complete.  Verification recomputes the exact Jaccard per candidate.

    Why not a plain inverted-index self-join: a shingle occurring in f docs
    contributes f² candidate pairs — on a corpus with hot shingles (small
    vocabulary, boilerplate) that explodes quadratically.  Rarest-first
    prefixes keep hot shingles out of the index for most documents.
    ``max_shingle_freq`` additionally drops degenerate shingles from
    *candidate generation* entirely (still verified exactly, so precision is
    unaffected; only recall of pathological boilerplate pairs is).

    ``freq_order`` picks how the global rarest-first order is realized
    (the exact order's freq join-back and re-assembly shuffles grew
    4.5×/decade on Zipf text):

    - ``"hot"`` (the scale path): only the ``max_hot_shingles``
      hottest shingles carry their exact frequency, broadcast as a plain
      dict; every other shingle is "cold" (freq 1, ties broken by hash).
      Ordering + prefix extraction then run ROW-LOCALLY in one Arrow
      kernel — the per-occurrence freq join-back shuffle and the
      re-assembly groupBy disappear entirely.  Candidate completeness is
      untouched:
      the prefix theorem needs only a CONSISTENT global total order, and
      (capped_freq, shingle) is one; ordering precision among genuinely
      rare shingles is noise, while the hot head — the part that controls
      candidate volume — is exact.
    - ``"exact"``: the original two-shuffle realization (kept for A/B and
      the stage-attribution script).
    - ``"auto"`` (default): exact below ``hot_min_docs`` documents, hot
      above — measured crossover: the hot path's fixed overhead (histogram
      aggregate + head collect + broadcast) costs +60% at 2k docs, reaches
      parity at 50k, and wins 1.8× at 500k; the one extra count() is a
      narrow job.

    Either order produces the IDENTICAL verified pair set (prefix
    completeness needs only a consistent global total order).
    Output: (id_a, id_b, jaccard) with id_a < id_b."""
    if not (0.0 < threshold <= 1.0):
        raise ValueError(f"threshold must be in (0,1], got {threshold}")
    if freq_order not in ("hot", "exact", "auto"):
        raise ValueError(f"unknown freq_order {freq_order!r}")
    sets_df = _shingle_sets(_widen(df), id_col, text_col, n, tk=tk)
    if freq_order == "auto":
        freq_order = "hot" if sets_df.count() >= hot_min_docs else "exact"

    inv = sets_df.select("id", F.explode("sh").alias("shingle"))
    freq = inv.groupBy("shingle").agg(F.count("*").alias("freq"))

    if freq_order == "hot":
        prefix = _hot_order_prefix(sets_df, freq, threshold,
                                   max_shingle_freq, max_hot_shingles)
    else:
        if max_shingle_freq is not None:
            freq = freq.filter(F.col("freq") <= max_shingle_freq)
        ordered = (
            inv.join(freq, "shingle")
            .groupBy("id")
            .agg(F.sort_array(F.collect_list(F.struct("freq", "shingle"))).alias("os"))
            .select(
                "id",
                F.transform("os", lambda s: s["shingle"]).alias("ordered_sh"),
            )
        )
        # prefix length for Jaccard t:  |A| - ceil(t*|A|) + 1
        sz = F.size("ordered_sh")
        plen = sz - F.ceil(sz * F.lit(float(threshold))).cast("int") + 1
        prefix = ordered.select(
            "id", F.explode(F.slice("ordered_sh", 1, plen)).alias("shingle")
        )
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    return _verify_jaccard(cand, sets_df).filter(F.col("jaccard") >= threshold)


# --------------------------------------------------------------- MinHash + LSH

# 2^31-1: universal-hash modulus small enough that a·x+b never overflows
# int64 (a, x < 2^31, so a·x < 2^62).
_MERSENNE = (1 << 31) - 1

# Scale envelope for the exact all-pairs forms of embedding_dup_pairs
# (brute theta-join / gemm broadcast).  Both are declared oracle paths,
# quadratic by construction; past this row count the SRP LSH path is the
# only sane plan and misuse should fail fast, not run for hours.
ALL_PAIRS_MAX_ROWS = 200_000


def _perm_params(num_perm: int, seed: int = 1) -> list[tuple[int, int]]:
    rng = np.random.RandomState(seed)
    a = rng.randint(1, _MERSENNE, size=num_perm, dtype=np.int64)
    b = rng.randint(0, _MERSENNE, size=num_perm, dtype=np.int64)
    return list(zip(a.tolist(), b.tolist()))


def minhash_from_hashes(hashes: Column, *, num_perm: int = 64, seed: int = 1) -> Column:
    """ARRAY<BIGINT> MinHash signature from a MATERIALIZED int64-hash array
    column: h_i(x) = (a_i·(x mod p) + b_i) mod p, p = 2^31−1.

    Single-pass formulation: ONE ``aggregate`` whose accumulator is the
    length-``num_perm`` vector of running minima, updated via ``zip_with``
    against a literal (a,b) parameter array.  The naive form (num_perm
    separate ``array_min(transform(...))`` columns) re-evaluates the input
    pipeline per permutation — 64× the work."""
    params = F.lit([[a, b] for a, b in _perm_params(num_perm, seed)])
    init = F.array_repeat(F.lit(_MERSENNE).cast("long"), num_perm)
    return F.aggregate(
        hashes,
        init,
        lambda acc, h: F.zip_with(
            acc, params,
            lambda m, ab: F.least(
                m, F.pmod(F.pmod(h, F.lit(_MERSENNE)) * ab[0] + ab[1], F.lit(_MERSENNE))
            ),
        ),
    )


def minhash_sets(
    sets_df: DataFrame,
    *,
    num_perm: int = 64,
    seed: int = 1,
) -> DataFrame:
    """(id, sig ARRAY<BIGINT>) MinHash signatures from an (id, sh) shingle-set
    table — the scale path: one Arrow kernel computes all permutations for a
    whole batch as a (nnz, num_perm) matrix and takes per-document minima via
    ``minimum.reduceat`` at the list offsets.  Bit-identical to
    ``minhash_from_hashes`` (same universal-hash params, same modulus); the
    Column form evaluates num_perm interpreted ops per shingle and is kept
    for single-use contexts and as the parity oracle."""

    # Per-chunk shingle budget: the permuted-hash matrix H is
    # (shingles, num_perm) int64 — unchunked, a 10k-doc Arrow batch of
    # ~128-shingle documents makes H ~650 MB with two more temporaries
    # behind it, and 32 concurrent tasks turned that into allocator
    # thrash (measured 27x/decade on the 500k Zipf corpus — superlinear
    # purely from memory pressure).  64k shingles cap H at 32 MB/task;
    # results are bit-identical (chunks split on document boundaries).
    _CHUNK = 1 << 16

    def kernel(batch, ab):
        a, b = ab[:, 0], ab[:, 1]
        n = batch.num_rows
        flat, offsets = list_parts(batch.column("sh"))
        counts = np.diff(offsets)
        sigs = np.full((n, len(a)), _MERSENNE, dtype=np.int64)
        lo = 0  # first doc of the current chunk
        while lo < n:
            hi = lo + 1
            while hi < n and offsets[hi + 1] - offsets[lo] <= _CHUNK:
                hi += 1
            seg = flat[offsets[lo]:offsets[hi]]
            if len(seg):
                hm = seg % _MERSENNE  # numpy % matches pmod (>= 0)
                H = hm[:, None] * a[None, :]
                H += b[None, :]
                H %= _MERSENNE
                # Segments start at the non-empty documents only: an
                # empty document's offset equals the next one's, and
                # would cut the segment before it one shingle short.
                full = counts[lo:hi] > 0
                starts = offsets[lo:hi][full] - offsets[lo]
                sigs[lo:hi][full] = np.minimum.reduceat(H, starts, axis=0)
            lo = hi
        return [batch.column("id").to_numpy(), sigs]

    t = sets_df.select(F.col("id").cast("bigint").alias("id"), "sh")
    return arrow_map(t, kernel, [("id", pa.int64()), ("sig", pa.list_(pa.int64()))],
                     state=np.array(_perm_params(num_perm, seed), dtype=np.int64))


def minhash_lsh_pairs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.7,
    seed: int = 1,
    verify: bool = True,
    hash: str = "xxhash64",
) -> DataFrame:
    """Near-duplicate pairs via MinHash banding (shingle→minhash→band→
    bucket-join).  With ``verify`` the candidates are re-checked with *exact*
    shingle Jaccard (via the inverted-index co-occurrence count), so banding
    only affects candidate recall, never precision.
    Output: (id_a, id_b, jaccard)."""
    if num_perm % bands != 0:
        raise ValueError(f"num_perm={num_perm} not divisible by bands={bands}")
    rows_per_band = num_perm // bands

    sets_df = _shingle_sets(_widen(df), id_col, text_col, shingle_n, hash=hash)
    sig = minhash_sets(sets_df, num_perm=num_perm, seed=seed)
    banded = sig.select(
        "id",
        F.posexplode(
            F.array(*[
                F.xxhash64(F.concat_ws(",", *[
                    F.element_at("sig", band * rows_per_band + r + 1).cast("string")
                    for r in range(rows_per_band)
                ]))
                for band in range(bands)
            ])
        ).alias("band", "bucket"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.bucket") == F.col("b.bucket"))
               & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    if not verify:
        return cand.withColumn("jaccard", F.lit(None).cast("double"))
    return _verify_jaccard(cand, sets_df).filter(F.col("jaccard") >= threshold)


def lsh_keepers(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    seed: int = 1,
    hash: str = "xxhash64",
    tk: DataFrame | None = None,
) -> DataFrame:
    """(id, keeper): the bucket-min election behind ``lsh_dedup_report``
    — keeper = min id over the doc's band buckets (= the doc itself iff
    it wins every bucket).  Docs too short to shingle are absent.  Two
    fixed-width shuffles, no pairs; see lsh_dedup_report for the why."""
    if num_perm % bands != 0:
        raise ValueError(f"num_perm={num_perm} not divisible by bands={bands}")
    rows_per_band = num_perm // bands

    # _shingle_sets already drops docs with < shingle_n tokens (and does
    # it on token count, NOT size(sh) — a size(sh) filter would be pushed
    # below the projection with the shingle expression substituted in,
    # re-running the pipeline per row; see _shingle_sets).
    sets_df = _shingle_sets(_widen(df), id_col, text_col, shingle_n,
                            hash=hash, tk=tk)
    sig = minhash_sets(sets_df, num_perm=num_perm, seed=seed)
    banded = sig.select(
        "id",
        F.posexplode(
            F.array(*[
                F.xxhash64(F.concat_ws(",", *[
                    F.element_at("sig", band * rows_per_band + r + 1)
                    .cast("string")
                    for r in range(rows_per_band)
                ]))
                for band in range(bands)
            ])
        ).alias("band", "bucket"),
    )
    # two fixed-width shuffles: (band, bucket) -> min id, then id -> min
    # keeper across the doc's buckets.  kept <=> the doc IS its own
    # keeper in every bucket it occupies.
    mins = banded.groupBy("band", "bucket").agg(F.min("id").alias("m"))
    return (
        banded.join(mins, ["band", "bucket"])
        .groupBy("id")
        .agg(F.min("m").alias("keeper"))
    )


def lsh_dedup_report(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "source",
    shingle_n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    seed: int = 1,
    hash: str = "xxhash64",
) -> DataFrame:
    """PAIRLESS near-dup dedup — the formulation that survives where pair
    lists cannot: every LSH band bucket elects its minimum id as the
    canonical copy, and a document is dropped iff ANY of its buckets
    elects a smaller id.  No candidate pair is ever materialized, so the
    cost is linear in (docs x bands) REGARDLESS of how dense the
    near-dup structure is.

    Why this exists alongside ``minhash_lsh_pairs``/``ngram_jaccard_pairs``:
    on corpora where loose-threshold similarity is DENSE, the pair set
    itself is quadratic — measured on a 5M-doc/4 GB iid-Zipf corpus at
    t=0.5, exact PPJoin exhausted a 32 GB heap, then a widened-shuffle
    retry wrote >60 GB of candidate spill before exhausting the disk,
    and MinHash banding fared no better (387s at 500k docs vs PPJoin's
    55s, still pair-bound).  The output volume was the bottleneck, not
    the algorithm, so the scale answer changes the FORMULATION: elect
    keepers per bucket (2 fixed-width shuffles, ≤ docs x bands rows) and
    never emit pairs.  Tighter thresholds / real web corpora keep the
    exact pair operators viable — this is the loose-threshold/production
    path (the form industrial LLM dedup pipelines run).

    Approximation contract: drop decisions come from band collisions
    (same recall knobs as banding: num_perm/bands), with NO exact-Jaccard
    verification — a colliding band is treated as a duplicate vote.  The
    keep-set differs from transitive-component dedup only in linkage
    depth (bucket-hop vs full closure).  Docs too short to shingle
    (< shingle_n tokens) are always kept.

    Output: (group, n_docs, n_kept, n_dropped) exact integers."""
    keeper = lsh_keepers(df, id_col=id_col, text_col=text_col,
                         shingle_n=shingle_n, num_perm=num_perm,
                         bands=bands, seed=seed, hash=hash)
    base = df.select(F.col(id_col).alias("id"), F.col(group_col))
    return (
        base.join(keeper, "id", "left")
        .select(
            group_col,
            F.coalesce(F.col("keeper") == F.col("id"), F.lit(True))
            .cast("int").alias("kept"),
        )
        .groupBy(group_col)
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("kept").cast("bigint").alias("n_kept"),
            (F.count("*") - F.sum("kept")).cast("bigint").alias("n_dropped"),
        )
    )


# -------------------------------------------------------------------- SimHash


def simhash64(df: DataFrame, *, id_col: str = "doc_id", text_col: str = "text",
              hash: str = "xxhash64") -> DataFrame:
    """64-bit SimHash per document: per-token xxhash64 is computed JVM-side;
    the bit-vote aggregation is a fully vectorized Arrow kernel — the list
    column flattens to one hash vector, bits unpack as an (nnz, 64) matrix,
    and per-document vote sums come from cumsum differences at the list
    offsets (handles empty documents, unlike reduceat).
    Output: (id, simhash BIGINT)."""
    hashed = _widen(df).select(
        F.col(id_col).alias("id"),
        F.transform(tx.tokens(F.col(text_col)), _hash_fn(hash)).alias("hs"),
    )

    shifts = np.arange(64, dtype=np.uint64)
    weights = (np.uint64(1) << shifts)

    def _simhash(batch, _):
        flat, offsets = list_parts(batch.column("hs"), np.uint64)
        if len(flat):
            bits = ((flat[:, None] >> shifts[None, :]) & np.uint64(1)).astype(np.int8)
            pm = (2 * bits - 1).astype(np.int8)
            cs = np.vstack([np.zeros((1, 64), dtype=np.int64),
                            np.cumsum(pm, axis=0, dtype=np.int64)])
            votes = cs[offsets[1:]] - cs[offsets[:-1]]
        else:
            votes = np.zeros((batch.num_rows, 64), dtype=np.int64)
        sig = ((votes > 0).astype(np.uint64) * weights[None, :]).sum(axis=1)
        return [batch.column("id").to_numpy(), sig.astype(np.int64)]

    return arrow_map(hashed, _simhash, [("id", pa.int64()), ("simhash", pa.int64())])


def simhash_pairs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    hash: str = "xxhash64",
) -> DataFrame:
    """Pairs of documents whose SimHashes differ in ≤ ``max_hamming`` bits.
    Blocking: split the 64-bit hash into 4 16-bit bands — by pigeonhole any
    pair within distance 3 shares at least one exact band, so the bucket join
    finds every qualifying pair; verification is a bit_count(xor) filter.
    Output: (id_a, id_b, hamming)."""
    sh = simhash64(df, id_col=id_col, text_col=text_col, hash=hash)
    bands = sh.select(
        "id", "simhash",
        F.posexplode(F.array(*[
            (F.shiftrightunsigned(F.col("simhash"), 16 * i).bitwiseAND(F.lit(0xFFFF)))
            for i in range(4)
        ])).alias("band", "chunk"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.chunk") == F.col("b.chunk"))
               & (F.col("a.id") < F.col("b.id")))
        .select(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
            F.col("a.simhash").alias("sh_a"), F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    return (
        cand.withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# -------------------------------------------------- embedding cosine near-dup


def embedding_dup_pairs(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    method: str = "srp",
    num_planes: int = 16,
    bands: int = 4,
    seed: int = 1,
    dim: int | None = None,
) -> DataFrame:
    """Pairs with cosine similarity ≥ threshold.

    ``method="brute"``: exact pairwise (id_a < id_b) — the correctness oracle
    form, quadratic, for modest n.
    ``method="gemm"``: exact like brute, but each Arrow batch scores
    against the full broadcast unit matrix in one numpy GEMM instead of a
    per-pair expression join — same pairs, float64 algebra folds differ at
    ~1e-15 so emitted cosines are equal after the usual 6-dp rounding
    unless a pair sits exactly on a rounding boundary.  Bounded by the
    broadcast (n × d doubles) and the per-batch score block (batch × n);
    for corpora past ~10^5 rows use ``srp``.
    ``method="srp"``: sign-random-projection LSH — ``num_planes`` hyperplane
    sign bits split into ``bands`` bucket keys; only same-bucket pairs are
    scored, then exactly verified.  The scale path: shuffle is O(candidates).
    Output: (id_a, id_b, cosine)."""
    base = _widen(df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec")))
    unit = base.select("id", dist_fns.unit_vec(F.col("vec")).alias("u"))

    def _cos(a, b):
        return dist_fns.dot(a, b)  # unit vectors: dot == cosine

    if method == "brute":
        # Same scale envelope as method="gemm" below: brute is the declared
        # O(n²) oracle form; a misuse at corpus scale must fail fast instead
        # of launching a quadratic theta-join.
        n_rows = unit.count()
        if n_rows > ALL_PAIRS_MAX_ROWS:
            raise ValueError(
                f"brute all-pairs is quadratic ({n_rows} rows > "
                f"{ALL_PAIRS_MAX_ROWS}) — use method='srp' at this size")
        a, b = unit.alias("a"), unit.alias("b")
        return (
            a.join(b, F.col("a.id") < F.col("b.id"))
            .select(
                F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                _cos(F.col("a.u"), F.col("b.u")).alias("cosine"),
            )
            .filter(F.col("cosine") >= threshold)
        )
    if method == "gemm":
        rows = unit.orderBy("id").collect()
        if len(rows) > ALL_PAIRS_MAX_ROWS:
            raise ValueError(
                f"gemm all-pairs broadcasts the corpus ({len(rows)} rows > "
                f"{ALL_PAIRS_MAX_ROWS}) — use method='srp' at this size")
        ids_all = np.array([r["id"] for r in rows], dtype=np.int64)
        U = np.array([r["u"] for r in rows], dtype=np.float64)
        thr = float(threshold)

        def _score(batch, st):
            ids_b, Ub = st
            ids = batch.column("id").to_numpy()
            S = arrow_rows(batch.column("u")) @ Ub.T
            ii, jj = np.nonzero((S >= thr) & (ids[:, None] < ids_b[None, :]))
            return [ids[ii], ids_b[jj], S[ii, jj]]

        return arrow_map(unit, _score, [("id_a", pa.int64()), ("id_b", pa.int64()),
                                        ("cosine", pa.float64())], state=(ids_all, U))
    if method != "srp":
        raise ValueError(f"unknown method {method!r}")

    if dim is None:
        # Vector width drives the hyperplane draw; callers that know it
        # (e.g. from the parquet schema/footer of the source table) pass
        # ``dim`` and skip this one-row probe job (r13).
        first = df.select(F.size(vec_col).alias("d")).first()
        if first is None:
            raise ValueError("empty input")
        dim = first["d"]
    rng = np.random.RandomState(seed)
    planes = rng.randn(num_planes, dim)
    if num_planes % bands != 0:
        raise ValueError("num_planes must divide into bands")
    per_band = num_planes // bands

    # All plane projections in one numpy GEMM per Arrow batch (SURVEY §4
    # BLAS batching): num_planes separate dot-product expressions would run
    # O(num_planes·d) interpreted HOF steps per row.  mapInArrow so the list
    # column's contiguous values buffer reshapes straight into the GEMM
    # matrix (no per-row Python object conversion).
    weights = (1 << np.arange(per_band - 1, -1, -1)).astype(np.int64)

    def _sigs(batch, P):
        ids = batch.column("id").to_numpy()
        bits = (arrow_rows(batch.column("vec")) @ P.T) >= 0  # (n, num_planes)
        buckets = [bits[:, band * per_band:(band + 1) * per_band].astype(np.int64) @ weights
                   for band in range(bands)]
        return [np.tile(ids, bands), np.repeat(np.arange(bands, dtype=np.int32), len(ids)),
                np.concatenate(buckets)]

    sigs = arrow_map(base.select(F.col("id").cast("bigint").alias("id"), "vec"), _sigs,
                     [("id", pa.int64()), ("band", pa.int32()), ("bucket", pa.int64())],
                     state=planes)
    a, b = sigs.alias("a"), sigs.alias("b")
    # candidates carry only ids through distinct; unit vectors re-join after,
    # so the (potentially wide) bucket join shuffles narrow rows only
    cand = (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.bucket") == F.col("b.bucket"))
               & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    ua = unit.select(F.col("id").alias("id_a"), F.col("u").alias("u_a"))
    ub = unit.select(F.col("id").alias("id_b"), F.col("u").alias("u_b"))
    return (
        cand.join(ua, "id_a").join(ub, "id_b")
        .withColumn("cosine", _cos(F.col("u_a"), F.col("u_b")))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


# ------------------------------------------------- duplicate-group clustering


def semantic_dup_pairs(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    nlist: int = 8,
    seed: int = 1,
    max_iter: int = 8,
) -> DataFrame:
    """SemDeDup-style cluster-scoped semantic near-dup pairs (Abbas et al.
    2023): k-means partitions the embedding space, and exact cosine pairs
    are generated WITHIN clusters only — the published scale recipe for
    semantic dedup, cutting pair work from O(n²) to O(Σ|cluster|²) ≈ n²/k.

    Plan: centroid fit on a bounded sorted-by-id sample (driver kmeans++,
    the IVF build path — similarity.py::IVFIndex.fit), assignment as a
    narrow Arrow GEMM map (no shuffle), then within-cluster scoring keyed
    on cluster_id.  Versus ``embedding_dup_pairs(method='brute')`` the
    cluster key turns the cross join into one O(n)-row shuffle.

    At 100 TB: nlist scales with the corpus (SemDeDup uses n/k ≈ 10⁴-10⁵
    rows per cluster) so each cluster's self-join stays executor-sized;
    skewed clusters split further by sub-bucketing the same way the
    banded LSH paths do.  Choosing nlist is the recall/cost lever: pairs
    straddling a k-means boundary are missed (the published trade-off;
    srp_recall-style gating applies).

    Each within-cluster pair is scored with the exact unit-vector cosine
    fold — engine-reproducible term order, so the scores value-oracle.

    Output: (id_a, id_b, cluster_id, cosine)."""
    from bigvectorbench_spark.operators.similarity import IVFIndex

    base = _widen(df.select(F.col(id_col).alias("id"),
                            F.col(vec_col).alias("vec")))
    idx = IVFIndex.fit(base, vec_col="vec", nlist=nlist, seed=seed,
                       max_iter=max_iter, sort_col="id")
    unit = (idx.assign(base, vec_col="vec")
            .select("id", "cluster_id",
                    dist_fns.unit_vec(F.col("vec")).alias("u")))
    a, b = unit.alias("a"), unit.alias("b")
    return (
        a.join(b, (F.col("a.cluster_id") == F.col("b.cluster_id"))
               & (F.col("a.id") < F.col("b.id")))
        .select(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
            F.col("a.cluster_id").alias("cluster_id"),
            dist_fns.dot(F.col("a.u"), F.col("b.u")).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def dup_components(
    pairs: DataFrame,
    *,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components over a duplicate-pair edge list:
    ``(id, component_id)`` for every id that appears in a pair, where
    ``component_id`` is the minimum id reachable through any chain of pairs.

    This is the step real dedup pipelines run *after* pair generation
    (``ngram_jaccard_pairs`` / ``minhash_lsh_pairs`` / ``simhash_pairs``):
    pairwise matches are transitive in intent — {A≈B, B≈C} is one keep/drop
    group — so the pair list must be clustered before canonical selection.

    Algorithm: iterative min-label propagation (the DataFrame form of
    large-star from Kiveris et al., "Connected Components in MapReduce and
    Beyond"). Each round every node takes the min of its own label and its
    neighbors' labels — one shuffle join per round — and converges in
    O(component diameter) rounds. Near-dup clusters are shallow (stars and
    short chains), so rounds stay in the low single digits even at corpus
    scale; ``max_iter`` guards against pathological chains. Lineage is
    truncated each round with ``localCheckpoint`` so the plan size stays
    constant across iterations, and the symmetric edge list is checkpointed
    once and re-joined every round (its shuffle is reused).

    No reference analog (the reference stops at pairwise ground truth);
    part of the BASELINE.json dedup extension surface.
    """
    # Checkpoint the (possibly expensive) pair plan FIRST: the symmetric
    # union references it twice, and without the cut both union branches
    # would re-execute the whole candidate-generation job.  All
    # checkpoints here are LAZY (r13): each one materializes inside the
    # next counted job instead of as its own eager job, halving the
    # driver job count of the loop (guide §1.2 — at sf0.1 the wall is
    # sequential job latency, and at scale fewer barriers is never worse).
    edges = pairs.select(
        F.col(id_a).cast("bigint").alias("a"), F.col(id_b).cast("bigint").alias("b")
    ).localCheckpoint(eager=False)
    # Size the label frames to the edge count: propagation rounds shuffle
    # only (id, label) pairs, so at dedup-typical densities (≪1 pair/doc)
    # a handful of partitions beats the session-wide shuffle width.
    n_edges = edges.count()
    parallelism = pairs.sparkSession.sparkContext.defaultParallelism
    parts = int(max(1, min(parallelism, n_edges // 200_000 + 1)))
    sym = (
        edges.unionByName(edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .repartition(parts, "b")
        .localCheckpoint(eager=False)
    )

    # Initial label: min(self, direct neighbors).
    comp = (
        sym.groupBy("a")
        .agg(F.min("b").alias("nbr_min"))
        .select(F.col("a").alias("id"), F.least("a", "nbr_min").alias("comp"))
        .localCheckpoint(eager=False)
    )

    for _ in range(max_iter):
        nbr = (
            sym.join(comp.withColumnRenamed("id", "b_id"), sym["b"] == F.col("b_id"))
            .groupBy("a")
            .agg(F.min("comp").alias("nbr_comp"))
        )
        # Labels are monotone non-increasing (least of self and neighbor
        # minima), so "changed" is decidable row-locally at build time —
        # the flag replaces the old re-join of new against comp, and its
        # count() is the ONE job that also materializes the lazy
        # checkpoint (was two jobs per round: eager checkpoint + join
        # count).  Same labels, same rounds, same convergence test.
        new = (
            comp.join(nbr.withColumnRenamed("a", "id"), "id", "left")
            .select(
                "id",
                F.least(F.col("comp"), F.coalesce("nbr_comp", F.col("comp"))).alias("new_comp"),
                F.col("comp"),
            )
            .select(
                "id", F.col("new_comp").alias("comp"),
                (F.col("new_comp") != F.col("comp")).alias("chg"),
            )
            .localCheckpoint(eager=False)
        )
        changed = new.filter(F.col("chg")).count()
        comp = new.select("id", "comp")
        if changed == 0:
            break
    else:
        raise RuntimeError(f"dup_components did not converge in {max_iter} rounds")

    return comp.select("id", F.col("comp").alias("component_id"))


# ------------------------------------------------------- incremental dedup


def incremental_dedup_report(batch: DataFrame, corpus: DataFrame, *,
                             id_col: str = "doc_id",
                             text_col: str = "text",
                             group_col: str = "source") -> DataFrame:
    """Corpus-delta exact dedup — the periodic-crawl operation: a NEW
    batch arrives and must be deduplicated (a) against the EXISTING
    corpus and (b) within itself, keeping the first occurrence by id.
    One row per batch group:

      (group, n_batch, n_dup_vs_corpus, n_dup_in_batch, n_new)

    A batch doc duplicating BOTH (same key in the corpus and earlier in
    the batch) counts as dup_vs_corpus — precedence matches what a loader
    does (the corpus copy is the canonical one), so the three counts
    partition the batch.

    Scale shape: the corpus side reduces to DISTINCT text keys before
    the join (a map-side-combined aggregation — the corpus is touched
    once and only 16-byte keys move); the batch joins it on the key
    (LEFT, null = unseen), and the within-batch keep-first is min(id)
    per key over the batch only.  At 100 TB the distinct-key table is
    the persisted dedup index a crawler maintains between runs; this
    operator is the query that updates it."""
    key = text_key(F.col(text_col))
    b = batch.select(F.col(id_col), F.col(group_col), key.alias("k"))
    seen = corpus.select(key.alias("k")).distinct()
    first_in_batch = b.groupBy("k").agg(F.min(id_col).alias("first_id"))
    j = (b.join(seen.withColumn("in_corpus", F.lit(True)), "k", "left")
         .join(first_in_batch, "k"))
    status = (
        F.when(F.col("in_corpus").isNotNull(), F.lit("dup_vs_corpus"))
        .when(F.col(id_col) != F.col("first_id"), F.lit("dup_in_batch"))
        .otherwise(F.lit("new"))
    )
    return (
        j.select(group_col, status.alias("status"))
        .groupBy(group_col)
        .agg(
            F.count("*").cast("bigint").alias("n_batch"),
            F.sum((F.col("status") == "dup_vs_corpus").cast("int"))
            .cast("bigint").alias("n_dup_vs_corpus"),
            F.sum((F.col("status") == "dup_in_batch").cast("int"))
            .cast("bigint").alias("n_dup_in_batch"),
            F.sum((F.col("status") == "new").cast("int")).cast("bigint")
            .alias("n_new"),
        )
    )
