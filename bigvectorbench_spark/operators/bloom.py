"""Bloom-filter membership for contamination checks at eval-inventory
sizes where neither the broadcast semi-join table (8+ bytes/hash plus join
hashmap) nor the sorted-array kernel (8 bytes/hash) fits comfortably.

A Bloom filter at 1% false-positive rate costs ~1.2 bytes per item
(m = -n·ln p/ln²2 bits, k = m/n·ln 2 hashes) — a 1B-window eval inventory
becomes a ~1.4 GB broadcast instead of a >8 GB one, and the probe side
stays a map-only scan.  The price is one-sided error: **no false
negatives ever** (every true overlap is flagged — the property the
declared gate asserts), a bounded rate of false positives (extra rows
flagged; harmless for decontamination, which over-removes by design).

Engineering shape:

- **Positions are computed JVM-side** (xxhash64 double hashing inside
  whole-stage codegen) on BOTH build and probe, so Python never needs to
  reproduce the hash function.
- **Build** is a per-partition Arrow kernel: each partition folds its
  position stream into a local m-bit bitmap; the driver ORs the ≤
  #partitions bitmaps (bounded: partitions × m/8 bytes, independent of n).
- **Probe** broadcasts the bitmap once and tests bits in a vectorized
  Arrow kernel over position arrays — no shuffle, no join, one boolean
  per row out.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bigvectorbench_spark.operators.knn import arrow_map, list_parts


def _next_prime(n: int) -> int:
    """Smallest prime ≥ n (trial division — n here is ≤ a few billion, so
    the sqrt scan is microseconds-to-milliseconds once)."""
    n = max(2, n)
    if n % 2 == 0:
        n += 1
    while True:
        is_p = n % 3 != 0 or n == 3
        f = 5
        while is_p and f * f <= n:
            if n % f == 0 or n % (f + 2) == 0:
                is_p = False
            f += 6
        if is_p:
            return n
        n += 2


def bloom_params(n_items: int, fp_rate: float = 0.01) -> tuple[int, int]:
    """(m_bits, k) for ``n_items`` at ``fp_rate``.  m rounds UP to the
    next PRIME: double hashing cycles through gcd(h2, m) positions, so a
    composite m with an unlucky h2 collapses k probes onto a handful of
    bits (measured: an m=88 filter false-positived at ~3e-3 instead of
    1e-6); a prime m makes every nonzero h2 full-period at ~zero memory
    overhead (the earlier power-of-two fix cost up to 2× in bitmap
    size — measured 33.5 MB vs the 18.3 MB optimum at 5.1M items).
    k is the SMALLEST count that still meets fp_rate at this m (probe
    cost is linear in k; the textbook k merely minimizes fp at fixed m),
    capped at 16.  m carries a 5% margin over the real-valued optimum —
    at the exact optimum the target is met only at the fractional
    textbook k, so no INTEGER k clears it."""
    if not 0 < fp_rate < 1:
        raise ValueError(f"fp_rate must be in (0,1), got {fp_rate}")
    n = max(1, n_items)
    m_bits = _next_prime(max(64, math.ceil(
        -1.05 * n * math.log(fp_rate) / (math.log(2) ** 2))))
    for k in range(1, 17):
        if (1.0 - math.exp(-k * n / m_bits)) ** k <= fp_rate:
            return m_bits, k
    return m_bits, 16


def bloom_positions(col: Column, m_bits: int, k: int) -> Column:
    """The k bit positions of a value: double hashing
    pos_i = (h1 + i·h2) mod m with h1 = xxhash64(v), h2 = xxhash64(v, 1) —
    all in codegen; Kirsch-Mitzenmacher shows double hashing preserves the
    Bloom fp bound.  h2 maps into [1, m−1]: with the PRIME m from
    bloom_params, gcd(h2, m) = 1 then guarantees the k probes hit k
    distinct positions (a shared factor collapses the period — see
    bloom_params).  Arithmetic stays in pre-reduced residues so
    ANSI-mode int64 overflow is impossible (i·h2 ≤ 16·m ≪ 2⁶³)."""
    h1 = F.pmod(F.xxhash64(col), F.lit(m_bits))
    h2 = F.pmod(F.xxhash64(col, F.lit(1)), F.lit(m_bits - 1)) + F.lit(1)
    return F.array(*[F.pmod(h1 + F.lit(i) * h2, F.lit(m_bits)) for i in range(k)])


# Per-row bitmap chunk emitted by the build fold.  Arrow 'binary' carries
# int32 offsets (~2 GB per VALUE); one row per 256 MB chunk keeps the
# billion-window regime (m ≈ 29G bits → ~3.6 GB bitmap at fp=1e-6)
# inside the format instead of overflowing a single binary cell.
_BUILD_CHUNK_BYTES = 1 << 28


def bloom_build(df: DataFrame, col: str, *, m_bits: int, k: int) -> bytes:
    """Fold ``df[col]`` (any hashable type) into an m-bit Bloom bitmap.

    Two distributed stages, then ONE bitmap to the driver: positions
    explode JVM-side; each partition's Arrow kernel ORs them into a local
    bitmap emitted as 256 MB ``(chunk, bm)`` rows (no single Arrow binary
    value nears the int32 offset cap); the per-partition chunk copies
    then shuffle BY CHUNK and OR executor-side in a streaming kernel, so
    the driver collects exactly one copy of each chunk — m/8 bytes total,
    independent of partition count.  (The earlier single-stage fold
    collected partitions × m/8 bytes: at a measured ~29M-hash inventory
    that is 32 × ~52 MB ≈ 1.7 GB and trips the default 1 GiB
    spark.driver.maxResultSize.)"""
    import pyarrow as pa

    n_bytes = (m_bits + 7) // 8
    n_chunks = (n_bytes + _BUILD_CHUNK_BYTES - 1) // _BUILD_CHUNK_BYTES
    pos = df.select(
        F.explode(bloom_positions(F.col(col), m_bits, k)).alias("pos"))

    def fold(batches):
        bm = np.zeros(n_bytes, dtype=np.uint8)
        for batch in batches:
            p = batch.column(0).to_numpy(zero_copy_only=False)
            # bitwise_or.at handles duplicate byte indices in one pass
            np.bitwise_or.at(bm, p >> 3, (1 << (p & 7)).astype(np.uint8))
        chunks = range(0, n_bytes, _BUILD_CHUNK_BYTES)
        yield pa.RecordBatch.from_arrays(
            [pa.array([c // _BUILD_CHUNK_BYTES for c in chunks],
                      type=pa.int32()),
             pa.array([bm[c:c + _BUILD_CHUNK_BYTES].tobytes()
                       for c in chunks])],
            ["chunk", "bm"])

    def merge(batches):
        # Streaming OR per chunk: rows arrive co-partitioned by chunk id;
        # accumulators hold one copy per chunk ASSIGNED HERE (bounded by
        # chunks/partitions, not by upstream partition count).
        accs: dict[int, np.ndarray] = {}
        for batch in batches:
            cs = batch.column(0).to_pylist()
            bms = batch.column(1)
            for i, c in enumerate(cs):
                a = np.frombuffer(bms[i].as_py(), dtype=np.uint8)
                if c in accs:
                    accs[c] |= a
                else:
                    accs[c] = a.copy()
        if accs:
            yield pa.RecordBatch.from_arrays(
                [pa.array(list(accs), type=pa.int32()),
                 pa.array([a.tobytes() for a in accs.values()])],
                ["chunk", "bm"])

    parts = pos.mapInArrow(fold, schema="chunk int, bm binary")
    merged = (parts.repartition(min(n_chunks, 32), "chunk")
              .mapInArrow(merge, schema="chunk int, bm binary")
              .collect())
    out = np.zeros(n_bytes, dtype=np.uint8)
    for r in merged:
        c = r["chunk"] * _BUILD_CHUNK_BYTES
        out[c:c + _BUILD_CHUNK_BYTES] |= np.frombuffer(r["bm"], dtype=np.uint8)
    return out.tobytes()


def bloom_probe_any(df: DataFrame, arr_col: str, bloom, *,
                    m_bits: int, k: int,
                    out_col: str = "any_member") -> DataFrame:
    """Append a boolean column: True iff ANY element of the array column
    probes positive — the per-document contamination shape, with NO explode
    and NO shuffle (positions flatten JVM-side; the kernel segments the
    flat hit stream back into rows).  An empty array probes False."""
    import pyarrow as pa

    def probe(batch, bitmap):
        # the kernel reads the raw Arrow buffers (the earlier to_pandas form
        # put the full 500k-doc bloom report at 60.3 s; this flat-buffer
        # path halves it to 31.0 s): one hit per k-position window, then
        # ANY over each row's windows
        bm = np.frombuffer(bitmap, dtype=np.uint8)
        flat, offsets = list_parts(batch.column("__pos"))
        hit_w = ((bm[flat >> 3] >> (flat & 7)) & 1).reshape(-1, k).all(axis=1)
        wlens = np.diff(offsets) // k
        any_row = np.zeros(len(wlens), dtype=bool)
        nz = wlens > 0
        if nz.any():
            starts = np.cumsum(wlens) - wlens
            any_row[nz] = np.maximum.reduceat(
                hit_w.astype(np.int8), starts[nz]).astype(bool)
        return [any_row]

    with_pos = df.withColumn("__pos", F.flatten(F.transform(
        F.col(arr_col), lambda v: bloom_positions(v, m_bits, k))))
    return arrow_map(with_pos, probe, [(out_col, pa.bool_())], state=bloom,
                     keep=df.columns)
