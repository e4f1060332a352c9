"""Property-based tests (hypothesis) for the distance kernels and the
reference's dataset-invariant check (test/distance_test.py:46-55 analog):
stored ground-truth distances must equal recomputed ones."""

import math
import struct
import zlib

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from bigvectorbench_spark.functions import distance as dx
from bigvectorbench_spark import fixtures as fx
from bigvectorbench_spark.operators.groundtruth import build_groundtruth, verify_distances

from pyspark.sql import functions as F

finite_floats = st.floats(min_value=-100, max_value=100, allow_nan=False, width=32)
vec_pairs = st.integers(min_value=1, max_value=8).flatmap(
    lambda d: st.tuples(
        st.lists(finite_floats, min_size=d, max_size=d),
        st.lists(finite_floats, min_size=d, max_size=d),
    )
)

_SETTINGS = dict(max_examples=12, deadline=None)


def _pair_eval(spark, col, a, b):
    df = spark.createDataFrame([(a, b)], "a array<float>, b array<float>")
    return df.select(col(F.col("a"), F.col("b")).alias("v")).collect()[0]["v"]


@given(vec_pairs)
@settings(**_SETTINGS)
def test_euclid_symmetric_nonneg_identity(spark, pair):
    a, b = pair
    d_ab = _pair_eval(spark, dx.l2_dist, a, b)
    d_ba = _pair_eval(spark, dx.l2_dist, b, a)
    assert d_ab == pytest.approx(d_ba, abs=1e-9)
    assert d_ab >= 0
    assert _pair_eval(spark, dx.l2_dist, a, a) == 0.0
    # against numpy
    ref = math.sqrt(sum((float(np.float32(x)) - float(np.float32(y))) ** 2
                        for x, y in zip(a, b)))
    assert d_ab == pytest.approx(ref, rel=1e-9, abs=1e-9)


@given(vec_pairs)
@settings(**_SETTINGS)
def test_angular_range(spark, pair):
    a, b = pair
    if all(x == 0 for x in a) or all(x == 0 for x in b):
        return  # zero vectors: angular undefined (reference never emits them)
    d = _pair_eval(spark, dx.angular_dist, a, b)
    assert -1e-9 <= d <= 2 + 1e-9


@given(st.lists(st.booleans(), min_size=1, max_size=130),
       st.data())
@settings(**_SETTINGS)
def test_hamming_packed_equals_plain(spark, bits_a, data):
    bits_b = data.draw(st.lists(st.booleans(), min_size=len(bits_a), max_size=len(bits_a)))
    df = spark.createDataFrame([(bits_a, bits_b)], "a array<boolean>, b array<boolean>")
    row = df.select(
        dx.hamming_dist(F.col("a"), F.col("b")).alias("plain"),
        dx.hamming_packed_dist(
            dx.pack_bits(F.col("a")), dx.pack_bits(F.col("b")), len(bits_a)
        ).alias("packed"),
    ).collect()[0]
    assert row["plain"] == pytest.approx(row["packed"], abs=1e-12)


@given(st.lists(st.integers(0, 30), max_size=12), st.lists(st.integers(0, 30), max_size=12))
@settings(**_SETTINGS)
def test_jaccard_bounds_and_symmetry(spark, a, b):
    df = spark.createDataFrame([(a, b)], "a array<int>, b array<int>")
    row = df.select(
        dx.jaccard_dist(F.col("a"), F.col("b")).alias("ab"),
        dx.jaccard_dist(F.col("b"), F.col("a")).alias("ba"),
    ).collect()[0]
    assert 0 <= row["ab"] <= 1 and row["ab"] == pytest.approx(row["ba"])
    if not a and not b:
        assert row["ab"] == 1.0  # empty-set convention (distance.py:12-16)


def test_fixture_groundtruth_self_consistency(spark):
    """The reference's golden-output invariant: for a fixture dataset,
    recomputing dist(test_i, train_j) for every stored (neighbor, distance)
    pair matches to 1e-4 (test/distance_test.py:46-55)."""
    train, test = fx.random_float(spark, n=800, d=16)
    gt = build_groundtruth(train, test.limit(40), k=20, method="gemm")
    mismatches = verify_distances(gt, train, test.limit(40), tol=1e-4)
    assert mismatches.count() == 0


# ----------------------------------------------------- media codec roundtrips
# Pure-Python property checks (no Spark session): any payload the encoders
# can produce, the decoders must recover exactly — arbitrary dims including
# the odd-width/stride/padding corners.

from bigvectorbench_spark.operators import multimodal as mm


@given(st.integers(1, 40), st.integers(1, 40), st.integers(0, 2**32 - 1))
@settings(**_SETTINGS)
def test_png_roundtrip_property(h, w, seed):
    gray = np.random.RandomState(seed).randint(0, 256, (h, w)).astype(np.uint8)
    data = mm.png_encode(gray)
    # one IDAT right after the 25-byte IHDR chunk; each row is a filter-0
    # byte followed by the row's samples
    (n,) = struct.unpack(">I", data[33:37])
    assert data[37:41] == b"IDAT"
    raw = np.frombuffer(zlib.decompress(data[41:41 + n]), np.uint8)
    np.testing.assert_array_equal(raw.reshape(h, w + 1)[:, 1:], gray)


@given(st.integers(1, 5000), st.sampled_from([8000, 16000, 44100]),
       st.integers(0, 2**32 - 1))
@settings(**_SETTINGS)
def test_wav_roundtrip_property(n, sr, seed):
    s = np.random.RandomState(seed).randint(-32768, 32768, n).astype(np.int16)
    out, sr2 = mm.wav_decode(mm.wav_encode(s, sr))
    assert sr2 == sr
    np.testing.assert_array_equal((out * 32768.0).astype(np.int16), s)


@given(st.integers(1, 6), st.integers(1, 20), st.integers(1, 20),
       st.integers(0, 2**32 - 1))
@settings(**_SETTINGS)
def test_avi_roundtrip_property(n, h, w, seed):
    fr = np.random.RandomState(seed).randint(0, 256, (n, h, w)).astype(np.uint8)
    bgr, fps = mm.avi_decode(mm.avi_encode(fr, fps=10))
    assert fps == 10.0 and bgr.shape == (n, h, w, 3)
    for c in range(3):
        np.testing.assert_array_equal(bgr[..., c], fr)


@given(st.integers(min_value=1, max_value=64),
       st.integers(min_value=0, max_value=2**31 - 1))
@settings(max_examples=8, deadline=None)
def test_shard_assign_partition_property(spark, n_shards, seed):
    """For ANY shard count and seed: every doc gets exactly one shard in
    [0, n_shards), and the assignment is a function of (seed, id) only —
    independent of row order and partitioning."""
    from bigvectorbench_spark.operators.packing import shard_assign

    ids = list(range(40))
    fwd = spark.createDataFrame([(i, "t") for i in ids],
                                "doc_id long, text string")
    rev = spark.createDataFrame([(i, "t") for i in reversed(ids)],
                                "doc_id long, text string").repartition(7)
    a = {r["doc_id"]: r["shard"]
         for r in shard_assign(fwd, n_shards=n_shards, seed=seed).collect()}
    b = {r["doc_id"]: r["shard"]
         for r in shard_assign(rev, n_shards=n_shards, seed=seed).collect()}
    assert a == b
    assert set(a) == set(ids)
    assert all(0 <= s < n_shards for s in a.values())


@given(st.integers(min_value=0, max_value=3_500_000),
       st.integers(min_value=0, max_value=2**31 - 1))
@settings(max_examples=8, deadline=None)
def test_epoch_oversample_copy_count_property(spark, ppm, _seed):
    """For ANY epochs factor (including < 1 epoch): every document emits
    exactly floor(e) or ceil(e) copies, the emitted total equals the
    per-doc integer arithmetic, and copy_ids are dense from 0."""
    from pyspark.sql import functions as F
    from bigvectorbench_spark.operators.curation import epoch_oversample

    df = spark.createDataFrame([(i, "s") for i in range(30)],
                               "doc_id long, source string")
    got = {}
    for r in epoch_oversample(df, epochs_ppm=F.lit(ppm)).collect():
        got.setdefault(r["doc_id"], []).append(r["copy_id"])
    full, frac = ppm // 1_000_000, ppm % 1_000_000
    for i in range(30):
        h = ((i * 2654435761) % 4294967296) % 1_000_000
        want = full + (1 if h < frac else 0)
        assert sorted(got.get(i, [])) == list(range(want))


# ------------------------------------------------ the shared Arrow kernel
# ``knn.arrow_map`` runs every Arrow batch kernel of the package and
# ``knn.list_parts`` reads their list columns: any row count, partitioning
# and batch size must give each surviving row exactly its own output.

import pyarrow as pa
from hypothesis import example

from bigvectorbench_spark.operators.knn import arrow_map, list_parts
from tests.conftest import arrow_batch_rows


@given(st.integers(0, 40), st.integers(1, 4), st.integers(0, 40), st.integers(1, 7))
@example(n=0, parts=2, cut=0, batch=3)     # a zero-row frame
@example(n=12, parts=1, cut=12, batch=5)   # one partition
@example(n=30, parts=4, cut=6, batch=4)    # slices 2-4 empty after the filter
@settings(max_examples=6, deadline=None)
def test_arrow_map_rows_keep_and_list_output(spark, n, parts, cut, batch):
    def rows_x2(batch, scale):
        # an (n × 2) float32 block, declared as a double list column
        x = batch.column("x").to_numpy()
        return [np.stack([x * scale, x + 1.0], axis=1).astype(np.float32)]

    # consecutive slices of the ids, so the filter empties the last ones
    rdd = spark.sparkContext.parallelize([(i, float(i), f"t{i}") for i in range(n)], parts)
    df = spark.createDataFrame(rdd, "id bigint, x double, tag string").filter(F.col("id") < cut)
    with arrow_batch_rows(spark, batch):
        out = arrow_map(df, rows_x2, [("v", pa.list_(pa.float64()))],
                        state=0.5, keep=["tag", "id"])
        rows = out.collect()
    assert out.columns == ["tag", "id", "v"]
    assert out.schema["v"].dataType.simpleString() == "array<double>"
    assert out.schema["tag"] == df.schema["tag"]
    want = {i: (f"t{i}", [i * 0.5, i + 1.0]) for i in range(min(n, cut))}
    assert {r["id"]: (r["tag"], r["v"]) for r in rows} == want
    assert len(rows) == len(want)


def test_arrow_map_new_rows_without_keep(spark):
    """Without ``keep`` a kernel may emit any number of rows per batch,
    zero included; its columns take their declared Arrow types."""
    df = spark.range(0, 9, 1, 3)

    def evens(batch, _):
        ids = batch.column("id").to_numpy()
        ids = ids[ids % 2 == 0]
        return [np.repeat(ids, 2).astype(np.int32), np.tile([True, False], len(ids))]

    out = arrow_map(df, evens, [("id", pa.int64()), ("first", pa.bool_())])
    assert [f.dataType.simpleString() for f in out.schema] == ["bigint", "boolean"]
    assert sorted(map(tuple, out.collect())) == sorted(
        (i, f) for i in range(0, 9, 2) for f in (True, False))


@given(st.lists(st.one_of(st.none(), st.lists(st.integers(-2**63, 2**63 - 1), max_size=4)),
                max_size=10), st.integers(0, 10))
@example(rows=[], start=0)
@example(rows=[[], [], []], start=0)
@example(rows=[None, [5], None, []], start=1)
@settings(**_SETTINGS)
def test_list_parts_matches_python(rows, start):
    col = pa.array(rows, pa.list_(pa.int64())).slice(min(start, len(rows)))
    flat, offsets = list_parts(col)
    want = [r or [] for r in rows[start:]]
    assert flat.dtype == np.int64 and offsets[0] == 0 and len(offsets) == len(want) + 1
    assert [flat[a:b].tolist() for a, b in zip(offsets[:-1], offsets[1:])] == want


def test_list_parts_skips_values_behind_null_lists():
    """A null list whose offsets span values reads as empty."""
    col = pa.ListArray.from_arrays(pa.array([0, 2, 4, 5], pa.int32()),
                                   pa.array([1, 2, 3, 4, 5], pa.int64()),
                                   mask=pa.array([False, True, False]))
    flat, offsets = list_parts(col, np.float64)
    assert flat.tolist() == [1.0, 2.0, 5.0] and offsets.tolist() == [0, 2, 2, 3]


# ------------------------------------------------ per-batch top-k selection
# ``knn.partial_topk`` prunes with a block-minimum bound before it ranks;
# it must return exactly what a plain (D, id) lexsort of each column's
# finite entries returns, ties at the k-th value and masked columns included.

from bigvectorbench_spark.operators.knn import partial_topk, topk_scan


def _topk_truth(D, ids, k):
    rows = [np.flatnonzero(np.isfinite(D[:, c])) for c in range(D.shape[1])]
    rows = [r[np.lexsort((ids[r], D[r, c]))][:k] for c, r in enumerate(rows)]
    return np.concatenate(rows), np.concatenate([np.full(len(r), c) for c, r in enumerate(rows)])


def _selection_input(kind, n, m, rng):
    if kind == "int":  # BQ hamming distances
        return rng.integers(0, 65, (n, m))
    if kind == "ties":  # a third of each column ties at every value
        return rng.integers(0, 3, (n, m)).astype(np.float64)
    D = rng.random((n, m))
    if kind == "masked":  # IVF: per column none, most or all rows at +inf
        D[rng.random((n, m)) < rng.choice([0.0, 0.8, 1.0], m)] = np.inf
    elif kind == "nan":
        D[rng.random((n, m)) < 0.7] = np.nan
    return D


@given(st.sampled_from(["float", "int", "ties", "masked", "nan"]), st.integers(1, 200),
       st.integers(1, 4), st.integers(1, 12), st.integers(0, 2**32 - 1))
@example(kind="float", n=3, m=2, k=5, seed=0)     # n < k
@example(kind="ties", n=5, m=3, k=5, seed=0)      # n = k
@example(kind="masked", n=6, m=4, k=5, seed=1)    # n = k + 1
@example(kind="ties", n=101, m=3, k=3, seed=2)    # B = 4: a one-row tail block
@example(kind="masked", n=50, m=3, k=10, seed=3)  # columns with < k finite rows
@example(kind="int", n=200, m=2, k=12, seed=4)
@settings(max_examples=60, deadline=None)
def test_partial_topk_matches_lexsort(kind, n, m, k, seed):
    rng = np.random.default_rng(seed)
    D = _selection_input(kind, n, m, rng)
    ids = rng.permutation(n).astype(np.int64) * 3 - 7
    rows, cols = partial_topk(D, ids, k)
    want_rows, want_cols = _topk_truth(D, ids, k)
    assert np.array_equal(cols, want_cols) and np.array_equal(rows, want_rows)


def test_topk_scan_ties_across_batches_and_drops_nan(spark):
    """Duplicate values tie at the k-th distance across 3-row Arrow
    batches: the kernel keeps the smallest ids, as the final window does.
    A query whose every distance is NaN gets no row."""
    rng = np.random.default_rng(7)
    n, k = 40, 5
    x = rng.integers(0, 3, n).astype(np.float64)
    ids = rng.permutation(n) * 7
    qs = np.array([0.0, 1.0, 2.5, np.nan])
    df = spark.createDataFrame(
        spark.sparkContext.parallelize(list(zip(ids.tolist(), x.tolist())), 2),
        "id bigint, x double")
    res = topk_scan(df, {"qid": np.arange(len(qs))}, k,
                    lambda batch, q: np.abs(batch.column("x").to_numpy()[:, None] - q),
                    state=qs)
    with arrow_batch_rows(spark, 3):
        got = sorted(map(tuple, res.collect()))
    want = []
    for j, q in enumerate(qs[:3]):
        d = np.abs(x - q)
        want += [(j, int(ids[i]), float(d[i]), r + 1)
                 for r, i in enumerate(np.lexsort((ids, d))[:k])]
    assert got == sorted(want)
