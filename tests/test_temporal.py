"""As-of join vs the pandas merge_asof oracle."""

import datetime as dt

import pandas as pd
import pytest

from bigvectorbench_spark.operators.temporal import asof_join


def _ts(m, s=0):
    return dt.datetime(2024, 1, 1, 0, m, s)


@pytest.fixture(scope="module")
def frames(spark):
    left_rows = [
        (1, "u1", _ts(10)), (2, "u1", _ts(20)), (3, "u1", _ts(30)),
        (4, "u2", _ts(5)), (5, "u2", _ts(25)),
        (6, "u3", _ts(15)),                       # u3 has no right rows
    ]
    right_rows = [
        (101, "u1", _ts(8), 1.5), (102, "u1", _ts(20), 2.5), (103, "u1", _ts(28), 3.5),
        (104, "u2", _ts(24), 4.5), (105, "u2", _ts(26), 5.5),
    ]
    left = spark.createDataFrame(left_rows, "event_id bigint, user_id string, ts timestamp")
    right = spark.createDataFrame(right_rows, "rid bigint, user_id string, ts timestamp, value double")
    lp = pd.DataFrame(left_rows, columns=["event_id", "user_id", "ts"])
    rp = pd.DataFrame(right_rows, columns=["rid", "user_id", "ts", "value"])
    return left, right, lp, rp


def _pd_asof(lp, rp, **kw):
    out = pd.merge_asof(
        lp.sort_values("ts"), rp.sort_values("ts"), on="ts", by="user_id", **kw
    )
    return {
        int(r.event_id): (None if pd.isna(r.rid) else int(r.rid))
        for r in out.itertuples()
    }


def _spark_asof(left, right, **kw):
    out = asof_join(left, right, on="user_id", right_cols=["rid", "value"], **kw)
    return {r["event_id"]: r["asof_rid"] for r in out.collect()}


def test_backward_matches_pandas(frames):
    left, right, lp, rp = frames
    assert _spark_asof(left, right) == _pd_asof(lp, rp, direction="backward")


def test_backward_strict(frames):
    left, right, lp, rp = frames
    got = _spark_asof(left, right, allow_exact_matches=False)
    assert got == _pd_asof(lp, rp, direction="backward", allow_exact_matches=False)
    # event 2 at ts=20 must now skip rid 102 (same ts) and take rid 101
    assert got[2] == 101


def test_forward_matches_pandas(frames):
    left, right, lp, rp = frames
    assert _spark_asof(left, right, direction="forward") == _pd_asof(
        lp, rp, direction="forward")


def test_forward_strict(frames):
    left, right, lp, rp = frames
    assert _spark_asof(left, right, direction="forward", allow_exact_matches=False) == \
        _pd_asof(lp, rp, direction="forward", allow_exact_matches=False)


def test_tolerance(frames):
    left, right, lp, rp = frames
    got = _spark_asof(left, right, tolerance="3 minutes")
    assert got == _pd_asof(lp, rp, direction="backward",
                           tolerance=pd.Timedelta("3 minutes"))
    # event 1 (ts=10) is 2 min after rid 101 (ts=8) → kept;
    # event 5 (ts=25) is 1 min after rid 104 (ts=24) → kept;
    # event 4 (ts=5) has no prior → None
    assert got[1] == 101 and got[5] == 104 and got[4] is None


def test_unmatched_left_rows_survive(frames):
    left, right, _, _ = frames
    out = asof_join(left, right, on="user_id", right_cols=["rid"])
    rows = {r["event_id"]: r for r in out.collect()}
    assert len(rows) == 6
    assert rows[6]["asof_rid"] is None and rows[6]["asof_ts"] is None


def test_left_columns_and_payload_columns(frames):
    left, right, _, _ = frames
    out = asof_join(left, right, on="user_id", right_cols=["rid", "value"], prefix="m_")
    assert out.columns == ["event_id", "user_id", "ts", "m_ts", "m_rid", "m_value"]
    row = {r["event_id"]: r for r in out.collect()}[3]
    assert row["m_rid"] == 103 and row["m_value"] == 3.5 and row["m_ts"] == _ts(28)


def test_tie_on_right_ts_takes_greatest_payload(spark):
    left = spark.createDataFrame([(1, "u", _ts(10))], "event_id bigint, user_id string, ts timestamp")
    right = spark.createDataFrame(
        [(7, "u", _ts(9), 1.0), (9, "u", _ts(9), 2.0), (8, "u", _ts(9), 3.0)],
        "rid bigint, user_id string, ts timestamp, value double")
    out = asof_join(left, right, on="user_id", right_cols=["rid"]).collect()
    assert out[0]["asof_rid"] == 9


# ------------------------------------------------- salted (skew-safe) sweep


@pytest.mark.parametrize("direction", ["backward", "forward"])
@pytest.mark.parametrize("exact", [True, False])
def test_salted_equals_plain(frames, direction, exact):
    """The time-bucket salt is a pure physical rewrite: same result as the
    single-window sweep for every direction × exactness combination, with a
    bucket width small enough that matches routinely cross buckets."""
    left, right, lp, rp = frames
    want = _spark_asof(left, right, direction=direction, allow_exact_matches=exact)
    got = _spark_asof(left, right, direction=direction, allow_exact_matches=exact,
                      salt_interval="4 minutes")
    assert got == want


def test_salted_hot_key_split_equals_plain(frames):
    """salt_threshold salts only hot keys (u1 has 3 left + 3 right rows =
    6 ≥ threshold; u2/u3 stay on the plain sweep) and the re-merged result
    is unchanged."""
    left, right, lp, rp = frames
    want = _spark_asof(left, right)
    got = _spark_asof(left, right, salt_interval="7 minutes", salt_threshold=6)
    assert got == want


def test_salted_tolerance_and_tie_rules(spark):
    """Carry across buckets preserves the tie rule (greatest payload at the
    winning ts) and tolerance still nulls far matches after the re-merge."""
    left = spark.createDataFrame(
        [(1, "u", _ts(30)), (2, "u", _ts(50))],
        "event_id bigint, user_id string, ts timestamp")
    right = spark.createDataFrame(
        [(7, "u", _ts(9), 1.0), (9, "u", _ts(9), 2.0), (8, "u", _ts(9), 3.0)],
        "rid bigint, user_id string, ts timestamp, value double")
    out = asof_join(left, right, on="user_id", right_cols=["rid"],
                    salt_interval="10 minutes")
    got = {r["event_id"]: r["asof_rid"] for r in out.collect()}
    assert got == {1: 9, 2: 9}  # carry from bucket 0 across empty buckets
    out_tol = asof_join(left, right, on="user_id", right_cols=["rid"],
                        salt_interval="10 minutes", tolerance="25 minutes")
    got_tol = {r["event_id"]: r["asof_rid"] for r in out_tol.collect()}
    assert got_tol == {1: 9, 2: None}  # 41 min > tolerance, nulled


def test_salted_skewed_key_parity(spark):
    """Skew stress shape at test scale: one hot user holds 92% of all rows
    (the '1 user with 10⁶ events' pattern).  Salted and plain sweeps must agree exactly on a
    dense randomized stream where matches cross many buckets."""
    import random

    random.seed(13)
    n_hot, n_cold = 600, 50
    left_rows = [(i, "hot" if i < n_hot else f"u{i % 7}",
                  _ts(random.randrange(0, 59), random.randrange(60)))
                 for i in range(n_hot + n_cold)]
    right_rows = [(1000 + i, "hot" if i < 2 * n_hot else f"u{i % 7}",
                   _ts(random.randrange(0, 59), random.randrange(60)), float(i))
                  for i in range(2 * n_hot + n_cold)]
    left = spark.createDataFrame(left_rows, "event_id bigint, user_id string, ts timestamp")
    right = spark.createDataFrame(right_rows, "rid bigint, user_id string, ts timestamp, value double")
    want = _spark_asof(left, right)
    got = _spark_asof(left, right, salt_interval="5 minutes", salt_threshold=100)
    assert got == want


# ------------------------------------------------------------ interval join


def _naive_interval(spark, left, right, before_s, after_s, how="inner"):
    """Theta-join oracle."""
    import pyspark.sql.functions as F
    r = right.select(F.col("user_id"), F.col("ts").alias("m_ts"),
                     F.col("rid"), F.col("value"))
    cond = ((left.user_id == r.user_id)
            & (r.m_ts >= left.ts - F.expr(f"INTERVAL {before_s} SECONDS"))
            & (r.m_ts <= left.ts + F.expr(f"INTERVAL {after_s} SECONDS")))
    j = left.join(r, cond, how).select(
        left.event_id, F.col("rid").alias("match_rid"))
    return {(r["event_id"], r["match_rid"]) for r in j.collect()}


def test_interval_join_matches_theta_join(spark):
    from bigvectorbench_spark.operators.temporal import interval_join
    import random

    random.seed(7)
    left_rows = [(i, f"u{random.randrange(5)}", _ts(random.randrange(0, 59), random.randrange(60)))
                 for i in range(60)]
    right_rows = [(100 + i, f"u{random.randrange(5)}", _ts(random.randrange(0, 59), random.randrange(60)), float(i))
                  for i in range(120)]
    left = spark.createDataFrame(left_rows, "event_id bigint, user_id string, ts timestamp")
    right = spark.createDataFrame(right_rows, "rid bigint, user_id string, ts timestamp, value double")

    for before, after in [("300 seconds", "300 seconds"), ("120 seconds", "0 seconds"),
                          ("0 seconds", "90 seconds")]:
        got = interval_join(left, right, on="user_id", before=before, after=after,
                            right_cols=["rid", "value"])
        got_pairs = {(r["event_id"], r["match_rid"]) for r in got.collect()}
        want = _naive_interval(spark, left, right,
                               int(before.split()[0]), int(after.split()[0]))
        assert got_pairs == want, (before, after)
        # each qualifying pair exactly once
        assert len(got.collect()) == len(got_pairs)


def test_interval_join_left_outer(spark):
    from bigvectorbench_spark.operators.temporal import interval_join

    left = spark.createDataFrame(
        [(1, "u1", _ts(10)), (2, "u1", _ts(40)), (3, "u2", _ts(10))],
        "event_id bigint, user_id string, ts timestamp")
    right = spark.createDataFrame(
        [(9, "u1", _ts(11), 1.0), (8, "u1", _ts(12), 2.0)],
        "rid bigint, user_id string, ts timestamp, value double")
    out = interval_join(left, right, on="user_id", before="5 minutes",
                        after="5 minutes", right_cols=["rid"], how="left")
    rows = sorted([(r["event_id"], r["match_rid"]) for r in out.collect()])
    # event 1 matches both clicks; events 2 (out of range) and 3 (no user
    # match) appear exactly once with NULL
    assert rows == [(1, 8), (1, 9), (2, None), (3, None)]


def test_interval_join_bounds_inclusive(spark):
    from bigvectorbench_spark.operators.temporal import interval_join

    left = spark.createDataFrame([(1, "u", _ts(30))], "event_id bigint, user_id string, ts timestamp")
    right = spark.createDataFrame(
        [(7, "u", _ts(20), 0.0), (8, "u", _ts(40), 0.0), (9, "u", _ts(19, 59), 0.0)],
        "rid bigint, user_id string, ts timestamp, value double")
    out = interval_join(left, right, on="user_id", before="10 minutes",
                        after="10 minutes", right_cols=["rid"])
    assert sorted(r["match_rid"] for r in out.collect()) == [7, 8]
