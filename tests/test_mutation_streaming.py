"""Log-structured table DML semantics and the batch event-time windows."""

import pytest
from pyspark.sql import functions as F

from bigvectorbench_spark.operators import mutation as mut
from bigvectorbench_spark.operators import temporal as tp


@pytest.fixture()
def table(spark, tmp_path):
    df = spark.createDataFrame(
        [(i, [float(i), 0.0], i % 3) for i in range(10)],
        "id bigint, vec array<float>, label int",
    )
    t, elapsed = mut.VectorTable.bulk_load(spark, df, str(tmp_path / "base"))
    assert elapsed > 0
    return t


def test_insert_assigns_next_id(table):
    table.insert({"vec": [99.0, 0.0], "label": 7})
    snap = table.snapshot()
    assert snap.count() == 11
    row = snap.filter("id = 10").collect()[0]
    assert row["label"] == 7


def test_update_overwrites_row(table):
    table.update(3, {"vec": [100.0, 100.0], "label": 42})
    snap = table.snapshot()
    assert snap.count() == 10
    assert snap.filter("id = 3").collect()[0]["label"] == 42


def test_delete_removes_row(table):
    table.delete(5)
    snap = table.snapshot()
    assert snap.count() == 9
    assert snap.filter("id = 5").count() == 0


def test_mixed_ops_latest_wins(table):
    table.update(2, {"vec": [1.0, 1.0], "label": 11})
    table.delete(2)
    table.insert({"id": 2, "vec": [2.0, 2.0], "label": 22})
    got = table.snapshot().filter("id = 2").collect()
    assert len(got) == 1 and got[0]["label"] == 22


def test_checkpoint_compacts(table, tmp_path):
    table.update(1, {"vec": [5.0, 5.0], "label": 9})
    table.delete(0)
    table.checkpoint(str(tmp_path / "compact"))
    assert table._log == []
    snap = table.snapshot()
    assert snap.count() == 9
    assert snap.filter("id = 1").collect()[0]["label"] == 9


def test_windowed_event_counts_batch(spark):
    ev = spark.createDataFrame(
        [("2024-01-01 00:10:00", "click"), ("2024-01-01 00:50:00", "click"),
         ("2024-01-01 01:10:00", "view")],
        "ts_s string, event_type string",
    ).select(F.col("ts_s").cast("timestamp").alias("ts"), "event_type")
    out = {(str(r["window_start"]), r["event_type"]): r["n_events"]
           for r in tp.windowed_event_counts(ev).collect()}
    assert out[("2024-01-01 00:00:00", "click")] == 2
    assert out[("2024-01-01 01:00:00", "view")] == 1


def test_sessionize_batch(spark):
    ev = spark.createDataFrame(
        [("2024-01-01 00:00:00", 1), ("2024-01-01 00:10:00", 1),
         ("2024-01-01 02:00:00", 1), ("2024-01-01 00:05:00", 2)],
        "ts_s string, user_id bigint",
    ).select(F.col("ts_s").cast("timestamp").alias("ts"), "user_id")
    out = tp.sessionize(ev).orderBy("user_id", "session_start").collect()
    u1 = [r for r in out if r["user_id"] == 1]
    assert len(u1) == 2  # the 2h gap splits sessions
    assert u1[0]["n_events"] == 2
