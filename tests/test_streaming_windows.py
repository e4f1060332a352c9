"""Event-time streaming semantics: append-mode window emission, watermark
advancement across micro-batches, late-data drop, checkpoint-persisted
watermark across query restarts.

Determinism: a file source with maxFilesPerTrigger=1 + availableNow turns
each file into exactly one micro-batch, in mtime order (forced via os.utime),
so watermark progression is fully scripted — no sleeps, no timing races.
"""

import json
import os

import pytest

from bigvectorbench_spark.operators.temporal import sessionize, windowed_event_counts


def _write_file(path, rows, mtime):
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    os.utime(path, (mtime, mtime))


def _drain(out_df, checkpoint):
    """Run the streaming query to completion (availableNow) and return the
    rows it emitted, via a foreachBatch collector — unlike the memory sink,
    foreachBatch supports restart from a checkpoint."""
    emitted = []

    def _collect(batch_df, _bid):
        emitted.extend(r.asDict() for r in batch_df.collect())

    q = (
        out_df.writeStream.foreachBatch(_collect)
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return emitted


@pytest.fixture()
def src(tmp_path):
    d = tmp_path / "events"
    d.mkdir()
    return d


def test_windowed_counts_emit_on_watermark_and_drop_late(spark, src, tmp_path):
    ck = str(tmp_path / "ck")
    # batch 1: two events in the 10:00 window, one in 11:00
    _write_file(src / "f1.json", [
        {"ts": "2026-01-01 10:00:00", "event_type": "a"},
        {"ts": "2026-01-01 10:30:00", "event_type": "a"},
        {"ts": "2026-01-01 11:15:00", "event_type": "a"},
    ], mtime=1_000)
    # batch 2: event at 13:00 -> watermark becomes 12:00, closing 10:00+11:00
    _write_file(src / "f2.json", [
        {"ts": "2026-01-01 13:00:00", "event_type": "a"},
    ], mtime=2_000)

    def stream():
        return (
            spark.readStream.schema("ts timestamp, event_type string")
            .option("maxFilesPerTrigger", "1")
            .json(str(src))
        )

    rows = _drain(windowed_event_counts(stream(), watermark="1 hour"), ck)
    got = {(str(r["window_start"]), r["n_events"]) for r in rows}
    # closed windows emitted once; the 13:00 window is still open
    assert got == {("2026-01-01 10:00:00", 2), ("2026-01-01 11:00:00", 1)}

    # batch 3 (restart, same checkpoint — watermark 12:00 survives): one LATE
    # row for the already-closed 10:00 window (dropped) and one at 16:30
    # advancing the watermark to 15:30 ≥ the 13:00 window's END (14:00),
    # which closes it WITHOUT the late row resurrecting 10:00.
    _write_file(src / "f3.json", [
        {"ts": "2026-01-01 10:45:00", "event_type": "a"},
        {"ts": "2026-01-01 16:30:00", "event_type": "a"},
    ], mtime=3_000)
    rows2 = _drain(windowed_event_counts(stream(), watermark="1 hour"), ck)
    got2 = {(str(r["window_start"]), r["n_events"]) for r in rows2}
    assert got2 == {("2026-01-01 13:00:00", 1)}


def test_sessionize_streaming_closes_after_gap(spark, src, tmp_path):
    ck = str(tmp_path / "ck2")
    _write_file(src / "f1.json", [
        {"ts": "2026-01-01 10:00:00", "user_id": 7},
        {"ts": "2026-01-01 10:10:00", "user_id": 7},
    ], mtime=1_000)
    # watermark (gap=30m) moves to 11:30 -> session [10:00, 10:40) closes
    _write_file(src / "f2.json", [
        {"ts": "2026-01-01 12:00:00", "user_id": 8},
    ], mtime=2_000)

    def stream():
        return (
            spark.readStream.schema("ts timestamp, user_id bigint")
            .option("maxFilesPerTrigger", "1")
            .json(str(src))
        )

    rows = _drain(sessionize(stream()), ck)
    assert len(rows) == 1
    r = rows[0]
    assert r["user_id"] == 7 and r["n_events"] == 2
    assert str(r["session_start"]) == "2026-01-01 10:00:00"
    assert str(r["session_end"]) == "2026-01-01 10:40:00"
