"""Event-time queries (windows, sessions, as-of and interval joins) and
the insert/update/delete workloads."""

from __future__ import annotations

from pyspark.sql import functions as F, Window

from bigvectorbench_spark.operators.mutation import VectorTable
from bigvectorbench_spark.operators.temporal import (
    asof_join, interval_join, sessionize, windowed_event_counts)
from bigvectorbench_spark.sources.tables import load_table

from bigvectorbench_spark.queries._common import _train


def q_peak_events(spark, sf):
    """arg-max per group: the highest-value event per type (max_by with a
    deterministic (value, event_id) tie rule via struct ordering)."""
    ev = load_table(spark, sf, "events")
    return (
        ev.groupBy("event_type")
        .agg(F.max(F.struct(F.col("value"), F.col("event_id"))).alias("m"))
        .select(
            "event_type",
            F.col("m.event_id").alias("event_id"),
            F.round("m.value", 6).alias("peak_value"),
        )
    )


def q_events_hourly(spark, sf):
    """Streaming-shape tumbling window counts (batch mode of the streaming
    operator, so the oracle can check the same semantics)."""
    ev = load_table(spark, sf, "events")
    return windowed_event_counts(ev, window_duration="1 hour")


def q_sessionize(spark, sf):
    """Session windows (30 min gap) per user via Spark session_window."""
    ev = load_table(spark, sf, "events")
    return sessionize(ev, gap="30 minutes")


def q_asof_clicks(spark, sf):
    """As-of join: for each purchase event, the same user's latest prior
    click within 1 hour.  Union + one keyed window sweep — O(|L|+|R|) rows,
    never a range-join explosion.  Right side pre-deduplicated per
    (user, ts) so tie semantics are engine-independent."""
    ev = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id", "ts").orderBy(F.col("event_id").desc())
    clicks = (
        ev.filter("event_type = 'click'")
        .withColumn("rn", F.row_number().over(w)).filter("rn = 1")
        .select("user_id", "ts", "event_id", "value")
    )
    purchases = ev.filter("event_type = 'purchase'").select("event_id", "user_id", "ts")
    res = asof_join(purchases, clicks, on="user_id",
                    right_cols=["event_id", "value"],
                    tolerance="1 hour", prefix="click_")
    return res.select(
        "event_id", "user_id", "ts", "click_ts", "click_event_id",
        F.round("click_value", 6).alias("click_value"),
    )


def q_interval_clicks(spark, sf):
    """Interval join: every (purchase, click) pair of the same user within
    ±15 minutes — bucketized (key, time-bucket) equi-join + exact BETWEEN
    refinement, so the intermediate is O(candidates in ±1 bucket), never
    the per-user L×R product a theta join would build."""
    ev = load_table(spark, sf, "events")
    purchases = ev.filter("event_type = 'purchase'").select("event_id", "user_id", "ts")
    clicks = ev.filter("event_type = 'click'").select(
        "user_id", "ts", F.col("event_id").alias("click_id"))
    out = interval_join(purchases, clicks, on="user_id",
                        before="15 minutes", after="15 minutes",
                        right_cols=["click_id"], prefix="m_")
    return out.select("event_id", "user_id", "ts", "m_ts", "m_click_id")


def q_clicks_before_purchase(spark, sf):
    """Event-time RANGE-frame window: clicks by the same user in the 30
    minutes before each purchase.  The union of both event types shuffles
    once on user_id and a range frame over microsecond epochs does the
    counting — no join, no per-row probing."""
    ev = load_table(spark, sf, "events").filter(
        "event_type in ('click', 'purchase')"
    ).select(
        "event_id", "user_id", "ts", "event_type",
        F.when(F.col("event_type") == "click", 1).otherwise(0).alias("is_click"),
        F.unix_micros("ts").alias("us"),
    )
    w = Window.partitionBy("user_id").orderBy("us").rangeBetween(-1_800_000_000, 0)
    return (
        ev.withColumn("n_clicks", F.sum("is_click").over(w))
        .filter("event_type = 'purchase'")
        .select("event_id", "user_id", "ts", "n_clicks")
    )


def _q_iud(spark, sf, op: str):
    """M3/M4/M5 per-op latency of 200 sequential ops as a first-class
    timed workload (reference
    runner.py:245-335 runs the same sequential sweep as a benchmark case,
    results.py:121-158 records per-op latencies).  Sequential by the
    reference's own protocol: each op is one client call against the
    log-structured table (mutation.py), so the sweep is driver-side by
    design — the timed DataFrame then resolves the post-sweep snapshot
    (log merge + tombstone drop), which is the distributed cost of making
    the ops visible.  Timings are machine-dependent → rows-only."""
    emb = _train(spark, sf)
    table = VectorTable(spark, emb)
    rows = [r.asDict() for r in emb.limit(200).collect()]
    lats = []
    for i, r in enumerate(rows):
        if op == "insert":
            lats.append(table.insert({"vec": r["vec"], "label": r["label"]}))
        elif op == "update":
            lats.append(table.update(r["id"], {"vec": r["vec"],
                                               "label": r["label"]}))
        else:
            lats.append(table.delete(r["id"]))
    lats.sort()
    mean_ms = 1000.0 * sum(lats) / len(lats)
    p95_ms = 1000.0 * lats[int(0.95 * (len(lats) - 1))]
    stats = spark.createDataFrame(
        [(op, len(lats), float(mean_ms), float(p95_ms))],
        "op string, n_ops bigint, mean_ms double, p95_ms double")
    after = table.snapshot().agg(F.count("*").alias("rows_after"))
    return stats.crossJoin(after)


def q_insert_latency(spark, sf):
    """M3 sequential insert sweep + snapshot visibility cost (BENCH)."""
    return _q_iud(spark, sf, "insert")


def q_update_latency(spark, sf):
    """M4 sequential upsert-by-id sweep + snapshot visibility cost."""
    return _q_iud(spark, sf, "update")


def q_delete_latency(spark, sf):
    """M5 sequential delete-by-id sweep + snapshot visibility cost."""
    return _q_iud(spark, sf, "delete")


def q_iud_final_state(spark, sf):
    """Value-oracles the M3-M5 mutation END STATE: the
    scripted sequential IUD sweep of the reference runner (runner.py:
    245-335 — insert a fresh row, upsert an existing id, delete a sampled
    id) is deterministic here (first-100 ids in ascending order; insert
    copies row i with label+1000 at id max+1+i; update sets label+500;
    every third id deletes), so the post-sweep snapshot — the log-merge
    view with tombstones dropped — reduces to hash-checkable per-bucket
    aggregates.  The latency twins (insert/update/delete_latency) stay
    rows-only by nature; this row proves the DML semantics."""
    emb = _train(spark, sf)
    table = VectorTable(spark, emb)
    rows = [r.asDict() for r in emb.orderBy("id").limit(100).collect()]
    for i, r in enumerate(rows):
        table.insert({"vec": r["vec"], "label": r["label"] + 1000})
        table.update(r["id"], {"vec": r["vec"], "label": r["label"] + 500})
        if i % 3 == 0:
            table.delete(r["id"])
    snap = table.snapshot()
    return (snap.groupBy(F.pmod(F.col("id"), F.lit(7)).alias("bucket"))
            .agg(F.count("*").alias("n_rows"),
                 F.sum("id").alias("sum_id"),
                 F.sum("label").cast("bigint").alias("sum_label"),
                 F.round(F.sum(F.round(F.element_at(
                     F.col("vec").cast("array<double>"), 1), 4)
                     .cast("decimal(28,6)")), 4).cast("double")
                 .alias("vec_checksum")))


# iud_final_state: DuckDB replays the deterministic IUD sweep relationally
# — first-100 ids (ascending) each insert a label+1000 copy at max_id+1+i,
# upsert label+500 in place, and every third id tombstones — and aggregates
# the identical per-bucket end state the Spark log-merge snapshot resolves.
_IUD_FINAL_STATE_SQL = """
WITH base AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v, label FROM embeddings),
m AS (SELECT max(id) AS mx FROM base),
f AS (SELECT id, v, label, row_number() OVER (ORDER BY id) - 1 AS i
      FROM base QUALIFY row_number() OVER (ORDER BY id) <= 100),
kept AS (SELECT b.id, b.v,
                CASE WHEN f.id IS NOT NULL THEN b.label + 500 ELSE b.label END AS label
         FROM base b LEFT JOIN f ON f.id = b.id
         WHERE f.id IS NULL OR f.i % 3 != 0),
ins AS (SELECT m.mx + 1 + f.i AS id, f.v, f.label + 1000 AS label
        FROM f CROSS JOIN m),
fin AS (SELECT * FROM kept UNION ALL SELECT * FROM ins)
SELECT (id % 7)::BIGINT AS bucket, count(*) AS n_rows,
       sum(id)::BIGINT AS sum_id, sum(label)::BIGINT AS sum_label,
       round(sum(round(v[1], 4)::DECIMAL(28,6)), 4)::DOUBLE AS vec_checksum
FROM fin GROUP BY bucket
"""


def oracles() -> dict[str, str]:
    return {
        "iud_final_state": _IUD_FINAL_STATE_SQL,
        # Spark's max(struct(value, event_id)) = max value then max id;
        # mirrored as (value DESC, event_id DESC) row_number.
        "peak_events": """
WITH r AS (SELECT event_type, event_id, value,
                  row_number() OVER (PARTITION BY event_type
                                     ORDER BY value DESC, event_id DESC) AS rn
           FROM events)
SELECT event_type, event_id, round(value, 6) AS peak_value FROM r WHERE rn = 1
""",
        "events_hourly": """
SELECT date_trunc('hour', ts) AS window_start, event_type, count(*) AS n_events
FROM events GROUP BY 1, 2
""",
        "sessionize": """
WITH o AS (SELECT user_id, ts, lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev FROM events),
m AS (SELECT user_id, ts,
             CASE WHEN prev IS NULL OR ts - prev >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
      FROM o),
g AS (SELECT user_id, ts,
             sum(brk) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS grp
      FROM m)
SELECT user_id, min(ts) AS session_start, max(ts) + INTERVAL 30 MINUTE AS session_end,
       count(*) AS n_events
FROM g GROUP BY user_id, grp
""",
        "asof_clicks": """
WITH c0 AS (SELECT user_id, ts, event_id, value,
                   row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
            FROM events WHERE event_type = 'click'),
c AS (SELECT user_id, ts, event_id, value FROM c0 WHERE rn = 1),
p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
j AS (SELECT p.event_id, p.user_id, p.ts,
             c.ts AS m_ts, c.event_id AS m_eid, c.value AS m_val
      FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND c.ts <= p.ts)
SELECT event_id, user_id, ts,
       CASE WHEN m_ts >= ts - INTERVAL 1 HOUR THEN m_ts END AS click_ts,
       CASE WHEN m_ts >= ts - INTERVAL 1 HOUR THEN m_eid END AS click_event_id,
       CASE WHEN m_ts >= ts - INTERVAL 1 HOUR THEN round(m_val, 6) END AS click_value
FROM j
""",
        "interval_clicks": """
SELECT p.event_id, p.user_id, p.ts, c.ts AS m_ts, c.event_id AS m_click_id
FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
JOIN (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id
 AND c.ts >= p.ts - INTERVAL 15 MINUTE
 AND c.ts <= p.ts + INTERVAL 15 MINUTE
""",
        "clicks_before_purchase": """
WITH e AS (SELECT event_id, user_id, ts, event_type,
                  CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is_click,
                  epoch_us(ts) AS us
           FROM events WHERE event_type IN ('click', 'purchase')),
w AS (SELECT *, sum(is_click) OVER (PARTITION BY user_id ORDER BY us
          RANGE BETWEEN 1800000000 PRECEDING AND CURRENT ROW) AS n_clicks
      FROM e)
SELECT event_id, user_id, ts, n_clicks::BIGINT AS n_clicks
FROM w WHERE event_type = 'purchase'
""",
    }
