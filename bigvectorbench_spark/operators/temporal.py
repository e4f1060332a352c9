"""Temporal alignment operators: as-of join (nearest-event matching) and
interval join (all pairs within a time window).

Training-data pipelines constantly align event streams that don't share
timestamps — "the latest model snapshot before this sample", "the last
click before this purchase", "the config active when this document was
crawled". Spark has no built-in as-of join; the idiomatic scale plan is
implemented here.

Scale design — union + single window scan, NOT a join:

- A range/theta join (``l.key = r.key AND r.ts <= l.ts`` + max-per-row)
  explodes to O(|L|·matches) intermediate rows before aggregation. The
  union-scan plan instead tags both sides, shuffles ONCE on the key, sorts
  each partition by (ts, side), and sweeps with ``last(payload,
  ignorenulls)`` — O(|L|+|R|) rows end to end, no blowup, AQE-coalescible.
  This is the same trick a merge join would do, expressed declaratively so
  Catalyst handles spill and codegen.
- Skewed keys (one user with millions of events) concentrate a window
  partition. ``salt_interval``/``salt_threshold`` pre-split such keys by a
  time-bucket salt and re-merge: the sweep is associative across time
  buckets given carryover of the winning right row per bucket, so a hot
  key's window becomes (#buckets) parallel windows plus one tiny
  per-bucket carry window — bounded task time regardless of per-key row
  count (tests/test_temporal.py skew stress: 1 hot user ≫ others).

No reference analog (the reference's closest temporal semantics is the
cc_news 3-day sliding *predicate*, CONTRIBUTING.md:45-50); part of the
pipeline extension surface.
"""

from __future__ import annotations

from collections.abc import Sequence
from typing import Optional

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    *,
    on: str | Sequence[str],
    left_ts: str = "ts",
    right_ts: str | None = None,
    right_cols: Sequence[str] | None = None,
    direction: str = "backward",
    allow_exact_matches: bool = True,
    tolerance: str | None = None,
    prefix: str = "asof_",
    salt_interval: str | None = None,
    salt_threshold: int | None = None,
) -> DataFrame:
    """For every left row, attach the nearest right row per key:
    ``backward`` = latest right with ``r.ts <= l.ts`` (pandas
    ``merge_asof`` semantics), ``forward`` = earliest right with
    ``r.ts >= l.ts``. Unmatched left rows keep NULL right fields
    (left-outer semantics).

    ``tolerance`` is a SQL interval literal (e.g. ``'1 hour'``): matches
    farther away than the interval are nulled out. ``allow_exact_matches``
    controls whether ``r.ts == l.ts`` counts (strict < / > when False).

    Ties — multiple right rows at the same (key, ts) — resolve to the one
    with the greatest payload struct (field-wise comparison in declaration
    order); pre-deduplicate the right side for domain-specific tie rules.

    Output: every left column, then ``{prefix}{right_ts}`` (the matched
    timestamp) and ``{prefix}{c}`` for each requested right column.

    Skew controls (the 100 TB path): ``salt_interval`` (a SQL interval
    literal, e.g. ``'1 hour'``) splits each key's sweep into time buckets
    of that width — phase 1 sweeps each (key, bucket) window in parallel,
    then a per-bucket carry (the sweep-winning right row of each bucket,
    rolled across buckets by one tiny window over O(#buckets) rows per
    key) fills left rows whose match lives in an earlier (backward) /
    later (forward) bucket.  With ``salt_threshold`` also set, only keys
    whose total row count reaches the threshold are salted (found by one
    map-side-combined count + broadcast semi/anti split — hot keys are few
    by definition, so the split adds no shuffle); the rest take the plain
    single-window sweep.  Results are identical in all modes (property
    test pins salted == plain).
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"unknown direction {direction!r}")
    right_ts = right_ts or left_ts
    keys = [on] if isinstance(on, str) else list(on)
    if right_cols is None:
        right_cols = [c for c in right.columns if c not in (*keys, right_ts)]
    right_cols = list(right_cols)

    payload = F.struct(
        F.col(right_ts).cast("timestamp").alias("__matched_ts"),
        *[F.col(c) for c in right_cols],
    )
    r_tagged = right.select(
        *[F.col(k) for k in keys],
        F.col(right_ts).cast("timestamp").alias("__t"),
        payload.alias("__p"),
        F.lit(None).cast(
            "struct<" + ",".join(f"`{c}`:{t}" for c, t in left.dtypes) + ">"
        ).alias("__l"),
        F.lit(0).alias("__side_right"),
    )
    l_tagged = left.select(
        *[F.col(k) for k in keys],
        F.col(left_ts).cast("timestamp").alias("__t"),
        F.lit(None).cast(dict(r_tagged.dtypes)["__p"]).alias("__p"),
        F.struct(*[F.col(c) for c in left.columns]).alias("__l"),
        F.lit(1).alias("__side_right"),
    )
    both = r_tagged.unionByName(l_tagged)

    # Within a timestamp tie, the right row must sort before the left row
    # exactly when exact matches are allowed; among tied right rows the
    # greatest payload sorts last (and wins the sweep).
    side_order = F.col("__side_right") if allow_exact_matches else -F.col("__side_right")
    backward = direction == "backward"
    ts_order = F.col("__t").asc() if backward else F.col("__t").desc()
    sweep_order = [ts_order, side_order.asc(), F.col("__p").asc_nulls_first()]

    def _sweep_plain(b, extra_parts=()):
        w = Window.partitionBy(*keys, *extra_parts).orderBy(*sweep_order).rowsBetween(
            Window.unboundedPreceding, Window.currentRow)
        return b.withColumn("__m", F.last("__p", ignorenulls=True).over(w)).filter(
            F.col("__side_right") == 1)

    def _sweep_salted(b):
        # Exact integer bucket index (double division + floor risks
        # off-by-one at boundaries).  A timestamp tie always lands both
        # rows in the same bucket, so the in-bucket side/payload ordering
        # keeps handling exactness and tie rules.
        width = F.unix_micros(
            F.lit("1970-01-01").cast("timestamp") + F.expr(f"INTERVAL {salt_interval}"))
        us = F.unix_micros(F.col("__t"))
        b = b.withColumn("__b", ((us - F.pmod(us, width)) / width).cast("long"))

        # Phase 1: the same sweep, parallel per (key, time-bucket).
        swept1 = _sweep_plain(b, extra_parts=("__b",))

        # Per-bucket carry: the sweep-winning right row of each bucket is
        # the one that sorts LAST in sweep order — pick it with a reversed
        # row_number (right rows only, so no side term needed).
        rev = ([F.col("__t").desc() if backward else F.col("__t").asc(),
                F.col("__p").desc_nulls_last()])
        wrn = Window.partitionBy(*keys, "__b").orderBy(*rev)
        winners = (
            b.filter(F.col("__side_right") == 0)
            .withColumn("__rn", F.row_number().over(wrn))
            .filter(F.col("__rn") == 1)
            .select(*keys, "__b", F.col("__p").alias("__pl"))
        )

        # Roll the carry across buckets: for each bucket present on either
        # side, the winning payload of the nearest preceding (backward) /
        # following (forward) non-empty bucket.  O(#buckets) rows per key —
        # the only per-key-serial step, and it no longer scales with row
        # count.
        bset = b.select(*keys, "__b").distinct()
        border = F.col("__b").asc() if backward else F.col("__b").desc()
        wc = Window.partitionBy(*keys).orderBy(border).rowsBetween(
            Window.unboundedPreceding, -1)
        carry = (
            bset.join(winners, [*keys, "__b"], "left")
            .withColumn("__carry", F.last("__pl", ignorenulls=True).over(wc))
            .select(*keys, "__b", "__carry")
        )

        # Re-merge: an in-bucket match always beats the carry (it is
        # strictly nearer in sweep direction).
        return (
            swept1.join(carry, [*keys, "__b"], "left")
            .withColumn("__m", F.coalesce("__m", "__carry"))
            .drop("__carry", "__b")
        )

    if salt_interval is None:
        swept = _sweep_plain(both)
    elif salt_threshold is None:
        swept = _sweep_salted(both)
    else:
        counts = both.groupBy(*keys).agg(F.count("*").alias("__n"))
        hot = counts.filter(F.col("__n") >= int(salt_threshold)).select(*keys)
        cold = both.join(F.broadcast(hot), keys, "left_anti")
        hot_rows = both.join(F.broadcast(hot), keys, "left_semi")
        swept = _sweep_plain(cold).unionByName(_sweep_salted(hot_rows))

    if tolerance is not None:
        if direction == "backward":
            ok = F.col("__m.__matched_ts") >= F.expr(f"__t - INTERVAL {tolerance}")
        else:
            ok = F.col("__m.__matched_ts") <= F.expr(f"__t + INTERVAL {tolerance}")
        swept = swept.withColumn("__m", F.when(ok, F.col("__m")))

    out_cols = [F.col(f"__l.{c}").alias(c) for c in left.columns]
    out_cols.append(F.col("__m.__matched_ts").alias(f"{prefix}{right_ts}"))
    out_cols.extend(F.col(f"__m.{c}").alias(f"{prefix}{c}") for c in right_cols)
    return swept.select(*out_cols)


def interval_join(
    left: DataFrame,
    right: DataFrame,
    *,
    on: str | Sequence[str],
    left_ts: str = "ts",
    right_ts: str | None = None,
    before: str = "15 minutes",
    after: str = "15 minutes",
    right_cols: Sequence[str] | None = None,
    how: str = "inner",
    prefix: str = "match_",
) -> DataFrame:
    """All (left, right) pairs per key with
    ``l.ts − before ≤ r.ts ≤ l.ts + after`` (bounds inclusive).

    Scale plan — bucketized equi-join, not a theta join: right rows land in
    one time bucket of width ``before + after``; each left row probes the
    (at most two) buckets its window can overlap, via a tiny explode. The
    join is then a pure (key, bucket) equi-join Catalyst can hash/sort-merge
    and AQE can skew-split, followed by the exact BETWEEN refinement. A
    key-only equi-join with the BETWEEN as a post-filter would build every
    per-key (L × R) combination first — at high per-key density that
    intermediate is the product, not the matches.

    ``how``: "inner" (matched pairs) or "left" (unmatched left rows kept
    with NULL right fields). Each qualifying pair appears exactly once —
    a right row lives in exactly one bucket.
    """
    if how not in ("inner", "left"):
        raise ValueError(f"unknown how {how!r}")
    right_ts = right_ts or left_ts
    keys = [on] if isinstance(on, str) else list(on)
    if right_cols is None:
        right_cols = [c for c in right.columns if c not in (*keys, right_ts)]
    right_cols = list(right_cols)

    before_us = F.unix_micros(
        F.lit("1970-01-01").cast("timestamp") + F.expr(f"INTERVAL {before}"))
    after_us = F.unix_micros(
        F.lit("1970-01-01").cast("timestamp") + F.expr(f"INTERVAL {after}"))
    width = before_us + after_us

    def bucket_of(x):
        # exact integer floor-division (x may not be a multiple of width;
        # double division + floor risks off-by-one at bucket boundaries)
        return ((x - F.pmod(x, width)) / width).cast("long")

    r = right.select(
        *[F.col(k) for k in keys],
        F.unix_micros(F.col(right_ts).cast("timestamp")).alias("__rt"),
        F.struct(F.col(right_ts).cast("timestamp").alias(f"{prefix}{right_ts}"),
                 *[F.col(c).alias(f"{prefix}{c}") for c in right_cols]).alias("__p"),
    ).withColumn("__bucket", bucket_of(F.col("__rt")))

    l0 = left.withColumn("__lid", F.monotonically_increasing_id())
    l = l0.withColumn(
        "__lt", F.unix_micros(F.col(left_ts).cast("timestamp"))
    ).withColumn(
        "__bucket",
        F.explode(F.sequence(
            bucket_of(F.col("__lt") - before_us),
            bucket_of(F.col("__lt") + after_us),
        )),
    )

    cond = [l[k] == r[k] for k in keys] + [
        l["__bucket"] == r["__bucket"],
        r["__rt"] >= l["__lt"] - before_us,
        r["__rt"] <= l["__lt"] + after_us,
    ]
    inner = l.join(r, cond, "inner").select(
        *[l[c] for c in l0.columns], "__p.*"
    )
    if how == "inner":
        return inner.drop("__lid")

    # left outer: recover left rows with zero matches across ALL probed
    # buckets (the exploded left-join would emit spurious NULL rows for
    # buckets that matched nothing while a sibling bucket matched)
    payload_fields = r.schema["__p"].dataType.fields
    missing = l0.join(inner.select("__lid"), "__lid", "left_anti").select(
        "*", *[F.lit(None).cast(f.dataType).alias(f.name) for f in payload_fields]
    )
    return inner.unionByName(missing).drop("__lid")


def windowed_event_counts(
    events: DataFrame,
    *,
    ts_col: str = "ts",
    window_duration: str = "1 hour",
    watermark: str = "1 hour",
    group_col: Optional[str] = "event_type",
) -> DataFrame:
    """Tumbling-window counts with a watermark for late data — works on both
    a streaming and a batch DataFrame (same plan; batch ignores the
    watermark), so the oracle can check it in batch mode."""
    df = events
    if df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    keys = [F.window(F.col(ts_col), window_duration).alias("w")]
    if group_col:
        keys.append(F.col(group_col))
    out = df.groupBy(*keys).agg(F.count("*").alias("n_events"))
    return out.select(
        F.col("w.start").alias("window_start"),
        *([group_col] if group_col else []),
        "n_events",
    )


def sessionize(
    events: DataFrame,
    *,
    ts_col: str = "ts",
    user_col: str = "user_id",
    gap: str = "30 minutes",
) -> DataFrame:
    """Session windows (gap-based).  Streaming uses Spark's native
    ``session_window``; the same call works in batch for oracle checking.
    Output: (user_id, session_start, session_end, n_events)."""
    df = events
    if df.isStreaming:
        df = df.withWatermark(ts_col, gap)
    return (
        df.groupBy(F.session_window(F.col(ts_col), gap).alias("s"), F.col(user_col))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col(user_col),
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            "n_events",
        )
    )
