"""Relational and corpus aggregates: TPC-H-shaped joins and windows,
corpus profiling and the sketch queries with their error-bound gates."""

from __future__ import annotations

from pyspark.sql import functions as F, Window

from bigvectorbench_spark.functions import text as tx
from bigvectorbench_spark.operators import metrics as mx
from bigvectorbench_spark.sources.tables import load_table

from bigvectorbench_spark.queries._common import (
    _docs_wide, _QUALITY_FEATS, _TOKENS)


def q_topk_per_group(spark, sf):
    """A1: per-group top-k window — top-3 orders by totalprice per customer."""
    o = load_table(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w)).filter("rn <= 3")
        .select("o_custkey", "o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice"),
                F.col("rn").cast("bigint").alias("rn"))
    )


def q_pricing_summary(spark, sf):
    """A3: the TPC-H Q1-style aggregation; DECIMAL accumulation for
    order-independent exactness, cast to DOUBLE after rounding."""
    li = load_table(spark, sf, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,4)")
    disc_price = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(dec("l_quantity")), 2).cast("double").alias("sum_qty"),
            F.round(F.sum(dec("l_extendedprice")), 2).cast("double").alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).cast("double").alias("sum_disc_price"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_revenue_by_nation(spark, sf):
    """Join chain lineitem⨝orders⨝customer⨝nation (small dims broadcast)."""
    li = load_table(spark, sf, "lineitem")
    o = load_table(spark, sf, "orders")
    c = load_table(spark, sf, "customer")
    n = load_table(spark, sf, "nation")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.round(F.sum(rev), 2).cast("double").alias("revenue"),
             F.count("*").alias("n_items"))
    )


def q_customers_semi_returns(spark, sf):
    """Semi-join chain (EXISTS): customers with ≥1 returned high-quantity
    item.  LEFT SEMI keeps the probe side narrow — no payload duplication,
    and Catalyst pushes both filters to the scans."""
    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders")
    li = load_table(spark, sf, "lineitem")
    ret_orders = li.filter("l_returnflag = 'R' and l_quantity >= 45").select("l_orderkey")
    qual = o.join(ret_orders, o.o_orderkey == ret_orders.l_orderkey, "left_semi")
    return c.join(qual, c.c_custkey == qual.o_custkey, "left_semi").select(
        "c_custkey", "c_name")


def q_customers_anti_urgent(spark, sf):
    """Anti-join (NOT EXISTS): customers with no urgent-priority order —
    the skip-if-done / exclusion pattern (A12) as a declared query."""
    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders")
    urgent = o.filter("o_orderpriority = '1-URGENT'")
    return c.join(urgent, c.c_custkey == urgent.o_custkey, "left_anti").select(
        "c_custkey", "c_name", "c_mktsegment")


def q_corpus_rollup(spark, sf):
    """Multi-level aggregation: ROLLUP(source, lang) — per-(source, lang),
    per-source subtotals, and the grand total in one pass."""
    docs = load_table(spark, sf, "documents")
    return docs.rollup("source", "lang").agg(
        F.count("*").alias("n_docs"), F.sum("n_chars").alias("total_chars"))


def q_top_revenue_orders(spark, sf):
    """TPC-H Q3 shape: date-filtered join + agg + global top-10 — the
    ORDER BY/LIMIT plans as TakeOrderedAndProject (no full sort)."""
    li = load_table(spark, sf, "lineitem")
    o = load_table(spark, sf, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.round(F.sum(rev), 2).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), "o_orderkey")
        .limit(10)
    )


def q_user_gap_stats(spark, sf):
    """lag() family: per-user inter-event gap statistics (mean/max gap in
    seconds) — the cadence profiling behind sessionization thresholds."""
    ev = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        "user_id",
        (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))).alias("gap_us"),
    ).filter(F.col("gap_us").isNotNull())
    # Integer µs end-to-end: sums are exact and the mean is a floor
    # division, so the result is engine-exact at every sf.  (The earlier
    # round(seconds, 6) form hit a half-ulp round boundary on 1/1500
    # users at sf0.1 — Spark's BigDecimal HALF_UP vs DuckDB's double
    # rounding disagree on values epsilon from a .5 digit.)
    return gaps.groupBy("user_id").agg(
        F.count("*").alias("n_gaps"),
        F.expr("sum(gap_us) div count(*)").alias("mean_gap_us"),
        F.max("gap_us").alias("max_gap_us"),
    )


def q_revenue_running(spark, sf):
    """Cumulative window aggregation: per-priority daily order totals with
    a running sum over days.  Partitioned by priority so no global-order
    window exists at scale; DECIMAL accumulation keeps the running values
    order-independent."""
    o = load_table(spark, sf, "orders")
    daily = o.groupBy("o_orderpriority", F.to_date("o_orderdate").alias("day")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("day_total"))
    w = Window.partitionBy("o_orderpriority").orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    return daily.select(
        "o_orderpriority",
        F.col("day").cast("timestamp").alias("day"),
        F.round("day_total", 2).cast("double").alias("day_total"),
        F.round(F.sum("day_total").over(w), 2).cast("double").alias("running_total"),
    )


def q_lang_pivot(spark, sf):
    """PIVOT: doc counts per source × language as a wide table (fixed
    column set so the plan is a single pass of conditional aggregates)."""
    docs = load_table(spark, sf, "documents")
    return (
        docs.groupBy("source")
        .pivot("lang", ["de", "en", "es", "fr", "zh"])
        .agg(F.count(F.lit(1)))
        .na.fill(0)
    )


def _quality_by_decile(spark, sf, tag):
    """Doc count and mean 6-dp quality score ``q`` per decile, the deciles
    assigned by ``tag`` to the scored (doc_id, q) frame."""
    tokenized = _docs_wide(spark, sf).select(
        "doc_id", F.col("text"), tx.tokens(F.col("text")).alias("tk"))
    scored = tokenized.select(
        "doc_id",
        F.round(tx.quality_score_from_tokens(F.col("tk"), F.col("text")), 6).alias("q"))
    return tag(scored).groupBy("decile").agg(
        F.count("*").alias("n_docs"),
        (F.round(F.sum(F.col("q").cast("decimal(18,6)")), 6).cast("double")
         / F.count("*")).alias("mean_q"),
    )


def q_quality_deciles(spark, sf):
    """ntile quality bucketing: the decile assignment a pipeline uses for
    quality-threshold filtering; deterministic under (quality, doc_id)
    ordering. Output: per-decile count + mean quality.

    Scale note: exact equal-size deciles require a global ordering (one
    window partition) — fine for the aggregate report here, but to *tag*
    100 TB of rows with deciles the plan is
    ``metrics.approx_quantile_buckets`` (percentile_approx thresholds +
    broadcast comparison, no global sort) — declared as
    ``quality_tags_approx`` and pinned to this ntile form in tests."""
    w = Window.orderBy(F.col("q"), F.col("doc_id"))
    return _quality_by_decile(
        spark, sf,
        lambda s: s.withColumn("decile", F.ntile(10).over(w).cast("bigint")))


def q_doclen_percentiles(spark, sf):
    """A4 grouped form: exact per-source document-length percentiles."""
    docs = load_table(spark, sf, "documents")
    return docs.groupBy("source").agg(
        F.round(F.expr("percentile(n_chars, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(n_chars, 0.9)"), 6).alias("p90"),
        F.round(F.expr("percentile(n_chars, 0.99)"), 6).alias("p99"),
    )


def q_corpus_stats_approx(spark, sf):
    """Sketch-based corpus profiling — HLL++ distinct counts and KLL-style
    approximate quantiles, the O(1)-memory form that replaces exact
    distinct/percentile at 100 TB.  Sketch values are engine-specific so
    this stays rows-only; the in-window ``sketch_bounds`` gate asserts the
    same sketches sit within published error bounds of the exact answers,
    making a sketch defect driver-visible."""
    docs = load_table(spark, sf, "documents")
    return docs.groupBy("source").agg(
        F.approx_count_distinct("text", 0.01).alias("n_distinct_texts_approx"),
        F.percentile_approx("n_chars", 0.5, 10000).alias("p50_chars_approx"),
        F.count("*").alias("n_docs"),
    )


def q_quality_tags_approx(spark, sf):
    """The 100 TB decile-tagging plan (quality_deciles' scale twin): KLL
    quantile thresholds + broadcast comparison tag every row with no
    global sort.  Threshold values are sketch-dependent → rows-only; the
    ntile agreement is pinned in test_groundtruth_metrics."""
    return _quality_by_decile(
        spark, sf, lambda s: mx.approx_quantile_buckets(
            s, "q", n_buckets=10, out_col="decile"))


def q_corpus_stats(spark, sf):
    """Corpus profiling: exact distinct counts and totals per source — the
    A3/A7-style aggregates a pipeline runs before dedup decisions."""
    docs = load_table(spark, sf, "documents")
    return docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("lang").alias("n_langs"),
        F.sum("n_chars").alias("total_chars"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
    )


def q_sketch_bounds(spark, sf):
    """Driver-visible error-bound gate for the sketch path: per-source
    HLL++ distinct-count estimates must sit within 5%
    relative error of the exact countDistinct (rsd is 0.01, so 5σ), and
    percentile_approx(0.5, accuracy=10000) must land between the exact
    0.49/0.51 quantiles (rank tolerance ≫ n/accuracy).  Both asserted as
    booleans; ``n_sources``/``n_docs`` are recomputed by the oracle.
    Measured error at sf0.001–0.01 is exactly 0 (scripts/
    calibrate_gates.py) — the corridor exists for larger n only."""
    # The sketches and the exact countDistinct are SEPARATE aggregations
    # joined on source.  Mixed in one agg, Spark's single-distinct
    # rewrite keys the FIRST partial aggregate by (source, text) — so the
    # 16 KB HLL register block and both exact-percentile buffers were
    # built and merged once per DISTINCT DOCUMENT, not per source
    # (the plan showed partial_approx_count_distinct under
    # Keys [source, text]), ~80 MB of agg state for a 5k-doc corpus
    # squeezed through 5 tasks — the measured one-core serialization
    # (job_stats: n_tasks=5, 6.6 s executor CPU; scaling ratio 0.77).
    # Split, the sketch agg holds one buffer per source per partition and
    # the distinct-count dedup is a lightweight codegen HashAggregate;
    # both parallelize (guide §2.3 partial aggregation).  Results are
    # bit-identical: HLL registers are max-merged (dedup- and order-
    # insensitive), exact percentiles aggregate value counts, and
    # percentile_approx at accuracy=10000 never compresses below 10k rows
    # per source (above that, pct_ok's rank tolerance absorbs it).
    docs = _docs_wide(spark, sf)
    sketches = docs.groupBy("source").agg(
        F.approx_count_distinct("text", 0.01).alias("hll"),
        F.percentile_approx("n_chars", 0.5, 10000).alias("p50a"),
        F.expr("percentile(n_chars, 0.49)").alias("p49"),
        F.expr("percentile(n_chars, 0.51)").alias("p51"),
        F.count("*").alias("n"),
    )
    exact = docs.groupBy("source").agg(
        F.countDistinct("text").alias("exact"))
    per_src = sketches.join(exact, "source")
    return per_src.agg(
        F.count("*").alias("n_sources"),
        F.sum("n").cast("bigint").alias("n_docs"),
        F.every(
            F.abs(F.col("hll") - F.col("exact"))
            <= F.greatest(F.ceil(F.col("exact") * 0.05), F.lit(1))
        ).alias("hll_ok"),
        F.every(
            (F.col("p49") <= F.col("p50a")) & (F.col("p50a") <= F.col("p51"))
        ).alias("pct_ok"),
    )


def q_cm_heavy_hitters(spark, sf):
    """Count-Min watchlist counts (the third sketch family beside the
    HLL/KLL pair sketch_bounds gates): corpus-wide frequencies for the
    exact top-10 tokens from ONE mergeable count_min_sketch aggregate —
    no token-stream shuffle at estimate time, O(ln(1/δ)/ε) sketch bytes
    at any corpus size.  The oracle re-derives the watchlist and exact
    counts in SQL and asserts the CM contract booleans: never
    undercounts, overshoots ≤ ε·N (deterministic at the fixed seed)."""
    return mx.cm_watchlist_report(_docs_wide(spark, sf))


# sketch_bounds: the oracle recomputes the exact corpus shape (sources,
# docs) and asserts the Spark-side HLL++/percentile_approx error-bound
# booleans.
_SKETCH_BOUNDS_SQL = """
SELECT count(DISTINCT source) AS n_sources, count(*) AS n_docs,
       TRUE AS hll_ok, TRUE AS pct_ok
FROM documents
"""


def oracles() -> dict[str, str]:
    return {
        "sketch_bounds": _SKETCH_BOUNDS_SQL,
        "topk_per_group": """
WITH r AS (SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS o_totalprice,
                  row_number() OVER (PARTITION BY o_custkey
                                     ORDER BY o_totalprice DESC, o_orderkey) AS rn
           FROM orders)
SELECT o_custkey, o_orderkey, o_totalprice, rn FROM r WHERE rn <= 3
""",
        "pricing_summary": """
SELECT l_returnflag, l_linestatus,
       CAST(round(sum(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_qty,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_base_price,
       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_disc_price,
       count(*) AS count_order
FROM lineitem GROUP BY l_returnflag, l_linestatus
""",
        "revenue_by_nation": """
SELECT n_name,
       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
""",
        "customers_semi_returns": """
SELECT c_custkey, c_name FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
              WHERE o.o_custkey = c.c_custkey
                AND l.l_returnflag = 'R' AND l.l_quantity >= 45)
""",
        "customers_anti_urgent": """
SELECT c_custkey, c_name, c_mktsegment FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
""",
        "corpus_rollup": """
SELECT source, lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents GROUP BY ROLLUP(source, lang)
""",
        "user_gap_stats": """
WITH g AS (SELECT user_id,
                  epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id
                                                        ORDER BY ts, event_id)) AS gap_us
           FROM events),
f AS (SELECT * FROM g WHERE gap_us IS NOT NULL)
SELECT user_id, count(*) AS n_gaps,
       sum(gap_us)::BIGINT // count(*) AS mean_gap_us,
       max(gap_us) AS max_gap_us
FROM f GROUP BY user_id
""",
        "revenue_running": """
WITH daily AS (SELECT o_orderpriority, date_trunc('day', o_orderdate)::TIMESTAMP AS day,
                      sum(o_totalprice::DECIMAL(18,2)) AS day_total
               FROM orders GROUP BY 1, 2)
SELECT o_orderpriority, day,
       CAST(round(day_total, 2) AS DOUBLE) AS day_total,
       CAST(round(sum(day_total) OVER (PARTITION BY o_orderpriority ORDER BY day
                ROWS UNBOUNDED PRECEDING), 2) AS DOUBLE) AS running_total
FROM daily
""",
        "lang_pivot": """
SELECT source,
       count(*) FILTER (lang = 'de') AS de,
       count(*) FILTER (lang = 'en') AS en,
       count(*) FILTER (lang = 'es') AS es,
       count(*) FILTER (lang = 'fr') AS fr,
       count(*) FILTER (lang = 'zh') AS zh
FROM documents GROUP BY source
""",
        "quality_deciles": f"""
WITH tk AS (SELECT doc_id, text, {_TOKENS} AS tk FROM documents),
s AS (SELECT doc_id,
             len(tk)::DOUBLE AS ntok,
             {_QUALITY_FEATS}
      FROM tk),
q AS (SELECT doc_id,
             round(0.3 * least(ntok / 64.0, 1.0)
                 + 0.2 * (CASE WHEN awl >= 3.0 AND awl <= 10.0 THEN 1.0 ELSE 0.3 END)
                 + 0.2 * least(swr * 4.0, 1.0)
                 + 0.3 * greatest(1.0 - (pr + dr) * 2.0, 0.0), 6) AS q
      FROM s),
d AS (SELECT q, ntile(10) OVER (ORDER BY q, doc_id) AS decile FROM q)
SELECT decile::BIGINT AS decile, count(*) AS n_docs,
       CAST(round(sum(q::DECIMAL(18,6)), 6) AS DOUBLE) / count(*) AS mean_q
FROM d GROUP BY decile
""",
        "top_revenue_orders": """
WITH r AS (
  SELECT o_orderkey, o_orderdate,
         CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderdate >= TIMESTAMP '2000-01-01'
  GROUP BY o_orderkey, o_orderdate)
SELECT o_orderkey, o_orderdate, revenue FROM r ORDER BY revenue DESC, o_orderkey LIMIT 10
""",
        "doclen_percentiles": """
SELECT source,
       round(quantile_cont(n_chars, 0.5), 6) AS p50,
       round(quantile_cont(n_chars, 0.9), 6) AS p90,
       round(quantile_cont(n_chars, 0.99), 6) AS p99
FROM documents GROUP BY source
""",
        "corpus_stats": """
SELECT source, count(*) AS n_docs, count(DISTINCT lang) AS n_langs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
FROM documents GROUP BY source
""",
        # cm_heavy_hitters: watchlist + exact counts re-derived; the CM
        # contract booleans (no undercount, ≤ ε·N overshoot) asserted.
        "cm_heavy_hitters": f"""
WITH tk AS (SELECT doc_id, {_TOKENS} AS tk FROM documents),
t AS (SELECT unnest(tk) AS term FROM tk),
c AS (SELECT term, count(*) AS exact_count FROM t GROUP BY term
      ORDER BY exact_count DESC, term LIMIT 10)
SELECT term, exact_count::BIGINT AS exact_count,
       TRUE AS overcount_ok, TRUE AS within_eps_ok
FROM c
""",
    }
