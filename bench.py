#!/usr/bin/env python
"""Benchmark runner: every declared query, in ``queries()`` order, at
$SPARK_GRAFT_SF_DIR (default: the sf0.1 test data) on
local[$SPARK_GRAFT_CPUS].  $SPARK_GRAFT_BENCH_QUERIES (comma-separated)
selects a subset; $SPARK_GRAFT_BENCH_RUNS (default 3) sets best-of-N.

stdout ends with ONE compact JSON headline line, short enough to be
parsed whole from a bounded 2000-char stdout tail:
  {"metric": "headline_queries_total_time", "value": N, "unit": "sec",
   "queries": {name: best-of-N seconds}, "sf": ..., "records": path}

stderr gets one JSON record per query from ``run_query``, the single place
a query is run and measured, so every number about a query (wall time,
phase split, Spark work, plan shape) comes from the same runs.  The same
lines go to ``results/bench/bench_sf<sf>_<time>_<pid>.jsonl``, free of
Spark's log lines; the headline's ``records`` names that file, relative
to this script's directory:
  {"query", "runs": [s...], "cold_s", "min_s", "build_s", "plan_s",
   "exec_s", "jobs", "stages", "tasks", "task_s", "job_s": [s...],
   "shuffle_mb", "spill_mb", "persisted_rdds",
   "plan": {"exchange", "broadcast_exchange", "in_memory", "python_eval",
            "sha1"}}
A failed query writes {"query", "error"} and nulls the headline value.

- Each run's timed span is build + noop-sink write: results are fully
  materialized but never collected, the action a cluster job performs.
  ``runs`` records every run, not just the minimum, so machine load shows
  as uniform inflation while a plan regression moves the minimum itself.
- Every run starts with an empty cache: ``clearCache`` follows each run,
  so no run reuses a frame an earlier run persisted, and ``min_s`` is the
  best of N runs that each build their persists anew.  ``cold_s`` is
  run 1; ``persisted_rdds`` counts what run 1 left persisted.
- ``build_s`` (the query builder's eager driver jobs: fits, collects,
  envelope counts) and ``exec_s`` split run 1's clock.  The Spark counts
  are read from the UI REST API (``vbench.spans.SparkStats``) for run 1's
  job group; ``job_s`` lists its jobs' durations.
- ``plan_s`` and ``plan`` come from explaining run 1's frame after its
  write, off the clock: node counts of the normalised formatted plan and a
  hash of its text, so a changed plan shape shows without a re-run.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entry
from bigvectorbench_spark import get_spark
from vbench.spans import SparkStats

# Per-session noise, stripped so plans from two commits diff line by line:
# expression ids (``qid#123L`` -> ``qidL``), ``[plan_id=N]``, the
# directories of absolute file paths (``file:/data/sf0.1/x.parquet`` ->
# ``x.parquet``), the whole-stage-codegen and AQE query-stage ids
# (``[codegen id : N]``, a QueryStage's ``Arguments: N``), which a plan
# materialized during the build numbers differently from run to run, and
# RDD ids (``MapPartitionsRDD[471]``), which count every RDD the session
# made before.
_NOISE = [
    (re.compile(r"#\d+"), ""),
    (re.compile(r",? ?\[plan_id=\d+\]"), ""),
    (re.compile(r"(?:file:)?/(?:[^/\s,\[\]]+/)+"), ""),
    (re.compile(r" \[codegen id : \d+\]"), ""),
    (re.compile(r"(QueryStage\nOutput \[\d+\]: .*\nArguments: )\d+"), r"\1"),
    (re.compile(r"RDD\[\d+\]"), "RDD[]"),
]


def normalize(plan: str) -> str:
    for pattern, repl in _NOISE:
        plan = pattern.sub(repl, plan)
    return plan


def explain(df) -> str:
    """Normalised ``explain("formatted")`` of a frame: the analysed and
    optimised physical plan before execution (AQE shows isFinalPlan=false),
    the right artifact for plan shape (Exchange count, join strategy,
    PushedFilters, Python-eval nodes)."""
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return normalize(df._jdf.queryExecution().explainString(mode))


def plan_shape(text: str) -> dict:
    nodes = re.findall(r"^\(\d+\) (\w+)", text, re.M)
    return {"exchange": nodes.count("Exchange"),
            "broadcast_exchange": nodes.count("BroadcastExchange"),
            "in_memory": nodes.count("InMemoryRelation"),
            "python_eval": sum(bool(re.search("Python|Pandas|Arrow", n))
                               for n in nodes),
            "sha1": hashlib.sha1(text.encode()).hexdigest()}


def run_query(spark, stats: SparkStats, name: str, fn, sf_dir: str,
              runs: int) -> dict:
    """Run one query ``runs`` times (best-of-N, reference runner.py:222-226)
    and return its record.  Every run gets its own job group."""
    sc = spark.sparkContext
    group = f"bench-{name}-run"
    try:
        times = []
        for i in range(runs):
            sc.setJobGroup(f"{group}{i}", name)
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            times.append(time.perf_counter() - t0)
            # Jobs between runs (none are expected) stay out of run 1's counts.
            sc.setJobGroup("bench-idle", "idle")
            if i == 0:
                build_s = t1 - t0
                t0 = time.perf_counter()
                text = explain(df)
                plan_s = time.perf_counter() - t0
                persisted = stats.persisted_rdds()
            spark.catalog.clearCache()
        st = stats.group(f"{group}0")
        return {
            "query": name, "runs": [round(t, 3) for t in times],
            "cold_s": round(times[0], 3), "min_s": round(min(times), 3),
            "build_s": round(build_s, 3), "plan_s": round(plan_s, 3),
            "exec_s": round(times[0] - build_s, 3),
            "jobs": st["jobs"], "stages": st["stages"], "tasks": st["tasks"],
            "task_s": round(st["task_s"], 3),
            "job_s": [round(e - s, 3) for s, e in st["intervals"]],
            "shuffle_mb": round(st["shuffle_mb"], 3),
            "spill_mb": round(st["spill_mb"], 3),
            "persisted_rdds": persisted,
            "plan": plan_shape(text),
        }
    except Exception as e:  # one broken query must not kill the run
        return {"query": name,
                "error": str(e).splitlines()[0][:200] if str(e) else type(e).__name__}
    finally:
        # Frames a query persisted must not carry into the next query's
        # storage memory or plans, also when it failed.
        spark.catalog.clearCache()
        stats.end_op()


def fit_headline_line(out: dict, timings: dict, budget: int = 1900) -> str:
    """Shrink the contract line until it fits the driver's bounded
    2000-char stdout tail (BENCH_r05 recorded `parsed: null` when a 6 KB
    line got truncated from the front — the headline must fit WHOLE).
    Tiers: 3 -> 2 -> 1 decimals per query, then drop the FASTEST queries
    8 at a time (flap triage reads the slow ones; `q_omitted` records
    the cut) — first needed at 95 queries, where even 1 dp is ~2,050
    chars.  Every query's full record is on stderr.  The headline total
    keeps 3 decimals throughout."""
    line = json.dumps(out, separators=(",", ":"))
    for ndp in (2, 1):
        if len(line) <= budget:
            break
        out["queries"] = {k: round(v, ndp) for k, v in timings.items()}
        line = json.dumps(out, separators=(",", ":"))
    while len(line) > budget and out["queries"]:
        keep = sorted(out["queries"], key=lambda q: -out["queries"][q])
        out["queries"] = {q: out["queries"][q] for q in keep[:len(keep) - 8]}
        out["q_omitted"] = len(timings) - len(out["queries"])
        line = json.dumps(out, separators=(",", ":"))
    return line


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # No console progress bar: it would interleave with the records.  The
    # status store keeps every job, stage and SQL execution of the run: past
    # its default 1000 stages it drops skipped stages first, and reading a
    # job's stages back then fails with 404.
    spark = get_spark("bvb-bench", **{
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    })
    spark.sparkContext.setLogLevel("ERROR")

    # Warmup: spin the JVM, python workers (mapInPandas), and file metadata
    # caches so per-query timings measure the queries, not session startup.
    from bigvectorbench_spark.sources.tables import TABLES, load_table
    for t in TABLES:
        load_table(spark, sf_dir, t).count()
    spark.range(1000).repartition(8).mapInPandas(
        lambda it: it, schema="id long").count()

    stats = SparkStats(spark.sparkContext)
    qs = entry.queries()
    subset = os.environ.get("SPARK_GRAFT_BENCH_QUERIES")
    names = [q for q in qs if q in subset.split(",")] if subset else list(qs)
    runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    records = os.path.join("results", "bench", f"bench_sf{sf}_"
                           f"{time.strftime('%Y%m%d-%H%M%S')}_{os.getpid()}.jsonl")
    root = os.path.dirname(os.path.abspath(__file__))
    os.makedirs(os.path.join(root, os.path.dirname(records)), exist_ok=True)
    with open(os.path.join(root, records), "w") as log:
        for name in names:
            rec = run_query(spark, stats, name, qs[name], sf_dir, runs)
            line = json.dumps(rec, separators=(",", ":"))
            print(line, file=sys.stderr, flush=True)
            print(line, file=log, flush=True)
            if "error" in rec:
                errors[name] = rec["error"]
            else:
                timings[name] = rec["min_s"]

    out = {
        "metric": "headline_queries_total_time",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "records": records,
    }
    if errors:
        # A partially-failed run must never look faster than a passing one:
        # the headline value is only meaningful when every query ran.
        out["value"] = None
        out["errors"] = errors
    print(fit_headline_line(out, timings))


if __name__ == "__main__":
    main()
