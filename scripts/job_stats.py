#!/usr/bin/env python
"""Per-query job/stage accounting via the Spark UI REST API (guide §1.5/§7.1):
run each named query once against the noop sink with a distinctive job
description, then count the jobs, stages and task time the run submitted.

The round-13 fusion work (VERDICT r12 "Next round" #1) targets SEQUENTIAL
SMALL-JOB LATENCY: gate queries spend their wall on many 0.5-0.7 s driver
jobs (fit collects, envelope counts, broadcast subtrees) rather than on any
hot shuffle, so the before/after evidence is the JOB COUNT per query, not
bytes.  Prints one JSON line per query:

  {"query": name, "wall_s": w, "n_jobs": j, "n_stages": s, "n_tasks": t,
   "executor_run_ms": ms, "jobs": [{"stages": n, "dur_ms": d}, ...]}

Usage: python scripts/job_stats.py <query> [query ...]
Env: SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS as bench.py.
"""

from __future__ import annotations

import datetime
import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry
from bigvectorbench_spark import get_spark


def _rest(base: str, path: str):
    with urllib.request.urlopen(base + path) as r:
        return json.loads(r.read().decode())


def _job_ms(job: dict) -> int:
    """completionTime - submissionTime of a /jobs entry, in ms.  The REST
    API writes times as ``2026-10-17T09:55:01.123GMT``."""
    def ts(v):
        return datetime.datetime.strptime(
            v.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()
    return round((ts(job["completionTime"]) - ts(job["submissionTime"])) * 1e3)


def main() -> None:
    names = sys.argv[1:]
    if not names:
        sys.exit("usage: job_stats.py <query> [query ...]")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("job-stats")
    spark.sparkContext.setLogLevel("ERROR")
    ui = spark.sparkContext.uiWebUrl
    if not ui:
        sys.exit("Spark UI disabled; job_stats needs the REST API")
    app_id = spark.sparkContext.applicationId
    base = f"{ui}/api/v1/applications/{app_id}"

    # Warmup: JVM, python workers, parquet footer caches (bench.py shape).
    from bigvectorbench_spark.sources.tables import TABLES, load_table
    for t in TABLES:
        load_table(spark, sf_dir, t).count()
    spark.range(1000).repartition(8).mapInPandas(
        lambda it: it, schema="id long").count()

    qs = entry.queries()
    for name in names:
        fn = qs[name]
        tag = f"jobstats:{name}"
        spark.sparkContext.setJobDescription(tag)
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
        spark.sparkContext.setJobDescription(None)
        spark.catalog.clearCache()
        time.sleep(0.5)  # let the UI store drain its event queue
        jobs = [j for j in _rest(base, "/jobs?status=succeeded")
                if j.get("description") == tag]
        n_stages = sum(len(j.get("stageIds", [])) for j in jobs)
        n_tasks = sum(j.get("numCompletedTasks", 0) for j in jobs)
        run_ms = 0
        stage_ids = {s for j in jobs for s in j.get("stageIds", [])}
        for s in _rest(base, "/stages?status=complete"):
            if s.get("stageId") in stage_ids:
                run_ms += s.get("executorRunTime", 0)
        print(json.dumps({
            "query": name, "wall_s": round(wall, 2), "n_jobs": len(jobs),
            "n_stages": n_stages, "n_tasks": n_tasks,
            "executor_run_ms": run_ms,
            "jobs": [{"stages": len(j.get("stageIds", [])),
                      "dur_ms": _job_ms(j)} for j in jobs],
        }, separators=(",", ":")), flush=True)


if __name__ == "__main__":
    main()
