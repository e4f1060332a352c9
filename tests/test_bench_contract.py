"""Regression net for the driver's BENCH capture contract (round 5 lost
its bench signal to this): the driver reads a bounded 2000-char stdout
TAIL and parses the LAST line as the headline JSON, so

- stdout must end with one compact JSON line under ~1,900 chars carrying
  {metric, value, unit, queries, sf, records};
- the per-query records (per-run arrays, phase split, Spark counts, plan
  fingerprint) go to stderr, one JSON line per query, never stdout, and
  the same lines to the ``records`` file the headline names.

Runs bench.py as a subprocess on a tiny query subset at sf0.001: the
records read the Spark UI REST API, which the test session runs without.
"""

import json
import os
import subprocess
import sys

ROOT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..")
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "scripts"))

RECORD_KEYS = {"query", "runs", "cold_s", "min_s", "build_s", "plan_s",
               "exec_s", "jobs", "stages", "tasks", "task_s", "job_s",
               "shuffle_mb", "spill_mb", "persisted_rdds", "plan"}
PLAN_KEYS = {"exchange", "broadcast_exchange", "in_memory", "python_eval",
             "sha1"}


def test_bench_stdout_fits_driver_tail_window(sf_dir):
    env = {**os.environ, "SPARK_GRAFT_SF_DIR": sf_dir,
           "SPARK_GRAFT_BENCH_QUERIES": "token_stats,corpus_rollup",
           "SPARK_GRAFT_BENCH_RUNS": "2"}
    env.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    proc = subprocess.run([sys.executable, os.path.join(ROOT, "bench.py")],
                          capture_output=True, text=True, env=env, cwd=ROOT,
                          timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]

    # the driver's exact parse: last line of the last 2000 stdout chars
    tail = proc.stdout[-2000:]
    last = tail.strip().rsplit("\n", 1)[-1]
    head = json.loads(last)
    assert head["metric"] == "headline_queries_total_time"
    assert head["unit"] == "sec" and head["value"] > 0
    assert set(head["queries"]) == {"token_stats", "corpus_rollup"}
    assert len(last) < 1900

    # the records file the headline names holds the stderr records, alone
    path = os.path.join(ROOT, head["records"])
    assert head["records"].startswith(os.path.join("results", "bench", ""))
    with open(path) as f:
        logged = f.read().splitlines()
    os.remove(path)
    assert logged == [l for l in proc.stderr.splitlines() if l.startswith('{"query"')]

    # one record per query on stderr, in queries() order
    import __spark_entry__ as entry

    recs = [json.loads(l) for l in proc.stderr.splitlines()
            if l.startswith('{"query"')]
    assert [r["query"] for r in recs] == [q for q in entry.queries()
                                          if q in head["queries"]]
    for r in recs:
        assert set(r) == RECORD_KEYS and set(r["plan"]) == PLAN_KEYS
        assert len(r["runs"]) == 2  # SPARK_GRAFT_BENCH_RUNS
        assert r["cold_s"] == r["runs"][0] and r["min_s"] == min(r["runs"])
        assert head["queries"][r["query"]] == r["min_s"]
        assert r["jobs"] >= 1 and len(r["job_s"]) == r["jobs"]
        assert len(r["plan"]["sha1"]) == 40

    # and never on stdout (the defect that truncated BENCH_r05)
    assert '"runs"' not in proc.stdout


def test_controlled_bench_merges_records_by_min():
    """controlled_bench reads each invocation's runs from the stderr
    records (error records carry none) and keeps each query's minimum."""
    import controlled_bench as cb

    def stderr(recs):
        return "\n".join(["progress noise"] + [json.dumps(r) for r in recs])

    inv0 = cb.record_runs(stderr([{"query": "a", "runs": [2.0, 1.5]},
                                  {"query": "b", "runs": [0.4, 0.5]},
                                  {"query": "c", "error": "boom"}]))
    inv1 = cb.record_runs(stderr([{"query": "a", "runs": [1.8, 1.2]},
                                  {"query": "b", "runs": [1.0, 0.9]}]))
    assert inv0 == {"a": [2.0, 1.5], "b": [0.4, 0.5]}
    merged, runs = cb.merge([{"headline": {"sf": 0.1}, "runs": inv0},
                             {"headline": {"sf": 0.1}, "runs": inv1}])
    assert merged["queries"] == {"a": 1.2, "b": 0.4}
    assert merged["value"] == 1.6 and merged["sf"] == 0.1
    assert runs["per_invocation_min"] == {"a": [1.5, 1.2], "b": [0.4, 0.9]}
    assert runs["spread"] == {"a": 1.25, "b": 2.25}
    assert merged["protocol_flagged_spread_gt_1.5x"] == {"b": 2.25}
    assert runs["invocations"] == [inv0, inv1]


def test_fit_headline_line_tiers():
    """The contract line must fit the driver's 2000-char stdout tail at
    any query count: precision tiers first, then slowest-kept trimming
    with an explicit q_omitted marker."""
    import bench

    timings = {f"query_name_{i:03d}": 0.001 + i * 0.037 for i in range(120)}
    records = "results/bench/bench_sf0.1_20261020-201500_123456.jsonl"
    out = {"metric": "headline_queries_total_time", "value": 12.345,
           "unit": "sec", "queries": dict(timings), "sf": 0.1,
           "records": records}
    line = bench.fit_headline_line(out, timings)
    assert len(line) <= 1900
    parsed = json.loads(line)
    assert parsed["value"] == 12.345  # headline precision untouched
    assert parsed["records"] == records  # the records path survives the cut
    kept = parsed["queries"]
    assert parsed["q_omitted"] == 120 - len(kept)
    # the kept set is the SLOWEST queries
    slowest = sorted(timings, key=lambda q: -timings[q])[:len(kept)]
    assert set(kept) == set(slowest)


def test_fit_headline_line_small_set_untouched():
    import bench

    timings = {"a": 1.234, "b": 0.567}
    out = {"metric": "headline_queries_total_time", "value": 1.801,
           "unit": "sec", "queries": dict(timings), "sf": 0.1}
    parsed = json.loads(bench.fit_headline_line(out, timings))
    assert parsed["queries"] == {"a": 1.234, "b": 0.567}
    assert "q_omitted" not in parsed


def test_normalize_strips_run_to_run_stage_numbering():
    """Two captures of the same sparse_quantile_recall plan in fresh
    sessions number their codegen stages and AQE query stages
    differently; normalised, they are byte-identical, and arguments that
    are not stage ids survive.  RDD ids, which count the session's earlier
    RDDs, go too."""
    import bench

    plans = os.path.join(ROOT, "plans", "pr5")
    a, b = (open(os.path.join(plans, f"sparse_quantile_recall_{t}.txt")).read()
            for t in ("before", "before_rerun"))
    assert a != b
    assert bench.normalize(a) == bench.normalize(b)
    assert "[codegen id" not in bench.normalize(a)
    assert "Arguments: coalesced" in bench.normalize(a)
    assert bench.normalize("MapPartitionsRDD[471] at applySchema") == (
        "MapPartitionsRDD[] at applySchema")


def test_every_run_starts_with_an_empty_cache(spark):
    """``run_query`` clears the cache after every run, so a frame one run
    persists cannot make the next run warm, and ``persisted_rdds`` still
    counts what run 1 left persisted."""
    import bench

    def frame():
        return spark.range(100).selectExpr("id * 7 AS persisted_by_bench_test")

    def cached():
        lvl = frame().storageLevel
        return lvl.useMemory or lvl.useDisk

    cached_at_start = []

    def build(spark, sf_dir):
        cached_at_start.append(cached())
        df = frame().persist()
        df.count()
        return df

    class Stats:
        def group(self, name):
            return {"jobs": 0, "stages": 0, "tasks": 0, "task_s": 0.0,
                    "intervals": [], "shuffle_mb": 0.0, "spill_mb": 0.0}

        def persisted_rdds(self):
            return int(cached())

        def end_op(self):
            pass

    rec = bench.run_query(spark, Stats(), "persists", build, "", runs=3)
    assert "error" not in rec, rec
    assert cached_at_start == [False, False, False]
    assert rec["persisted_rdds"] == 1
    assert not cached()
