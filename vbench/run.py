#!/usr/bin/env python3
"""Benchmark of the bigvectorbench_spark engine: one workload, one seed.

    python3 vbench/run.py --workload knn_exact --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout.  It generates the workload's inputs from
the seed (cached under ``.vbench/data``), starts a ``local[nproc]`` Spark
session sized to the host, builds what the workload needs, runs the
workload's untimed warm-up ops, and then runs ops in a closed loop with one
client until the ops have taken ``--seconds`` in total, and at least three
ops.  Every op's output is checked against numpy truth.  The last stdout
line is one JSON object: ``{"correct", "attempted", "failed", "metrics"}``
with the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``).  A full record (settings, per-op latencies, failures,
layer shares) goes to ``.vbench/results/`` and the spans of a traced run
beside it.

``trace.overhead`` compares the traced run's p50 with that of the latest
untraced run of the same workload in this checkout, the same seed first.
"""

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import glob  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from spans import RssSampler, SparkStats, Tracer, busy_union, process_tree  # noqa: E402
import gen  # noqa: E402
from workloads import WORKLOADS, CheckFailed  # noqa: E402

KEEP_SEEDS = 2  # generated data sets kept per workload
MIN_OPS = 3  # a median of at least three ops

PER_OP_COUNTS = {  # layer -> per-op Spark totals reported for it
    "knn": ("jobs", "stages", "tasks", "task_s", "input_mb", "shuffle_mb", "gc_s"),
    "similarity": ("jobs", "tasks"),
    "filter_knn": ("jobs", "task_s", "shuffle_mb"),
    "dedup": ("jobs", "task_s", "shuffle_mb", "spill_mb"),
}
SETUP_SPANS = {"session.start": "session.start_s", "sources.load": "sources.load_s",
               "warmup": "warmup_s", "similarity.fit": "similarity.fit_s",
               "similarity.write": "similarity.write_s",
               "mutation.bulk_load": "mutation.bulk_load_s"}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def host_settings(root: str, run_dir: str) -> dict:
    """Environment and Spark confs fitted to this host, set before the JVM
    starts.  Every run gets fresh local, index-cache, temp and warehouse
    directories so no artifact of an earlier run can be reused."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_gb = int(f.readline().split()[1]) / 2**20
    # a quarter of the host, at most 6g: a 6g heap peaked at 2.5-2.9 GB RSS
    heap_gb = max(1, min(6, int(mem_gb // 4)))
    dirs = {d: os.path.join(run_dir, d) for d in ("local", "index_cache", "tmp", "warehouse")}
    for d in dirs.values():
        os.makedirs(d)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_gb}g",
        "SPARK_LOCAL_DIRS": dirs["local"],
        "SPARK_GRAFT_INDEX_CACHE": dirs["index_cache"],
        "TMPDIR": dirs["tmp"],
        # the launcher JVM that spark-submit starts first takes only these
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={dirs['tmp']}",
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(filter(None, [root, os.environ.get("PYTHONPATH")])),
    }
    os.environ.update(env)
    tempfile.tempdir = dirs["tmp"]
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": dirs["warehouse"],
        "spark.driver.host": "127.0.0.1",
        "spark.driver.bindAddress": "127.0.0.1",
        # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_*
        "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={dirs['tmp']}",
    }
    return {"cpus": cpus, "host_mem_gb": round(mem_gb, 1), "env": env, "confs": confs}


def prune_data(work: str, workload: str, keep: str) -> None:
    root = os.path.join(work, "data")
    old = sorted((d for d in os.listdir(root) if d.startswith(workload + "-")
                  and os.path.join(root, d) != keep),
                 key=lambda d: os.path.getmtime(os.path.join(root, d)))
    for d in old[:max(0, len(old) - (KEEP_SEEDS - 1))]:
        shutil.rmtree(os.path.join(root, d), ignore_errors=True)


def stop_spark(spark) -> None:
    """Stop the session, the JVM gateway and every process they started,
    and wait until each has ended."""
    from pyspark import SparkContext
    tree = process_tree(os.getpid())[1:]
    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        gw.shutdown()
        gw.proc.stdin.close()  # the gateway exits when its stdin closes
        try:
            gw.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            gw.proc.kill()
            gw.proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    for pid in tree:
        while _alive(pid):
            if time.monotonic() > deadline:
                os.kill(pid, signal.SIGKILL)
                deadline = time.monotonic() + 5
            time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def tail(lat: list[float]) -> tuple[float, float, int]:
    """Latency at the highest percentile with at least 10 samples beyond it
    (the maximum when there are 10 or fewer ops), that percentile, and the
    number of samples beyond it."""
    s = sorted(lat)
    idx = len(s) - 11 if len(s) > 10 else len(s) - 1
    return s[idx], 100.0 * (idx + 1) / len(s), len(s) - 1 - idx


def untraced_p50(results_dir: str, workload: str, seed: int) -> float | None:
    """p50_s of the latest untraced run of ``workload`` here, same seed first."""
    for pattern in (f"{workload}-s{seed}-t0-*.json", f"{workload}-s*-t0-*.json"):
        found = glob.glob(os.path.join(results_dir, pattern))
        if found:
            with open(max(found, key=os.path.getmtime)) as f:
                return json.load(f)["end_to_end"]["p50_s"]
    return None


def layer_metrics(w, tr: Tracer, recs: list[dict], cpus: int, plain_p50) -> dict:
    """Per-layer metrics: medians over the ops, and the set-up spans.
    Layers the workload does not run read 0."""
    med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
    spans = tr.spans
    dur = {i: s["end"] - s["start"] for i, s in enumerate(spans)}
    m = {}
    for name, key in SETUP_SPANS.items():
        m[key] = sum(d for i, d in dur.items() if spans[i]["op"] is None
                     and spans[i]["name"] == name and spans[i]["parent"] is None)
    for layer in ("knn", "similarity", "filter_knn", "dedup"):
        for part in ("call", "action"):
            m[f"{layer}.{part}_s"] = med([r["spans"][f"{layer}.{part}"]
                                          for r in recs if f"{layer}.{part}" in r["spans"]])
        for c in PER_OP_COUNTS.get(layer, ()):
            m[f"{layer}.{c}"] = med([r["layers"][layer][c] for r in recs
                                     if layer in r["layers"]])
    m["similarity.rows_per_result"] = med([
        r["layers"]["similarity"]["input_records"] / (gen.QUERIES_PER_OP * gen.K)
        for r in recs if "similarity" in r["layers"]])
    appends = [s["end"] - s["start"] for s in spans
               if s["name"] == "mutation.append" and s["op"] is not None]
    m["mutation.append_us"] = med(appends) * 1e6
    m["mutation.log_rows"] = med([r["log_rows"] for r in recs if "log_rows" in r])
    m["mutation.snapshot_call_s"] = med([r["spans"]["mutation.snapshot"] for r in recs
                                         if "mutation.snapshot" in r["spans"]])
    m["mutation.checkpoint_s"] = med([r["spans"]["mutation.checkpoint"] for r in recs
                                      if "mutation.checkpoint" in r["spans"]])
    for k in ("similarity.index_mb", "similarity.index_files", "mutation.base_mb",
              "dedup.candidates_per_pair"):
        m[k] = 0.0
    m["spark.persisted_rdds"] = recs[-1]["persisted_rdds"]
    m["spark.driver_s"] = med([r["driver_s"] for r in recs])
    m["spark.busy_ratio"] = med([r["task_s"] / (r["lat"] * cpus) for r in recs])
    m["trace.overhead"] = med([r["lat"] for r in recs]) / plain_p50 - 1.0 if plain_p50 else 0.0
    return m


def layer_shares(tr: Tracer, recs: list[dict]) -> dict:
    """Share of op time spent in each span name's own (self) time;
    the op span's own remainder is the harness's share."""
    own = tr.self_times()
    total = sum(r["lat"] for r in recs)
    shares: dict[str, float] = {}
    for s, t in zip(tr.spans, own):
        if s["op"] is not None:
            name = "harness" if s["name"] == "op" else s["name"]
            shares[name] = shares.get(name, 0.0) + t
    return {k: v / total for k, v in sorted(shares.items())} if total else {}


def op_stats(stats: SparkStats, tr: Tracer, first_span: int) -> dict:
    """Spark totals per layer for the spans of one op, plus the op's
    driver-only time and total task time."""
    spans = tr.spans[first_span:]
    rec = {"spans": {}, "layers": {}, "intervals": []}
    for s in spans:
        if s["name"] != "op" and s["parent"] is not None and spans[0]["name"] == "op":
            rec["spans"][s["name"]] = rec["spans"].get(s["name"], 0.0) + s["end"] - s["start"]
        if s["group"] is None:
            continue
        g = stats.group(s["group"])
        layer = rec["layers"].setdefault(s["name"].split(".")[0], {})
        for k, v in g.items():
            if k == "intervals":
                rec["intervals"].extend(v)
            else:
                layer[k] = layer.get(k, 0) + v
    op_dur = spans[0]["end"] - spans[0]["start"]
    rec["driver_s"] = max(0.0, op_dur - busy_union(rec.pop("intervals")))
    rec["task_s"] = sum(l_["task_s"] for l_ in rec["layers"].values())
    rec["persisted_rdds"] = stats.persisted_rdds()
    stats.end_op()
    return rec


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "bigvectorbench_spark", "__init__.py")):
        print("vbench: no bigvectorbench_spark package here; run from the root "
              "of a checkout", file=sys.stderr)
        return 2
    work = os.path.join(root, ".vbench")
    data_dir = os.path.join(work, "data", f"{args.workload}-{args.seed}")
    run_dir = os.path.join(work, "run", str(os.getpid()))
    results_dir = os.path.join(work, "results")
    for d in (data_dir, run_dir, results_dir):
        os.makedirs(d, exist_ok=True)
    prune_data(work, args.workload, data_dir)
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    settings = host_settings(root, run_dir)
    sys.path.insert(0, root)

    w = WORKLOADS[args.workload](args.seed, data_dir, run_dir, settings["cpus"])
    t = time.perf_counter()
    w.generate()
    off_clock = time.perf_counter() - t  # generation is not set-up

    trace = bool(args.trace)
    tr = Tracer(None, enabled=trace)
    recs, deferred = [], []
    try:
        with RssSampler() as rss:
            with tr.span("session.start"):
                from bigvectorbench_spark import get_spark
                spark = get_spark("vbench", **settings["confs"])
            sc = spark.sparkContext
            sc.setLogLevel("ERROR")
            tr.sc = sc
            stats = SparkStats(sc) if trace else None
            w.setup(spark, tr)
            for i in range(w.warmup_ops):
                t = time.perf_counter()
                prep = w.prepare(i)
                off_clock += time.perf_counter() - t
                with tr.span("warmup"):
                    w.run(spark, tr, prep)
            setup_s = time.perf_counter() - T0 - off_clock

            clock, i = 0.0, w.warmup_ops
            while clock < args.seconds or len(recs) < MIN_OPS:
                prep = w.prepare(i)
                tr.op = i
                first_span = len(tr.spans)
                err, out = None, None
                t = time.perf_counter()
                try:
                    with tr.span("op"):
                        out = w.run(spark, tr, prep)
                except Exception as e:  # an op that raises is counted, not fatal
                    err = f"{type(e).__name__}: {(str(e).strip().splitlines() or [''])[0]}"
                lat = time.perf_counter() - t
                clock += lat
                rec = {"i": i, "lat": lat, "error": err}
                if trace:
                    rec.update(op_stats(stats, tr, first_span), **w.op_counters(prep))
                if err is None:
                    if w.defer_verify:
                        deferred.append((rec, i, prep, out))
                    else:
                        _verify(w, rec, i, prep, out)
                recs.append(rec)
                i += 1
        t_loop = time.perf_counter()
        extras = w.layer_extras(spark, tr, out) if trace else {}
        space_amp = w.space_amp()
    finally:
        if "spark" in locals():
            stop_spark(spark)
    t_stop = time.perf_counter()
    if deferred:  # the first check loads the base vectors, the rest share them
        _verify(w, *deferred[0])
        with ThreadPoolExecutor(settings["cpus"]) as pool:  # numpy releases the GIL
            list(pool.map(lambda d: _verify(w, *d), deferred[1:]))
    phases = {"generate_and_prepare_s": off_clock, "setup_s": setup_s,
              "loop_s": t_loop - T0 - off_clock - setup_s,
              "extras_and_stop_s": t_stop - t_loop,
              "deferred_verify_s": time.perf_counter() - t_stop}

    lat = [r["lat"] for r in recs]
    failed = sum(r["error"] is not None for r in recs)
    recalls = [r["recall"] for r in recs if "recall" in r]
    t_s, t_pct, t_beyond = tail(lat)
    e2e = {"setup_s": setup_s,
           "qps": w.items_per_op * len(recs) / clock,
           "p50_s": statistics.median(lat),
           "tail_s": t_s,
           "recall": statistics.fmean(recalls) if recalls else 0.0,
           "space_amp": space_amp,
           "peak_rss_mb": rss.peak_mb}
    record = {"args": vars(args), "settings": settings, "phases": phases,
              "rss_at_peak_mb": rss.at_peak, "ops": recs,
              "tail": {"percentile": t_pct, "samples_beyond": t_beyond, "ops": len(lat)},
              "error_rate": failed / len(recs),
              "errors": [r["error"] for r in recs if r["error"]],
              "end_to_end": e2e}
    if trace:
        plain_p50 = untraced_p50(results_dir, args.workload, args.seed)
        layer = layer_metrics(w, tr, recs, settings["cpus"], plain_p50)
        record["untraced_p50_s"] = plain_p50
        layer.update(extras)
        record["per_layer"] = layer
        record["layer_share"] = layer_shares(tr, recs)
        declared, values = bench["per_layer"], layer
    else:
        declared, values = bench["end_to_end"], e2e
    if {m["name"] for m in declared} != set(values):
        raise SystemExit(f"vbench: metrics differ from BENCHMARK.json: "
                         f"{sorted({m['name'] for m in declared} ^ set(values))}")
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared}
    stem = os.path.join(results_dir, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    with open(stem + ".json", "w") as f:
        json.dump(record, f, indent=1, default=float)
    if trace:
        with open(stem + ".spans.jsonl", "w") as f:
            for s in tr.spans:
                f.write(json.dumps(s) + "\n")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.utime(data_dir)
    print(f"vbench: {args.workload} seed {args.seed}: {len(recs)} ops, {failed} failed; "
          f"record in {stem}.json", file=sys.stderr)
    print(json.dumps({"correct": failed == 0, "attempted": len(recs), "failed": failed,
                      "metrics": metrics}))
    return 0


def _verify(w, rec, i, prep, out) -> None:
    """Check one op's output; a failed check or an output the check cannot
    read (an unknown id, say) marks the op failed."""
    try:
        rec["recall"] = w.verify(i, prep, out)
    except CheckFailed as e:
        rec["error"] = f"check: {e}"
    except Exception as e:  # noqa: BLE001 - malformed output is a failed op
        rec["error"] = f"check: {type(e).__name__}: {e}"


if __name__ == "__main__":
    sys.exit(main())
