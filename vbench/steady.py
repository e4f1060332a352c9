#!/usr/bin/env python3
"""Steadiness and layer-separation evidence for the benchmark.

    python3 vbench/steady.py --workloads knn_exact,ivf_iud_dedup --seeds 1-10 --traced 1

Runs ``vbench/run.py`` once per (workload, seed) untraced, and once per
(workload, traced seed) traced, from the root of a checkout.  For every
end-to-end metric it reports the median of the runs and the spread: the
distance between the first and third quartile (``statistics.quantiles``,
n=4) as a share of the median, next to the metric's bound from
BENCHMARK.json.  From the traced runs it builds the layer-share table: the
share of traced op time that each layer's calls took (self time).  The
report is markdown on stdout.
"""

import argparse
import glob
import json
import os
import statistics
import subprocess
import sys
import time


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, float, dict]:
    t = time.monotonic()
    p = subprocess.run([sys.executable, "vbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds),
                        "--trace", str(trace)], capture_output=True, text=True, timeout=900)
    wall = time.monotonic() - t
    if p.returncode != 0:
        sys.exit(f"{workload} seed {seed} trace {trace} exited {p.returncode}:\n{p.stderr[-2000:]}")
    line = json.loads(p.stdout.strip().splitlines()[-1])
    pattern = f".vbench/results/{workload}-s{seed}-t{trace}-*.json"
    record = json.load(open(max(glob.glob(pattern), key=os.path.getmtime)))
    return line, wall, record


def spread(values: list[float]) -> float:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else 0.0


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--workloads", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--traced", default="", help="seeds for traced runs")
    args = p.parse_args()
    bench = json.load(open("BENCHMARK.json"))
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    print(f"# Benchmark steadiness\n\n`python3 vbench/steady.py {' '.join(sys.argv[1:])}`: "
          f"run_seconds {bench['run_seconds']}, host cpus {os.cpu_count()}.\n")
    shares, layers, mean_wall = {}, {}, []
    for w in args.workloads.split(","):
        vals: dict[str, list[float]] = {}
        walls, ops, bad = [], [], 0
        for s in seeds(args.seeds):
            line, wall, rec = run(w, s, bench["run_seconds"], 0)
            walls.append(wall)
            ops.append(line["attempted"])
            bad += line["failed"] + (not line["correct"])
            for k, v in line["metrics"].items():
                vals.setdefault(k, []).append(v["value"])
            print(f"<!-- {w} seed {s}: {wall:.1f}s wall, {json.dumps(line)} -->", flush=True)
        mean_wall.append(statistics.fmean(walls))
        print(f"### {w}\n\n{len(walls)} runs, {sum(walls):.0f} s wall "
              f"(max {max(walls):.1f} s), ops per run {min(ops)}-{max(ops)}, "
              f"failed or incorrect {bad}\n")
        print("| metric | median | IQR/median | bound | within bound/3 |\n|---|---|---|---|---|")
        for k, v in vals.items():
            sp = spread(v)
            b = bounds.get(k)
            print(f"| {k} | {statistics.median(v):.4g} | {sp:.3f} | {b} | "
                  f"{'yes' if b and sp <= b / 3 else 'no'} |")
        print()
        for s in seeds(args.traced) if args.traced else []:
            _, wall, rec = run(w, s, bench["run_seconds"], 1)
            shares[w], layers[w] = rec["layer_share"], rec["per_layer"]
            print(f"<!-- {w} traced seed {s}: {wall:.1f}s wall; per_layer "
                  f"{json.dumps(rec['per_layer'])} -->", flush=True)
    n_runs = 4 + 22 * len(mean_wall)
    print(f"Wall estimate for {n_runs} runs (4 + 22 per workload): {n_runs} x "
          f"{statistics.fmean(mean_wall):.1f} s = {n_runs * statistics.fmean(mean_wall):.0f} s.\n")
    if shares:
        table("Layer shares of traced op time (self time)", "span", shares, "{:.3f}")
        table("Per-layer metrics of the traced run", "metric", layers, "{:.4g}")


def table(title: str, key: str, cols: dict[str, dict], fmt: str) -> None:
    names = list(dict.fromkeys(n for c in cols.values() for n in c))
    print(f"### {title}\n\n| {key} | " + " | ".join(cols) + " |\n|---|" + "---|" * len(cols))
    for n in names:
        print(f"| {n} | " + " | ".join(fmt.format(c.get(n, 0.0)) for c in cols.values()) + " |")
    print()


if __name__ == "__main__":
    main()
