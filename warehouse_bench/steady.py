"""Steadiness check: run every workload of BENCHMARK.json on ten seeds,
one fresh process per run, and print per end-to-end metric the median,
quartiles and relative spread (q3 - q1) / median next to its bound.

    python3 warehouse_bench/steady.py --first-seed 100

With --traced K it also makes K traced runs per workload and prints the
tracing overhead: the traced run's own end-to-end figures against the
untraced medians.  Everything is written to --out as JSON as well.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUNS = 10


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.perf_counter()
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        timeout=600,
    )
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed}: exit {p.returncode}")
    out = json.loads(p.stdout.strip().splitlines()[-1])
    out["wall_s"] = time.perf_counter() - t0
    # run.py's "phases" stderr line: phase times and timed sample counts
    out["phases"] = [ln for ln in p.stderr.splitlines()
                     if ln.startswith("phases ")][-1][len("phases "):]
    return out


def summary(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values)}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--first-seed", type=int, default=100)
    ap.add_argument("--traced", type=int, default=0)
    ap.add_argument("--out", default=os.path.join(ROOT, ".bench_traces",
                                                  "steady.json"))
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    seconds = spec["run_seconds"]
    report = {}
    for w in (w["name"] for w in spec["workloads"]):
        runs = []
        for seed in range(args.first_seed, args.first_seed + RUNS):
            r = run_once(w, seed, seconds, 0)
            runs.append(r)
            print(f"{w} seed {seed}: wall {r['wall_s']:.1f}s "
                  f"failed {r['failed']}/{r['attempted']} " + " ".join(
                      f"{k}={v['value']:.4g}" for k, v in r["metrics"].items())
                  + f" | {r['phases']}", flush=True)
        rep = {"seeds": [args.first_seed, args.first_seed + RUNS - 1],
               "failed_share": sorted({r["failed"] / r["attempted"]
                                       for r in runs}),
               "wall_s": summary([r["wall_s"] for r in runs]),
               "metrics": {}}
        print(f"\n{w}: failed share {rep['failed_share']}, run wall "
              f"median {rep['wall_s']['median']:.1f}s")
        print(f"{'metric':28} {'median':>12} {'q1':>12} {'q3':>12} "
              f"{'spread':>7} {'bound':>6}")
        for name in runs[0]["metrics"]:
            s = summary([r["metrics"][name]["value"] for r in runs])
            rep["metrics"][name] = s
            print(f"{name:28} {s['median']:12.5g} {s['q1']:12.5g} "
                  f"{s['q3']:12.5g} {s['spread']:7.3f} "
                  f"{bounds.get(name, float('nan')):6.2f}")
        traced = []
        for seed in range(args.first_seed, args.first_seed + args.traced):
            run_once(w, seed, seconds, 1)
            with open(os.path.join(ROOT, ".bench_traces",
                                   f"{w}-s{seed}.json")) as f:
                traced.append(json.load(f)["end_to_end"])
        if traced:
            rep["trace_overhead"] = {
                name: statistics.median(t[name]["value"] for t in traced)
                / rep["metrics"][name]["median"] - 1
                for name in traced[0]}
            print("tracing overhead (traced / untraced median - 1): " + ", ".join(
                f"{k} {v:+.1%}" for k, v in rep["trace_overhead"].items()))
        print(flush=True)
        report[w] = rep
    os.makedirs(os.path.dirname(args.out), exist_ok=True)
    with open(args.out, "w") as f:
        json.dump(report, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
