#!/usr/bin/env python3
"""Steadiness check: run the benchmark repeatedly and report, per workload
and end-to-end metric, the median, the quartiles and the spread
(Q3 - Q1) / median next to the metric's bound in BENCHMARK.json.

    python3 perfbench/steady.py --seeds 1-10                # one run per seed
    python3 perfbench/steady.py --seeds 7,8 --repeat 5     # each seed 5 times

Spreads are judged as the benchmark's acceptance does: every metric but
setup_s must spread less than its bound (the target is a third of it).
With --repeat, each seed's runs are also judged on their own.
Prints a markdown table.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds_of(text):
    out = []
    for part in text.split(","):
        a, _, b = part.partition("-")
        out += list(range(int(a), int(b) + 1)) if b else [int(a)]
    return out


def run_once(workload, seed, seconds):
    t0 = time.monotonic()
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                        "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", "0"],
                       cwd=ROOT, capture_output=True, text=True, timeout=900)
    last = r.stdout.strip().splitlines()[-1] if r.stdout.strip() else "{}"
    res = json.loads(last)
    if r.returncode != 0 or not res.get("correct"):
        sys.stderr.write(r.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed}: exit {r.returncode}, {last}")
    return res, time.monotonic() - t0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    names = [w["name"] for w in bench["workloads"]]
    ap.add_argument("--workloads", default=",".join(names))
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--repeat", type=int, default=1)
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    print("| workload | metric | seeds | runs | median | Q1 | Q3 | spread | bound | ok |")
    print("|---|---|---|---|---|---|---|---|---|---|")
    seeds = seeds_of(a.seeds)

    def row(w, k, label, xs):
        q1, med, q3 = statistics.quantiles(xs, n=4)
        spread = (q3 - q1) / med if med else 0.0
        ok = k == "setup_s" or spread < bounds[k]
        print(f"| {w} | {k} | {label} | {len(xs)} | {med:.4g} | {q1:.4g} | "
              f"{q3:.4g} | {spread:.3f} | {bounds[k]} | {'yes' if ok else 'NO'} |",
              flush=True)

    for w in a.workloads.split(","):
        vals = {}  # metric -> seed -> values
        for s in seeds:
            for _ in range(a.repeat):
                res, wall = run_once(w, s, bench["run_seconds"])
                for k, v in res["metrics"].items():
                    vals.setdefault(k, {}).setdefault(s, []).append(v["value"])
                print(f"<!-- {w} seed {s}, run wall {wall:.1f} s: " + json.dumps(
                    {k: round(v["value"], 4) for k, v in res["metrics"].items()}) + " -->",
                    flush=True)
        for k, by_seed in vals.items():
            # with repeats, each seed's own spread first, then all pooled
            if a.repeat > 1 and len(seeds) > 1:
                for s in seeds:
                    row(w, k, str(s), by_seed[s])
            row(w, k, a.seeds, [x for s in seeds for x in by_seed[s]])

if __name__ == "__main__":
    main()
