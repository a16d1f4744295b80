#!/usr/bin/env python3
"""Steadiness and host record of the benchmark.

Runs every workload of BENCHMARK.json once per seed with tracing off, then
a few traced runs, and writes a markdown record: host facts, each
end-to-end metric's median and quartile spread (IQR / median, the measure
the bounds in BENCHMARK.json are checked against), the traced per-layer
medians, and the tracing overhead (traced vs untraced median op time).

Usage (from the repository root):
  python3 perfbench/steadiness.py --runs 10 --traced 3 --out perfbench/STEADINESS.md
"""
import sys

sys.dont_write_bytecode = True

import argparse
import json
import os
import platform
import statistics
import subprocess
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(spec, workload, seed, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(spec["run_seconds"]), "--trace", str(trace)]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    wall = time.time() - t0
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.exit(f"{workload} seed {seed} failed:\n{p.stdout[-4000:]}")
    host = next((l.split("host: ", 1)[1] for l in lines if "] host: " in l), "")
    return json.loads(lines[-1]), wall, host


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--traced", type=int, default=3)
    ap.add_argument("--seed0", type=int, default=1000)
    ap.add_argument("--workloads", nargs="*")
    ap.add_argument("--out", default=os.path.join(HERE, "STEADINESS.md"))
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = args.workloads or [w["name"] for w in spec["workloads"]]
    out = ["# Steadiness and host record", "",
           f"Written by `perfbench/steadiness.py` on {time.strftime('%Y-%m-%d')}: "
           f"{args.runs} untraced runs per workload (seeds {args.seed0}..{args.seed0 + args.runs - 1}, "
           f"{spec['run_seconds']} s each) and {args.traced} traced runs.", ""]
    host = ""
    walls = []
    for w in workloads:
        untraced, traced = [], []
        for i in range(args.runs):
            r, wall, host = run(spec, w, args.seed0 + i, 0)
            untraced.append(r)
            walls.append(wall)
            print(f"{w} seed {args.seed0 + i}: {wall:.0f} s {json.dumps(r)[:200]}", flush=True)
        for i in range(args.traced):
            r, wall, host = run(spec, w, args.seed0 + i, 1)
            traced.append(r)
            walls.append(wall)
        out += [f"## {w}", "",
                f"Ops per run: {', '.join(str(r['attempted']) for r in untraced)}; "
                f"failed: {sum(r['failed'] for r in untraced)}; "
                f"all correct: {all(r['correct'] for r in untraced)}.", "",
                "| metric | unit | median | IQR/median | bound | within a tenth |",
                "|---|---|---|---|---|---|"]
        for m in spec["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in untraced]
            sp = spread(vals)
            out.append(f"| {m['name']} | {m['unit']} | {statistics.median(vals):.4g} | "
                       f"{sp:.3f} | {m['bound']} | {'yes' if sp <= 0.1 else 'no'} |")
        p50 = statistics.median(r["metrics"]["op_p50_s"]["value"] for r in untraced)
        tp50 = statistics.median(r["metrics"]["trace.op_p50_s"]["value"] for r in traced)
        out += ["", f"Tracing overhead: traced median op {tp50:.4g} s vs untraced {p50:.4g} s "
                    f"({100 * (tp50 / p50 - 1):+.1f}%).", "",
                "Per-layer medians of the traced runs (layers this workload does not run are omitted):", "",
                "| metric | unit | median |", "|---|---|---|"]
        for m in spec["per_layer"]:
            vals = [r["metrics"][m["name"]]["value"] for r in traced]
            if any(vals):
                out.append(f"| {m['name']} | {m['unit']} | {statistics.median(vals):.4g} |")
        out.append("")
    n_runs = 4 + 22 * len(spec["workloads"])
    out += ["## Host", "",
            f"{host}; {platform.platform()}; python {platform.python_version()}.", "",
            f"Mean wall time per run, set-up and checks included: {statistics.mean(walls):.1f} s; "
            f"{n_runs} runs take about {n_runs * statistics.mean(walls):.0f} s.", ""]
    with open(args.out, "w") as f:
        f.write("\n".join(out))
    print("\n".join(out))


if __name__ == "__main__":
    main()
