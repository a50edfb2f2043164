#!/usr/bin/env python3
"""Steadiness check: runs one workload N times, each with its own seed, and
prints each end-to-end metric's median, quartiles and spread (the distance
between the quartiles as a share of the median, as
`statistics.quantiles(values, n=4)` gives them) against its bound in
BENCHMARK.json.

    python3 perfbench/steady.py --workload serve_read --runs 10 --first-seed 1 \
        --save runs_a.json
    python3 perfbench/steady.py --workload serve_read --runs 10 --first-seed 101 \
        --save runs_b.json --against runs_a.json

With --against, it also prints how far each median moved from the earlier
set, as a share of the earlier median; two sets of the same code agree when
every move stays within the metric's bound.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def bench_config():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_once(workload, seed, seconds):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    if r.returncode != 0:
        sys.exit(f"seed {seed}: exit {r.returncode}\n{r.stderr[-2000:]}")
    res = json.loads(r.stdout.strip().splitlines()[-1])
    if not res["correct"]:
        sys.exit(f"seed {seed}: {res['failed']} of {res['attempted']} operations failed")
    return {k: v["value"] for k, v in res["metrics"].items()}


def summarize(runs):
    out = {}
    for name in runs[0]:
        vals = [r[name] for r in runs]
        q1, med, q3 = statistics.quantiles(vals, n=4)
        out[name] = {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else float("inf")}
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--save", help="write the runs' metrics to this JSON file")
    ap.add_argument("--against", help="an earlier --save file of the same workload")
    ap.add_argument("--record", action="store_true",
                    help="append this set's summary to the workload's sets in perfbench/STEADINESS.json")
    args = ap.parse_args()

    cfg = bench_config()
    bounds = {m["name"]: m["bound"] for m in cfg["end_to_end"]}
    runs = []
    for i in range(args.runs):
        runs.append(run_once(args.workload, args.first_seed + i, cfg["run_seconds"]))
        print(f"seed {args.first_seed + i}: " + ", ".join(f"{k}={v:.4g}" for k, v in runs[-1].items()), flush=True)
    summary = summarize(runs)
    if args.save:
        with open(args.save, "w") as f:
            json.dump({"workload": args.workload, "runs": runs, "summary": summary}, f, indent=1)
    if args.record:
        path = os.path.join(HERE, "STEADINESS.json")
        recorded = json.load(open(path)) if os.path.exists(path) else {}
        recorded.setdefault(args.workload, []).append(
            {"runs": args.runs, "first_seed": args.first_seed, "run_seconds": cfg["run_seconds"],
             "metrics": summary})
        with open(path, "w") as f:
            json.dump(recorded, f, indent=1, sort_keys=True)
    earlier = None
    if args.against:
        with open(args.against) as f:
            earlier = json.load(f)["summary"]
    print(f"\n{args.workload}: {args.runs} runs")
    print(f"{'metric':<14} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8} {'bound':>6}"
          + (f"  {'moved':>8}" if earlier else ""))
    for name, s in summary.items():
        line = (f"{name:<14} {s['median']:12.4f} {s['q1']:12.4f} {s['q3']:12.4f} "
                f"{s['spread']:8.4f} {bounds.get(name, float('nan')):6.2f}")
        if earlier:
            moved = (s["median"] - earlier[name]["median"]) / earlier[name]["median"]
            line += f"  {moved:+8.4f}"
        print(line)


if __name__ == "__main__":
    main()
