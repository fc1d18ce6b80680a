#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

Run from the repository root:

    python3 perfbench/spread.py --runs 10 [--workload adtech_etl ...] [--first-seed 1]
        [--save set1.json] [--against set0.json]

Runs the benchmark once per seed on each workload (untraced) and prints, per
metric, the median and the interquartile range as a share of the median, next
to the metric's bound from BENCHMARK.json. With --against, it also prints how
far each median lies from that earlier set's, in the metric's worse
direction, and names every metric that is worse by more than its bound.
Exits non-zero if any run fails.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workload", action="append")
    ap.add_argument("--save", help="write the report here as JSON")
    ap.add_argument("--against", help="an earlier --save report to compare medians with")
    args = ap.parse_args()
    before = json.load(open(args.against)) if args.against else {}
    workloads = args.workload or [w["name"] for w in spec["workloads"]]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    lower = {m["name"]: m["better"] == "lower" for m in spec["end_to_end"]}
    beyond = []
    report = {}
    for w in workloads:
        values = {}
        for seed in range(args.first_seed, args.first_seed + args.runs):
            cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload", w, "--seed", str(seed),
                   "--seconds", str(spec["run_seconds"]), "--trace", "0"]
            p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            if p.returncode != 0:
                sys.exit(f"{w} seed {seed}: exit {p.returncode}: {p.stdout.strip()[-500:]}")
            res = json.loads(p.stdout.strip().splitlines()[-1])
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
            print(f"{w} seed {seed}: " + ", ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
                  flush=True)
        report[w] = {}
        for k, vs in values.items():
            q1, med, q3 = statistics.quantiles(vs, n=4)
            report[w][k] = {"median": statistics.median(vs), "iqr_share": (q3 - q1) / statistics.median(vs),
                            "bound": bounds.get(k), "values": vs}
            print(f"  {w} {k}: median {statistics.median(vs):.4g}, IQR/median "
                  f"{(q3 - q1) / statistics.median(vs):.3f} (bound {bounds.get(k)})", flush=True)
            if k in before.get(w, {}):
                m0, m1 = before[w][k]["median"], report[w][k]["median"]
                worse = (m1 - m0) / m0 if lower.get(k, True) else (m0 - m1) / m0
                report[w][k]["worse_than_before"] = worse
                print(f"    vs earlier set: median {m0:.4g} -> {m1:.4g}, worse by {worse:+.3f}", flush=True)
                if worse > bounds.get(k, 0):
                    beyond.append(f"{w} {k}")
    print(json.dumps(report))
    if args.save:
        with open(args.save, "w") as f:
            json.dump(report, f, indent=1)
    if beyond:
        print("worse than the earlier set by more than the bound: " + ", ".join(beyond))


if __name__ == "__main__":
    main()
