#!/usr/bin/env python3
"""Traced run of each workload, with its accounting and its overhead.

Run from the repository root:

    python3 perfbench/trace_report.py [--seed 7] [--workload adtech_etl ...]

For each workload this makes one untraced and one traced run with the same
seed and writes perfbench/traces/<workload>.json holding:

- the per-layer metrics of the traced run;
- the accounting of the timed passes, from those metrics: each layer's
  `<layer>.self_s` plus `trace.unattributed_s` (op time outside every layer
  span), against `trace.pass_s`, which the ops' own timers measure. The
  residual is op time that no span saw;
- the tracing overhead: traced minus untraced value of every end-to-end
  metric (end-to-end figures themselves always come from untraced runs);
- the spans of the timed passes.
"""
import argparse
import json
import os
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def run(workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    if p.returncode != 0:
        sys.exit(f"{workload} trace={trace}: exit {p.returncode}: {p.stdout.strip()[-500:]}")
    result = json.loads(p.stdout.strip().splitlines()[-1])
    return {k: v["value"] for k, v in result["metrics"].items()}, result["correct"]


def accounting(per_layer):
    """The timed pass's op-timer wall against the layers' self times."""
    layers = {k[:-len(".self_s")]: v for k, v in per_layer.items()
              if k.endswith(".self_s") and not k.startswith("gen.")}
    pass_s, unattributed = per_layer["trace.pass_s"], per_layer["trace.unattributed_s"]
    return {
        "pass_s": pass_s,
        "layer_self_s": layers,
        "unattributed_s": unattributed,
        "residual_s": pass_s - sum(layers.values()) - unattributed,
    }


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--workload", action="append")
    args = ap.parse_args()
    os.makedirs(os.path.join(BENCH, "traces"), exist_ok=True)
    for w in args.workload or [x["name"] for x in spec["workloads"]]:
        plain, plain_ok = run(w, args.seed, spec["run_seconds"], 0)
        traced, traced_ok = run(w, args.seed, spec["run_seconds"], 1)
        with open(os.path.join(BENCH, "out", f"detail-{w}-{args.seed}-t1.json")) as f:
            detail = json.load(f)
        with open(os.path.join(BENCH, "out", f"spans-{w}-{args.seed}-t1.jsonl")) as f:
            spans = sorted((json.loads(l) for l in f if l.strip()), key=lambda s: s["start_ns"])
        timed = [s for s in spans if s["pass"] >= 0]
        acct = accounting(traced)
        e2e_traced = detail["end_to_end"]
        report = {
            "workload": w,
            "seed": args.seed,
            "cores": detail["cores"],
            "correct": plain_ok and traced_ok,
            "end_to_end_untraced": plain,
            "end_to_end_traced": e2e_traced,
            "tracing_overhead": {k: e2e_traced[k] - plain[k] for k in plain},
            "accounting": acct,
            "per_layer": traced,
            "timed_spans": [{k: s[k] for k in ("id", "parent", "layer", "kind", "name", "pass", "op")}
                            | {"start_s": (s["start_ns"] - timed[0]["start_ns"]) / 1e9,
                               "seconds": (s["end_ns"] - s["start_ns"]) / 1e9} for s in timed],
        }
        path = os.path.join(BENCH, "traces", f"{w}.json")
        with open(path, "w") as f:
            json.dump(report, f, indent=1)
            f.write("\n")
        print(f"{w}: pass {acct['pass_s']:.3f} s = layers {sum(acct['layer_self_s'].values()):.3f} s"
              f" + unattributed {acct['unattributed_s']:.3f} s (residual {acct['residual_s']:.2e} s); "
              f"overhead {report['tracing_overhead']} -> {os.path.relpath(path, ROOT)}")


if __name__ == "__main__":
    main()
