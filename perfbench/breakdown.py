#!/usr/bin/env python3
"""Per-op layer breakdown of every workload, with the tracing overhead.

    python3 perfbench/breakdown.py [--seed N] [--seconds S] [--out FILE]

Runs each workload twice with the same seed, untraced then traced, and
writes one JSON file (default perfbench/results/breakdown.json) holding,
per workload: the untraced end-to-end metrics, the traced run's, their
difference (the tracing overhead), the per-layer metrics, each layer's
mean self time per op, the largest gap between an op's summed self
times and its wall time, and every op's layer self times.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from run import WORKLOADS  # noqa: E402


def run(workload, seed, seconds, trace):
    out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                          "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                         capture_output=True, text=True, check=True)
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--out", default=os.path.join(HERE, "results", "breakdown.json"))
    a = ap.parse_args()
    doc = {"seed": a.seed, "seconds": a.seconds, "workloads": {}}
    for w in WORKLOADS:
        _, plain = run(w, a.seed, a.seconds, 0)
        ctx, traced = run(w, a.seed, a.seconds, 1)
        with open(os.path.join(HERE, "traces", f"{w}-seed{a.seed}.json")) as f:
            ops = json.load(f)["ops"]
        untraced = {k: v["value"] for k, v in plain["metrics"].items()}
        layers = sorted({l for o in ops for l in o["self_ms"]})
        doc["workloads"][w] = {
            "correct": plain["correct"] and traced["correct"],
            "end_to_end_untraced": untraced,
            "end_to_end_traced": ctx["end_to_end"],
            "tracing_overhead": {k: ctx["end_to_end"][k] - v for k, v in untraced.items()},
            "per_layer": {k: v["value"] for k, v in traced["metrics"].items()},
            "mean_self_ms_per_op": {l: statistics.fmean(o["self_ms"].get(l, 0.0) for o in ops)
                                    for l in layers},
            "self_sum_max_error": ctx["self_sum_max_error"],
            "ops": [{"kind": o["kind"], "name": o["name"], "wall_ms": round(o["wall_ms"], 1),
                     "self_ms": {k: round(v, 1) for k, v in o["self_ms"].items()}} for o in ops],
        }
        print(w, "done", file=sys.stderr)
    os.makedirs(os.path.dirname(a.out), exist_ok=True)
    with open(a.out, "w") as f:
        json.dump(doc, f, indent=1)


if __name__ == "__main__":
    main()
