#!/usr/bin/env python3
"""Per-layer report of one traced run, with the tracing overhead.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0
    python3 perfbench/run.py --workload W --seed N --seconds S --trace 1
    python3 perfbench/report.py --workload W --seed N

Reads both runs' results from perfbench/out and prints the per-layer
metrics, the self time summed per layer (each span minus the part of it
its child spans cover), and for every end-to-end metric the traced value
minus the untraced one: the overhead tracing adds.
"""

import argparse
import json
import os

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    a = ap.parse_args()

    def load(trace):
        path = os.path.join(HERE, "out", f"{a.workload}-seed{a.seed}-trace{trace}.json")
        with open(path) as f:
            return json.load(f)

    plain, traced = load(0), load(1)
    print(f"{a.workload}, seed {a.seed}")
    print("per-layer metrics (traced run):")
    for k, v in traced["per_layer"].items():
        print(f"  {k:40s} {v:14.4f}")
    print("self time per layer (s):")
    for k, v in sorted(traced["layer_self_s"].items(), key=lambda kv: -kv[1]):
        print(f"  {k:40s} {v:14.4f}")
    print("tracing overhead, traced - untraced:")
    for k, v in plain["end_to_end"].items():
        t = traced["end_to_end"][k]
        rel = (t - v) / v if v else float("nan")
        print(f"  {k:40s} {t - v:+14.4f} ({rel:+.1%})")


if __name__ == "__main__":
    main()
