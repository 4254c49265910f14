#!/usr/bin/env python3
"""Traced-run report: for each workload, one untraced and one traced run
at the same seed, then the per-layer table, the tracing overhead (traced
minus untraced wall_s) and the span checks, as JSON and as markdown.

    python3 perfbench/report.py [--seed 42] [--out perfbench/results/traced-seed42.json]
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import metrics  # noqa: E402
import run  # noqa: E402


def one(workload, seed, trace):
    subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                    "--seed", str(seed), "--trace", str(trace)],
                   check=True, stdout=subprocess.DEVNULL)
    with open(os.path.join(HERE, ".work", f"{workload}-s{seed}-t{trace}", "detail.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--out")
    a = ap.parse_args()
    out = a.out or os.path.join(HERE, "results", f"traced-seed{a.seed}.json")
    report = {}
    for w in run.WORKLOADS:
        plain, traced = one(w, a.seed, 0), one(w, a.seed, 1)
        report[w] = {
            "untraced_wall_s": plain["end_to_end"]["wall_s"],
            "traced_wall_s": traced["end_to_end"]["wall_s"],
            "tracing_overhead_s": traced["end_to_end"]["wall_s"] - plain["end_to_end"]["wall_s"],
            "untraced": plain, "traced": traced,
        }
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as f:
        json.dump(report, f, indent=1)
    ws = list(report)
    print("| metric | unit | " + " | ".join(ws) + " |")
    print("|---|---|" + "---|" * len(ws))
    for name, unit, _ in metrics.PER_LAYER:
        print(f"| `{name}` | {unit} | "
              + " | ".join(f"{report[w]['traced']['per_layer'][name]:.4g}" for w in ws) + " |")
    for key in ("untraced_wall_s", "traced_wall_s", "tracing_overhead_s"):
        print(f"| {key} | s | " + " | ".join(f"{report[w][key]:.3f}" for w in ws) + " |")
    print("| spans | count | " + " | ".join(str(report[w]["traced"]["spans"]) for w in ws) + " |")
    print("| nesting errors | count | "
          + " | ".join(str(len(report[w]["traced"]["nesting_errors"])) for w in ws) + " |")
    print("| unattributed jobs | count | "
          + " | ".join(str(report[w]["traced"]["unattributed_jobs"]) for w in ws) + " |")
    for k in ("pass", "query", "build", "execute", "job"):
        print(f"| max subtree residual, {k} | us | "
              + " | ".join(str(report[w]["traced"]["max_residual_us"][k]) for w in ws) + " |")


if __name__ == "__main__":
    main()
