#!/usr/bin/env python3
"""Steadiness self-check: repeat each workload on one commit and report,
for every end-to-end metric, the median, the quartiles and the spread
(interquartile range as a share of the median) against the metric's bound.
With --traced it also runs the traced mode and reports the tracing overhead
(traced op_ms.p50 and ops_per_s against the untraced medians).

    python3 perfbench/steady.py [--runs 10] [--first-seed 1]
        [--workloads etl_and_queries,table_churn] [--traced 2]

Run from the root of a checkout. Prints a markdown table; each run's
figures go to stderr as one JSON line.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def run(workload, seed, seconds, trace):
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, check=True)
    res = json.loads(out.stdout.strip().splitlines()[-1])
    # each run's figures, for a look at drift over time
    print(json.dumps({"workload": workload, "seed": seed, "trace": trace,
                      **{k: v["value"] for k, v in res["metrics"].items()}}), file=sys.stderr)
    return res


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--traced", type=int, default=0, help="traced runs per workload")
    a = ap.parse_args()

    print("| workload | metric | median | q1 | q3 | spread | bound/3 | ok |")
    print("|---|---|---|---|---|---|---|---|")
    for w in a.workloads.split(","):
        res = [run(w, a.first_seed + i, spec["run_seconds"], 0) for i in range(a.runs)]
        assert all(r["correct"] for r in res), f"{w}: an output check failed"
        for m in spec["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in res]
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med
            ok = spread < m["bound"] / 3
            print(f"| {w} | {m['name']} | {med:.4g} | {q1:.4g} | {q3:.4g} | "
                  f"{spread:.3f} | {m['bound'] / 3:.3f} | {'yes' if ok else 'NO'} |")
        if a.traced:
            tr = [run(w, a.first_seed + i, spec["run_seconds"], 1) for i in range(a.traced)]
            for name, base in (("traced.op_ms.p50", "op_ms.p50"), ("traced.ops_per_s", "ops_per_s")):
                t = statistics.median(r["metrics"][name]["value"] for r in tr)
                u = statistics.median(r["metrics"][base]["value"] for r in res)
                print(f"| {w} | tracing overhead {base} | {t / u - 1:+.3f} | | | | | |")
        sys.stdout.flush()


if __name__ == "__main__":
    main()
