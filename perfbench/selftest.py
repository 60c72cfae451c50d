#!/usr/bin/env python3
"""The benchmark's own test: a deliberately wrong expected value must drive
ok_frac below 1 (correct false, failed > 0) on every workload, and the same
short run without it must pass every check.

    python3 perfbench/selftest.py [--workloads etl_and_queries,table_churn]

Run from the root of a checkout; exits 1 if any expectation fails.
"""
import argparse
import json
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def run(workload, corrupt):
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", "1", "--corrupt-expected", str(corrupt)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, check=True)
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-1]), json.loads(lines[-2])["report"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default="etl_and_queries,table_churn")
    a = ap.parse_args()
    bad = 0
    for w in a.workloads.split(","):
        for corrupt in (1, 0):
            res, report = run(w, corrupt)
            ok_frac = report["ok_frac"]
            want = ok_frac < 1 and not res["correct"] and res["failed"] > 0 if corrupt \
                else ok_frac == 1 and res["correct"] and res["failed"] == 0
            print(f"{w} corrupt={corrupt}: ok_frac={ok_frac:.3f} "
                  f"attempted={res['attempted']} failed={res['failed']} "
                  f"{'PASS' if want else 'FAIL'}")
            bad += not want
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
