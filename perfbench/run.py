#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <etl_and_queries|table_churn>
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
benchmark program (perfbench/jvm, an sbt project of its own) into
`.bench_build`; later runs reuse the build while the sources are unchanged.
Each run starts one JVM on a fresh work dir under `.bench_build`, deletes
the dir afterwards (a traced run keeps its spans as
`.bench_build/spans-<workload>-<seed>.jsonl`), and prints a report line and
then the result line:
one JSON object with `correct`, `attempted`, `failed` and `metrics`.

Extra flags, not used for measurements:
    --corrupt-expected 1   perturb one expected value (self-test)
    --record <file>        query_mix: record outputs instead of checking
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
JVM = HERE / "jvm"
HEAP = "3g"
TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700  # with one run, inside the 900 s a first run may take

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash():
    """Hash of everything the build reads from the checkout."""
    h = hashlib.sha256()
    roots = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             ROOT / "src" / "main", JVM / "build.sbt",
             JVM / "project" / "build.properties", JVM / "src"]
    for r in roots:
        files = sorted(p for p in r.rglob("*") if p.is_file()) if r.is_dir() else [r]
        for p in files:
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def build(out):
    """Compile with sbt once per source state; returns the classpath."""
    stamp, cp_file = out / "stamp", out / "classpath"
    digest = source_hash()
    if stamp.exists() and cp_file.exists() and stamp.read_text() == digest:
        return cp_file.read_text().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "compile", "export perfbench/Runtime/fullClasspath"]
    print("perfbench: building (first run in this checkout)", file=sys.stderr)
    proc = subprocess.run(cmd, cwd=JVM, env=env, stdout=subprocess.PIPE,
                          stderr=subprocess.STDOUT, text=True,
                          timeout=BUILD_TIMEOUT_S, stdin=subprocess.DEVNULL)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    cp_file.write_text(lines[-1].strip())
    stamp.write_text(digest)
    return lines[-1].strip()


def run_jvm(cp, args, work, result):
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:SoftRefLRUPolicyMSPerMB=0",
            f"-Djava.io.tmpdir={work}", "-Dspark.ui.enabled=false",
            f"-Dderby.system.home={work}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--work", str(work), "--out", str(result)]
           + args)
    proc = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL)
    try:
        rc = proc.wait(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {TIMEOUT_S} s")
    if rc != 0 or not result.exists():
        fail(f"benchmark JVM exited with code {rc}")
    return json.loads(result.read_text())


def main():
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main").is_dir():
        fail(f"no engine sources under {ROOT}: run from a full checkout")
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt-expected", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record")
    a = ap.parse_args()
    out = ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    out.mkdir(parents=True, exist_ok=True)
    cp = build(out)

    work = out / f"work-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir()
    # one core stays free for the driver thread, JIT and GC
    cpus = max(1, min(4, (os.cpu_count() or 1) - 1))
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cpus", str(cpus),
            "--corrupt-expected", str(a.corrupt_expected),
            "--expected", str(HERE / "expected" / "query_mix.tsv")]
    if a.record:
        args += ["--record", str(Path(a.record).resolve())]
    try:
        res = run_jvm(cp, args, work, work / "result.json")
        if a.trace:  # keep the traced run's spans beside the build
            shutil.copy(work / "spans.jsonl", out / f"spans-{a.workload}-{a.seed}.jsonl")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    got = res["metrics"]
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in got]
    if missing:
        fail(f"metrics not reported: {missing}")
    print(json.dumps({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                      "rounds": res["rounds"], "kinds": res["kinds"],
                      "setup_reps_s": res["setup_reps_s"], "report": got}))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {m["name"]: {"value": got[m["name"]], "unit": m["unit"]} for m in wanted},
    }))


if __name__ == "__main__":
    main()
