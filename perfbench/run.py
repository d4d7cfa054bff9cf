#!/usr/bin/env python3
"""graft's benchmark.

Usage (from the repository root):
  python3 perfbench/run.py --workload live|bank --seed N \
      --seconds S --trace 0|1

Builds the program and the harness (perfbench/build.py), runs one workload
in a fresh JVM on `GraftSession.builder()` with a single closed-loop
client, checks the outputs, and prints one JSON line last on stdout:
`correct`, `attempted`, `failed` and `metrics` — the end-to-end metrics of
BENCHMARK.json with `--trace 0`, its per-layer metrics with `--trace 1`.
The full record (every metric, the checks' findings and the host
fingerprint) goes to stderr and to .bench_build/graft/records/, with a
traced run's spans beside it.
"""
import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402

WORKLOADS = ("live", "bank")
JVM_TIMEOUT_S = 165

# what spark-submit passes on JDK 17 (JavaModuleOptions)
ADD_OPENS = [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def source_id(digest):
    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
        if sha.returncode == 0:
            return sha.stdout.strip()
    except OSError:
        pass
    return "sources:" + digest[:16]


def run_jvm(classpath, run_dir, args):
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    cmd = ["java", "-Xmx4g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
           "-Dspark.ui.enabled=false", *ADD_OPENS, "-cp", classpath,
           "graft.perfbench.Main", "--run-dir", run_dir, *args]
    try:
        return subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr,
                              timeout=JVM_TIMEOUT_S).returncode
    except subprocess.TimeoutExpired:
        print(f"run: the JVM did not finish within {JVM_TIMEOUT_S} s", file=sys.stderr)
        return 1


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", choices=("0", "1"), default="0")
    a = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    classpath, digest = build.build()
    base = os.path.join(build.OUT, "runs")
    data_dir = os.path.join(build.OUT, "data", "sf0.1-" + digest[:16])
    os.makedirs(os.path.dirname(data_dir), exist_ok=True)
    name = f"{a.workload}-s{a.seed}-t{a.trace}"
    run_dir = os.path.join(base, f"{name}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    t0 = time.time()
    try:
        result = os.path.join(run_dir, "result.json")
        rc = run_jvm(classpath, run_dir, [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--data-dir", data_dir, "--result", result])
        if rc != 0 or not os.path.exists(result):
            print(f"run: the benchmark JVM failed (exit {rc})", file=sys.stderr)
            return 1
        with open(result) as fh:
            rec = json.load(fh)
        if a.workload == "bank":
            import oracle  # reads scripts/local_verify.py, the repository's gate
            n, bad = oracle.check(data_dir, os.path.join(run_dir, "bank-out"))
            rec["attempted"] += n
            rec["failed"] += len(bad)
            rec["problems"] += [f"oracle {b}" for b in bad]
            rec["correct"] = rec["failed"] == 0
        rec["host"].update({"source": source_id(digest), "machine": platform.machine(),
                            "cpu_count": str(os.cpu_count())})
        rec["workload"], rec["seed"], rec["trace"] = a.workload, a.seed, int(a.trace)
        rec["wall_s"] = time.time() - t0
        records = os.path.join(build.OUT, "records")
        os.makedirs(records, exist_ok=True)
        with open(os.path.join(records, f"{name}.json"), "w") as fh:
            json.dump(rec, fh, indent=1)
        spans = os.path.join(run_dir, "spans.jsonl")
        if os.path.exists(spans):
            shutil.move(spans, os.path.join(records, f"{name}.spans.jsonl"))
        print(json.dumps(rec), file=sys.stderr)

        wanted = spec["per_layer"] if a.trace == "1" else spec["end_to_end"]
        metrics = {}
        for m in wanted:
            got = rec["metrics"].get(m["name"])
            if got is None and a.trace == "0":
                print(f"run: end-to-end metric {m['name']} missing", file=sys.stderr)
                return 1
            # a per-layer metric of a layer this workload never enters is 0
            metrics[m["name"]] = {"value": got["value"] if got else 0.0, "unit": m["unit"]}
        line = {"correct": rec["correct"], "attempted": rec["attempted"],
                "failed": rec["failed"], "metrics": metrics}
        sys.stdout.write(json.dumps(line) + "\n")
        return 0
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
