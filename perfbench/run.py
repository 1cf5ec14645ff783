#!/usr/bin/env python3
"""COLF benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload scan --seed 1 --seconds 24 --trace 0

Builds the program from source (see build.py), generates the workload's
inputs from the seed inside the checkout, runs a single closed-loop
client against Spark local[N] (N = min(4, cores)) for the given seconds,
checks every output, and prints as its last line one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones of BENCHMARK.json; with --trace 1 the
per-layer ones, from a traced run. Exits nonzero when the build, the run
or any output check fails.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402

# One run must finish in 180 s; leave room for start-up and checks.
RUN_LIMIT_S = 170
# A fixed, pre-sized heap keeps peak RSS repeatable; -XX:-UsePerfData keeps
# the JVM from writing its hsperfdata file outside the checkout; the
# --add-opens list is what Spark 4 on JDK 17 needs outside spark-submit.
JVM_OPTS = ["-Xmx3g", "-Xms3g", "-XX:+UseParallelGC", "-Xss8m", "-XX:-UsePerfData"] + [
    x for p in ["java.base/java.lang", "java.base/java.lang.invoke",
                "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
                "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
                "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
                "java.base/sun.nio.cs", "java.base/sun.security.action",
                "java.base/sun.util.calendar"]
    for x in ("--add-opens", p + "=ALL-UNNAMED")]


def fail(msg):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(1)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=names)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    try:
        classpath = build.build()
    except build.BuildError as e:
        fail(str(e))
    t0 = time.time()
    cores = min(4, os.cpu_count() or 1)
    runs = os.path.join(ROOT, ".bench_run")
    work = os.path.join(runs, f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    cmd = [build.java(), *JVM_OPTS, f"-Djava.io.tmpdir={work}", "-cp", os.pathsep.join(classpath),
           "graft.perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace), "--cores", str(cores),
           "--work", work, "--out", out,
           "--golden", os.path.join(ROOT, "src", "test", "resources", "golden",
                                    "sample_medium.colf")]
    log_path = os.path.join(work, "jvm.log")
    # a terminated benchmark still stops and waits for its JVM (finally below)
    signal.signal(signal.SIGTERM, lambda *_: fail("terminated"))
    proc = None
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
            try:
                code = proc.wait(timeout=RUN_LIMIT_S - (time.time() - t0))
            except subprocess.TimeoutExpired:
                fail(f"run exceeded {RUN_LIMIT_S} s")
        shutil.copy(log_path, os.path.join(runs, f"last-{a.workload}.log"))
        if code != 0 or not os.path.exists(out):
            with open(log_path) as f:
                sys.stderr.write(f.read()[-3000:])
            fail(f"run exited with code {code}")
        with open(out) as f:
            res = json.load(f)
        errors = list(res["errors"])
        if res.get("oracle"):
            import oracle
            errors += oracle.compare(res["oracle"]["results"], res["oracle"]["data"])
        if a.trace:
            trace = os.path.join(work, f"trace-{a.workload}.jsonl")
            if os.path.exists(trace):
                shutil.copy(trace, os.path.join(runs, f"trace-{a.workload}.jsonl"))
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)

    declared = spec["per_layer"] if a.trace else spec["end_to_end"]
    values = res["per_layer"] if a.trace else res["end_to_end"]
    metrics = {}
    for m in declared:
        v = values.get(m["name"])
        if v is None:
            fail(f"metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    for e in errors:
        sys.stderr.write(f"check failed: {e}\n")
    # Context for the steadiness proof; the result is the last line.
    print(json.dumps({"workload": a.workload, "seed": a.seed, "cycles": res["cycles"],
                      "ops_measured": res["ops_measured"], "sentinel_ms": res["sentinel_ms"],
                      "setup_parts_s": res["setup_parts_s"],
                      "op_ms_by_kind": res["op_ms_by_kind"]}))
    print(json.dumps({"correct": not errors and res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    if errors or not res["correct"]:
        sys.exit(1)


if __name__ == "__main__":
    main()
