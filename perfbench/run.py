#!/usr/bin/env python3
"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload snb_mixed --seed 1 --seconds 5 --trace 0

Builds the engine and the benchmark program from source (perfbench/build.py),
writes the seeded inputs (gen.py), then runs perfbench.Main in one JVM on
local[nproc] with a fresh scratch root (the inputs, Spark local dirs and
java.io.tmpdir, which holds the engine's graft_mv / graft_ckpt directories),
deleted at exit. Prints the run record (machine stamp, setup split,
failures) and, as the last line, the result object {"correct", "attempted",
"failed", "metrics"}. Exits non-zero when the build fails, a check fails or
the run does not finish in time.
Spans of traced runs and the run records are kept under
$CARGO_TARGET_DIR/perfbench (default .bench_build/perfbench).
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

import build
import gen

WORKLOADS = ["snb_read", "snb_mixed", "algo_kernel", "algo_dist"]
TIMEOUT_S = 170
SCALE_FACTOR = {"full": 0.005, "tiny": 0.001}
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["full", "tiny"], default="full")
    a = ap.parse_args()

    classes, jars = build.build()
    keep = build.out_dir()
    for d in ("runs", "traces", "records"):
        os.makedirs(os.path.join(keep, d), exist_ok=True)
    root = tempfile.mkdtemp(prefix=f"{a.workload}-s{a.seed}-", dir=os.path.join(keep, "runs"))
    name = f"{a.workload}-s{a.seed}-t{a.trace}-{a.scale}"
    out = os.path.join(root, "record.json")
    cmd = (["java", "-Xmx3g", "-Xss16m", "-XX:+UseParallelGC", "-XX:-UsePerfData"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={root}/tmp", "-Dspark.ui.enabled=false",
              "-Dlog4j2.configurationFile=" + os.path.join(build.HERE, "log4j2.properties"),
              "-cp", os.pathsep.join([classes] + jars), "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--root", root, "--out", out, "--scale", a.scale])
    os.makedirs(os.path.join(root, "tmp"))
    t0 = time.monotonic()
    try:
        if a.workload != "algo_dist":
            gen.tpch(os.path.join(root, "data"), SCALE_FACTOR[a.scale], a.seed)
    except BaseException:
        shutil.rmtree(root, ignore_errors=True)
        raise
    inputs_s = time.monotonic() - t0
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, start_new_session=True)

    def stop(why):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(root, ignore_errors=True)
        sys.exit(f"run: {name} {why}")
    signal.signal(signal.SIGTERM, lambda *_: stop("was stopped"))
    signal.signal(signal.SIGINT, lambda *_: stop("was stopped"))
    try:
        code = proc.wait(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        stop(f"did not finish in {TIMEOUT_S} s")
    try:
        if not os.path.isfile(out):
            sys.exit(f"run: {name} exited {code} without a record")
        with open(out) as fh:
            rec = json.load(fh)
        rec["setup"]["inputs_s"] = inputs_s
        with open(os.path.join(keep, "records", name + ".json"), "w") as fh:
            json.dump(rec, fh)
        if os.path.isfile(out + ".spans.jsonl"):
            shutil.copy(out + ".spans.jsonl", os.path.join(keep, "traces", name + ".spans.jsonl"))
    finally:
        shutil.rmtree(root, ignore_errors=True)
    print(json.dumps(rec))
    print(json.dumps({k: rec[k] for k in ("correct", "attempted", "failed", "metrics")}))
    sys.exit(code)


if __name__ == "__main__":
    main()
