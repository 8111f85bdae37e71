#!/usr/bin/env python3
"""Self-test of the benchmark at tiny size (sf0.001 inputs, a 20k-vertex
power-law graph): every workload with the default seed and one other seed,
untraced and traced. Asserts that

  - every end-to-end metric (untraced) and every per-layer metric (traced)
    of BENCHMARK.json is printed, with its unit, and nothing else;
  - no op failed (fail_frac is 0) and every result check passed;
  - in the span file of a traced run, the self times of each op's spans add
    up to no more than the op's wall time.

    python3 perfbench/selftest.py [workload ...]
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402
import run  # noqa: E402

SEEDS = [1, 7]


def bench(workload, seed, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", "2", "--trace", str(trace), "--scale", "tiny"]
    p = subprocess.run(cmd, cwd=CHECKOUT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = p.stdout.strip().splitlines()
    assert p.returncode == 0 and lines, f"{workload} seed {seed} trace {trace}: exit {p.returncode}"
    return json.loads(lines[-2]), json.loads(lines[-1])


def main():
    with open(os.path.join(CHECKOUT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    names = sys.argv[1:] or run.WORKLOADS
    for w in names:
        for seed in SEEDS:
            for trace, wanted in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
                rec, res = bench(w, seed, trace)
                tag = f"{w} seed {seed} trace {trace}"
                assert set(res) == {"correct", "attempted", "failed", "metrics"}, tag
                assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0, \
                    f"{tag}: failures {rec['failures']}"
                got = {k: v["unit"] for k, v in res["metrics"].items()}
                want = {m["name"]: m["unit"] for m in wanted}
                assert got == want, f"{tag}: metrics {sorted(set(got) ^ set(want))} or units differ"
                if trace:
                    spans = os.path.join(build.out_dir(), "traces", f"{w}-s{seed}-t1-tiny.spans.jsonl")
                    ops = 0
                    with open(spans) as fh:
                        for line in fh:
                            r = json.loads(line)
                            if "wall_ms" in r:
                                ops += 1
                                total = sum(r["self_ms"].values())
                                assert total <= r["wall_ms"] + 1e-6, \
                                    f"{tag}: op {r['key']} self {total} > wall {r['wall_ms']}"
                    assert ops > 0, f"{tag}: no traced ops in {spans}"
                print(f"ok  {tag}: {res['attempted']} ops", flush=True)
    print("selftest passed")


if __name__ == "__main__":
    main()
