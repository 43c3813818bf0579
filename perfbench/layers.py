#!/usr/bin/env python3
"""Per-layer table of every workload, with tracing overhead.

    python3 perfbench/layers.py [--seed 7] > perfbench/BASELINE.md

For each workload: one untraced and one traced run on the same seed, each
lasting BENCHMARK.json's run_seconds. The table lists every per-layer metric
the traced run reports as non-zero, and the tracing overhead (traced minus untraced `op_p50_ms` and `ops_per_s`).
"""
import argparse
import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent


def run(workload, seed, seconds, trace):
    p = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=HERE.parent, capture_output=True, text=True, check=True)
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2].split(" ", 1)[1]), json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=7)
    a = ap.parse_args()
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    seconds = spec["run_seconds"]
    workloads = [w["name"] for w in spec["workloads"]]
    res = {w: (run(w, a.seed, seconds, 0), run(w, a.seed, seconds, 1)) for w in workloads}
    h0 = res[workloads[0]][0][0]
    print(f"# Per-layer baseline\n\nSeed {a.seed}, {seconds} s runs, commit {h0['commit']}, "
          f"{h0['nproc']} cores, JVM heap {h0['jvm_heap']}. Generated by `perfbench/layers.py`.\n")
    print("| | " + " | ".join(workloads) + " |\n|---|" + "---|" * len(workloads))
    for label, key, tr in (("untraced op_p50_ms", "op_p50_ms", 0),
                           ("untraced ops_per_s", "ops_per_s", 0)):
        print(f"| {label} | " + " | ".join(
            f"{res[w][tr][1]['metrics'][key]['value']:.4g}" for w in workloads) + " |")
    for label, key in (("tracing overhead op_p50_ms", ("trace.op_p50_ms", "op_p50_ms")),
                       ("tracing overhead ops_per_s", ("trace.ops_per_s", "ops_per_s"))):
        print(f"| {label} | " + " | ".join(
            f"{res[w][1][1]['metrics'][key[0]]['value'] - res[w][0][1]['metrics'][key[1]]['value']:+.4g}"
            for w in workloads) + " |")
    names = list(res[workloads[0]][1][1]["metrics"])
    for n in names:
        vals = [res[w][1][1]["metrics"][n] for w in workloads]
        if any(v["value"] for v in vals):
            print(f"| {n} ({vals[0]['unit']}) | " +
                  " | ".join(f"{v['value']:.4g}" for v in vals) + " |")
    print("\nOps per run (untraced / traced): " + ", ".join(
        f"{w} {res[w][0][1]['attempted']} / {res[w][1][1]['attempted']}" for w in workloads) +
        ". All results correct: " +
        str(all(res[w][t][1]["correct"] for w in workloads for t in (0, 1))) + ".")


if __name__ == "__main__":
    main()
