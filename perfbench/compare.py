#!/usr/bin/env python3
"""Compare a parent and a change on the benchmark.

Run alternating pairs (the side that runs first alternates; both sides of a
pair share one seed; every run lasts BENCHMARK.json's run_seconds), then
report:

    python3 perfbench/compare.py run PARENT_CHECKOUT CHANGE_CHECKOUT OUT_DIR \\
        [--workloads serve analytics] [--pairs 10]
    python3 perfbench/compare.py report OUT_DIR/parent OUT_DIR/change

`report` reads the result lines saved by `run` (one JSON file per run) and
prints one row per workload. For each end-to-end metric of BENCHMARK.json:

- `gain`: the change wins at least 9/10 of the pairs (ties count for
  neither) and the medians differ by more than the parent's interquartile
  range;
- `worse`: the change's median is worse than the parent's by more than the
  metric's bound;
- `unresolved`: the parent's interquartile range exceeds the bound, unless
  every change run reads better than every parent run;
- `same`: none of these.

Runs whose result is not `correct` are listed and make their pair void.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent


def spec():
    return json.loads((HERE.parent / "BENCHMARK.json").read_text())


def run_one(checkout, workload, seed, out):
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(spec()["run_seconds"]), "--trace", "0"],
                       cwd=checkout, capture_output=True, text=True, timeout=1200)
    last = p.stdout.strip().splitlines()[-1] if p.returncode == 0 and p.stdout.strip() else None
    out.parent.mkdir(parents=True, exist_ok=True)
    out.write_text(last if last else json.dumps({"correct": False, "error": p.stderr[-2000:]}))


def cmd_run(a):
    out = Path(a.out)
    for w in a.workloads:
        for i in range(a.pairs):
            seed = 1000 + i
            sides = [("parent", a.parent), ("change", a.change)]
            for side, checkout in (sides if i % 2 == 0 else sides[::-1]):
                run_one(checkout, w, seed, out / side / f"{w}-seed{seed}.json")
                print(f"{w} pair {i + 1}/{a.pairs} {side} done", file=sys.stderr)


def load(d):
    runs = {}
    for f in sorted(Path(d).glob("*-seed*.json")):
        w, seed = f.stem.rsplit("-seed", 1)
        runs[(w, int(seed))] = json.loads(f.read_text())
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(pv, cv, better, bound):
    """pv/cv: paired parent/change values (same seeds, same order)."""
    lower = better == "lower"
    p1, pm, p3 = quartiles(pv)
    _, cm, _ = quartiles(cv)
    wins = sum(1 for p, c in zip(pv, cv) if (c < p if lower else c > p))
    iqr = p3 - p1
    gap = (pm - cm) if lower else (cm - pm)
    all_better = (max(cv) < min(pv)) if lower else (min(cv) > max(pv))
    if wins >= 0.9 * len(pv) and gap > iqr:
        v = "gain"
    elif iqr > bound * abs(pm) and not all_better:
        v = "unresolved"
    elif -gap > bound * abs(pm):
        v = "worse"
    else:
        v = "same"
    return f"{v} ({pm:.4g} -> {cm:.4g}, wins {wins}/{len(pv)}, parent IQR {iqr:.3g})"


def cmd_report(a):
    parent, change = load(a.parent), load(a.change)
    s = spec()
    void = [k for k in parent if not parent[k].get("correct")] + \
        [k for k in change if not change[k].get("correct")]
    if void:
        print("not correct (pair void):", ", ".join(f"{w}/seed{n}" for w, n in sorted(set(void))))
    for w in [x["name"] for x in s["workloads"]]:
        seeds = sorted(n for (ww, n) in parent if ww == w and (w, n) in change
                       and (w, n) not in void)
        if not seeds:
            continue
        cells = []
        for m in s["end_to_end"]:
            pv = [parent[(w, n)]["metrics"][m["name"]]["value"] for n in seeds]
            cv = [change[(w, n)]["metrics"][m["name"]]["value"] for n in seeds]
            cells.append(f"{m['name']}: {verdict(pv, cv, m['better'], m['bound'])}")
        print(f"{w} ({len(seeds)} pairs) | " + " | ".join(cells))


def main():
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("parent")
    r.add_argument("change")
    r.add_argument("out")
    r.add_argument("--workloads", nargs="+", default=[x["name"] for x in spec()["workloads"]])
    r.add_argument("--pairs", type=int, default=10)
    p = sub.add_parser("report")
    p.add_argument("parent")
    p.add_argument("change")
    a = ap.parse_args()
    cmd_run(a) if a.cmd == "run" else cmd_report(a)


if __name__ == "__main__":
    main()
