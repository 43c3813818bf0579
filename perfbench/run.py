#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the checkout's library
together with the benchmark driver (perfbench/build.sbt, output under
.bench_build/) and generates the input tables (perfbench/gen_data.py, under
.bench_data/); later runs reuse both while their sources are unchanged. Each
run then starts the driver JVM in a fresh working directory under
.bench_work/, which is deleted afterwards.

The driver sets up (three times, from empty working state), warms up once,
runs seeded ops in a closed loop for --seconds, and writes every op's latency
and result.
This script checks every result against DuckDB (checks.py), computes the
metrics, writes the full record to .bench_work/results/, prints one line of
run hygiene and, as the last line, the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer metrics
(BENCHMARK.json lists both; README.md defines them).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import checks  # noqa: E402
import metrics  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("serve", "analytics")
JVM_TIMEOUT_S = 150
HEAP = "3g"
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def tree_hash(paths):
    h = hashlib.sha256()
    for base in paths:
        files = [base] if base.is_file() else sorted(p for p in base.rglob("*") if p.is_file())
        for p in files:
            if "target" in p.relative_to(ROOT).parts:
                continue
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def spark_home():
    """$SPARK_HOME, else the Spark install whose bin/ on PATH has spark-submit
    beside a jars/ directory (a pip-installed spark-submit has none)."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in map(Path, os.environ.get("PATH", "").split(os.pathsep)):
        if (d / "spark-submit").is_file() and (d.parent / "jars").is_dir():
            return str(d.parent)
    raise SystemExit("perfbench: no Spark install found (set SPARK_HOME)")


def build():
    """Compile the checkout's library plus the driver; returns the classpath.

    Every source stamp gets its own sbt output directory, so a cached
    classpath always points at classes compiled from the sources it names,
    also when several checkouts share one build directory."""
    out = Path(os.environ.get("CARGO_TARGET_DIR") or ROOT / ".bench_build")
    if not out.is_absolute():
        out = ROOT / out
    stamp = tree_hash([ROOT / "src" / "main", HERE / "src", HERE / "build.sbt",
                       HERE / "project" / "build.properties"])
    cp_file = out / f"classpath-{stamp[:16]}.txt"
    if cp_file.exists():
        return cp_file.read_text().strip()
    out.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env["SPARK_HOME"] = spark_home()
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + str(Path.home() / ".sbt" / "repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    t0 = time.time()
    p = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true",
                        f"-Dperfbench.target={out / f'sbt-{stamp[:16]}'}", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, capture_output=True, text=True, timeout=800,
                       stdin=subprocess.DEVNULL)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise SystemExit("perfbench: build failed")
    cp = [ln for ln in p.stdout.splitlines() if ln.startswith("/") and ".jar" in ln][-1].strip()
    cp_file.write_text(cp)
    log(f"built in {time.time() - t0:.0f} s")
    return cp


def data_dir():
    gen = HERE / "gen_data.py"
    tag = hashlib.sha256(gen.read_bytes()).hexdigest()[:12]
    d = ROOT / ".bench_data" / f"sf0.1-{tag}"
    if not d.exists():
        tmp = d.with_name(d.name + f".tmp{os.getpid()}")
        shutil.rmtree(tmp, ignore_errors=True)
        t0 = time.time()
        subprocess.run([sys.executable, str(gen), str(tmp)], check=True,
                       stdout=subprocess.DEVNULL, timeout=600)
        tmp.rename(d)
        log(f"generated {d.name} in {time.time() - t0:.0f} s")
    return d


def fingerprint(d):
    files = sorted((p.name, p.stat().st_size) for p in d.iterdir())
    return {"files": files,
            "sha256": hashlib.sha256(json.dumps(files).encode()).hexdigest()[:16]}


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(cp, args, data, work, cpus):
    work.mkdir(parents=True)
    (work / "tmp").mkdir()
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(cpus)
    env["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    env.pop("SPARK_GRAFT_MAX_PARTITION_BYTES", None)
    cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work / 'tmp'}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + ADD_OPENS +
           ["-cp", cp, "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", str(data), "--work", str(work), "--cpus", str(cpus)])
    with open(work / "driver.log", "w") as logf:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=logf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)

        def stop(*_):
            # the driver and anything it started, whatever happened
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            p.wait()

        signal.signal(signal.SIGTERM, lambda *a: (stop(), sys.exit(143)))
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            stop()
    if rc != 0:
        sys.stderr.write((work / "driver.log").read_text()[-6000:])
        raise SystemExit(f"perfbench: driver {'timed out' if rc is None else f'exited {rc}'}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / "src" / "main" / "scala").is_dir():
        raise SystemExit("perfbench: no library sources (src/main/scala) in this checkout")
    load0 = os.getloadavg()
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())
    cp = build()
    data = data_dir()
    work = ROOT / ".bench_work" / f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    try:
        t0 = time.time()
        run_jvm(cp, args, data, work, cpus)
        t1 = time.time()
        ops = [json.loads(ln) for ln in (work / "ops.jsonl").read_text().splitlines()]
        summary = json.loads((work / "summary.json").read_text())
        verdict = checks.check(args.workload, ops, data, work, summary.get("extras", {}))
        log(f"driver {t1 - t0:.1f} s, checks {time.time() - t1:.1f} s")
        if args.trace:
            values = metrics.per_layer(ops, summary)
            units = metrics.PER_LAYER_UNITS
        else:
            values = metrics.end_to_end(ops, summary)
            units = metrics.END_TO_END_UNITS
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted = len(ops)
    failed = sum(1 for o in ops if not o["ok"]) + verdict["wrong"]
    hygiene = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "commit": git_commit(), "loadavg_start": load0,
        "loadavg_end": os.getloadavg(), "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"), "cpus_used": cpus,
        "jvm_heap": HEAP, "heap_max_mb": summary["heap_max_mb"],
        "peak_rss_mb": summary["peak_rss_kb"] / 1024.0,
        "data": {"dir": data.name, **fingerprint(data)},
        "ops": attempted, "error_rate": failed / attempted if attempted else 1.0,
        "selftest": verdict["selftest"], "mismatches": verdict["mismatches"][:5],
        "errors": [o.get("error") for o in ops if not o["ok"]][:5],
        "latency_by_kind_ms": {k: statistics.median(v) for k, v in
                               metrics.by_kind(ops).items()},
        "setup": summary["setup"], "warmup_ms": summary["warmup_ms"],
        "extras": summary.get("extras", {}),
    }
    result = {"correct": verdict["wrong"] == 0 and verdict["selftest"] == "caught"
              and failed == 0,
              "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()}}
    rec_dir = ROOT / ".bench_work" / "results"
    rec_dir.mkdir(parents=True, exist_ok=True)
    (rec_dir / f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}.json"
     ).write_text(json.dumps({"hygiene": hygiene, "result": result}, indent=1))
    print("hygiene " + json.dumps(hygiene))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
