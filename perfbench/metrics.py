"""Metrics of one run, from the driver's ops.jsonl and summary.json.

End-to-end metrics come from untraced runs; per-layer metrics from traced
runs, where every op carries the accounting of its own Spark jobs (see
Trace.scala). Per-layer counters and times are means per op unless the name
says otherwise; README.md defines each one.
"""
import statistics
from collections import defaultdict

# The tail is p90 on every workload: the lowest of p99/p95/p90, and still
# short of 10 ops beyond it at the op counts a run reaches on 4 cores.
TAIL_PCT = 90

END_TO_END_UNITS = {"setup_s": "s", "op_p50_ms": "ms", "op_tail_ms": "ms", "ops_per_s": "1/s"}

STAGES = ["gates", "exact", "minhash", "decontam", "pii"]
KERNELS = ["langid", "quality", "gopher", "pii", "minhash"]
PER_LAYER_UNITS = {
    "api.build_ms": "ms", "api.driver_ms": "ms", "api.rows_returned": "rows",
    "plans.plan_ms": "ms", "plans.exchanges": "count", "plans.sorts": "count",
    "sched.jobs": "count", "sched.stages": "count", "sched.tasks": "count",
    "sched.job_idle_ms": "ms", "sched.task_delay_ms": "ms", "sched.idle_share": "ratio",
    "exec.task_ms": "ms", "exec.cpu_ms": "ms", "exec.gc_ms": "ms", "exec.deser_ms": "ms",
    "exec.peak_mem_bytes": "B", "exec.peak_rss_mb": "MB",
    "scan.bytes": "B", "scan.rows": "rows", "scan.rows_per_result_row": "ratio",
    "scan.rows_per_s": "rows/s",
    "shuffle.write_bytes": "B", "shuffle.read_bytes": "B", "shuffle.fetch_wait_ms": "ms",
    "spill.mem_bytes": "B", "spill.disk_bytes": "B",
    **{f"operators.{s}.{m}": u for s in STAGES
       for m, u in (("ms", "ms"), ("rows_in", "rows"), ("rows_out", "rows"), ("jobs", "count"))},
    "operators.docs_per_s": "docs/s", "operators.task_share": "ratio",
    "operators.lsh.candidates": "pairs", "operators.lsh.verified": "pairs",
    "operators.lsh.precision": "ratio",
    **{f"kernel.{k}.rows_per_s": "rows/s" for k in KERNELS},
    "index.update_ms": "ms", "index.lookup_ms": "ms", "index.bytes_written": "B",
    "index.files_written": "count", "index.partitions_rewritten": "count",
    "index.stored_bytes_ratio": "ratio",
    "setup.session_ms": "ms", "setup.catalog_ms": "ms", "setup.warmup_ms": "ms",
    "artifacts.build_ms": "ms", "artifacts.bytes_written": "B",
    "trace.op_p50_ms": "ms", "trace.ops_per_s": "1/s",
}


def percentile(xs, p):
    """Linear interpolation between closest ranks (numpy's default)."""
    xs = sorted(xs)
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def by_kind(ops):
    out = defaultdict(list)
    for o in ops:
        if o["ok"]:
            out[o["kind"]].append(o["ms"])
    return out


def setup_s(summary):
    """JVM start + median set-up (session, catalog, artifacts) + warm-up."""
    per = [r["session_ms"] + r["catalog_ms"] + r["artifacts_ms"] for r in summary["setup"]]
    return (summary["jvm_ms"] + statistics.median(per) + summary["warmup_ms"]) / 1000.0


def end_to_end(ops, summary):
    lat = [o["ms"] for o in ops if o["ok"]] or [float("nan")]
    return {
        "setup_s": setup_s(summary),
        "op_p50_ms": statistics.median(lat),
        "op_tail_ms": percentile(lat, TAIL_PCT),
        "ops_per_s": sum(1 for o in ops if o["ok"]) / summary["loop_s"],
    }


def per_layer(ops, summary):
    ok = [o for o in ops if o["ok"]]
    n = max(len(ok), 1)
    tr = []
    for o in ok:
        t = dict(o.get("trace", {}))
        # corpus stages ran under their own job groups: fold them into the op
        for st in o.get("check", {}).get("stages", {}).values():
            for k, v in st["trace"].items():
                if k == "peak_mem":
                    t[k] = max(t.get(k, 0), v)
                elif k == "first_job":
                    t[k] = min((x for x in (t.get(k, 0), v) if x), default=0)
                else:
                    t[k] = t.get(k, 0) + v
        tr.append((o, t))

    def mean(key):
        return sum(t.get(key, 0) for _, t in tr) / n

    rows = sum(o.get("rows", 0) for o in ok)
    scan_rows = sum(t.get("scan_rows", 0) for _, t in tr)
    wall_ms = sum(o["ms"] for o in ok)
    m = {
        "api.build_ms": sum((t["first_job"] - o["start"]) if t.get("first_job") else o["ms"]
                            for o, t in tr) / n,
        "api.driver_ms": sum(max(0.0, o["ms"] - t.get("job_ms", 0)) for o, t in tr) / n,
        "api.rows_returned": rows / n,
        "plans.plan_ms": mean("plan_ms"), "plans.exchanges": mean("exchanges"),
        "plans.sorts": mean("sorts"),
        "sched.jobs": mean("jobs"), "sched.stages": mean("stages"), "sched.tasks": mean("tasks"),
        "sched.job_idle_ms": mean("idle_ms"), "sched.task_delay_ms": mean("delay_ms"),
        "sched.idle_share": sum(t.get("idle_ms", 0) for _, t in tr) / max(wall_ms, 1e-9),
        "exec.task_ms": mean("task_ms"), "exec.cpu_ms": mean("cpu_ms"),
        "exec.gc_ms": mean("gc_ms"), "exec.deser_ms": mean("deser_ms"),
        "exec.peak_mem_bytes": max((t.get("peak_mem", 0) for _, t in tr), default=0),
        "exec.peak_rss_mb": summary["peak_rss_kb"] / 1024.0,
        "scan.bytes": mean("scan_bytes"), "scan.rows": mean("scan_rows"),
        "scan.rows_per_result_row": scan_rows / max(rows, 1),
        "scan.rows_per_s": scan_rows / summary["loop_s"],
        "shuffle.write_bytes": mean("sh_write"), "shuffle.read_bytes": mean("sh_read"),
        "shuffle.fetch_wait_ms": mean("fetch_wait_ms"),
        "spill.mem_bytes": mean("spill_mem"), "spill.disk_bytes": mean("spill_disk"),
    }
    # corpus batches (analytics): per-stage figures, docs/s, LSH precision, kernel rows/s
    for s in STAGES:
        st = [o["check"]["stages"][s] for o in ok if "stages" in o.get("check", {})]
        k = max(len(st), 1)
        m[f"operators.{s}.ms"] = sum(x["ms"] for x in st) / k
        m[f"operators.{s}.rows_in"] = sum(x["rows_in"] for x in st) / k
        m[f"operators.{s}.rows_out"] = sum(x["rows_out"] for x in st) / k
        m[f"operators.{s}.jobs"] = sum(x["trace"]["jobs"] for x in st) / k
    ex = summary.get("extras", {})
    batches = [o for o in ok if o["kind"] == "corpus_batch"]
    m["operators.docs_per_s"] = sum(o["check"]["stages"]["gates"]["rows_in"] for o in batches) / \
        max(sum(o["ms"] for o in batches) / 1000.0, 1e-9) if batches else 0.0
    m["operators.task_share"] = sum(t.get("task_ms", 0) for o, t in tr
                                    if o["kind"] == "corpus_batch") / \
        max(sum(o["ms"] for o in batches) * summary["cpus"], 1e-9) if batches else 0.0
    cand, ver = ex.get("lsh_candidates", 0), ex.get("lsh_verified", 0)
    m["operators.lsh.candidates"] = cand
    m["operators.lsh.verified"] = ver
    m["operators.lsh.precision"] = ver / cand if cand else 0.0
    for k in KERNELS:
        kms = ex.get("kernel_ms", {}).get(k)
        m[f"kernel.{k}.rows_per_s"] = (ex["kernel_docs"] / max(kms - ex["kernel_scan_ms"], 1.0)
                                       * 1000.0) if kms is not None else 0.0
    # index maintenance (serve)
    kinds = by_kind(ops)
    upd = [o for o in ok if o["kind"] == "update"]
    w = [o["check"].get("written", {}) for o in upd]
    u = max(len(upd), 1)
    lookups = kinds.get("lookup_exact", []) + kinds.get("lookup_prefix", [])
    m["index.update_ms"] = statistics.mean(kinds["update"]) if kinds.get("update") else 0.0
    m["index.lookup_ms"] = statistics.mean(lookups) if lookups else 0.0
    m["index.bytes_written"] = sum(x.get("bytes", 0) for x in w) / u
    m["index.files_written"] = sum(x.get("files", 0) for x in w) / u
    m["index.partitions_rewritten"] = sum(x.get("partitions", 0) for x in w) / u
    m["index.stored_bytes_ratio"] = (ex["index_bytes"] / ex["source_bytes"]
                                     if ex.get("source_bytes") else 0.0)
    # set-up phases: median over the repetitions
    reps = summary["setup"]
    for key, name in (("session_ms", "setup.session_ms"), ("catalog_ms", "setup.catalog_ms"),
                      ("artifacts_ms", "artifacts.build_ms"),
                      ("artifacts_bytes", "artifacts.bytes_written")):
        m[name] = statistics.median(r[key] for r in reps)
    m["setup.warmup_ms"] = summary["warmup_ms"]
    lat = [o["ms"] for o in ok] or [0.0]
    m["trace.op_p50_ms"] = statistics.median(lat)
    m["trace.ops_per_s"] = len(ok) / summary["loop_s"]
    assert set(m) == set(PER_LAYER_UNITS), set(m) ^ set(PER_LAYER_UNITS)
    return m
