#!/usr/bin/env python3
"""graft benchmark: one seeded workload, one JVM, closed loop with one client.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the library and the harness from source on first use (sbt, offline),
runs the workload on local[<nproc>] for --seconds of timed passes, checks
every op's output, and prints one JSON line last on stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 the per-layer ones. The full result (samples, provenance,
per-op records) is written to perfbench/results/<workload>/; compare.py
compares two sets of them. Exits non-zero on any failed op or check.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSPATH = os.path.join(BENCH, "target", "classpath.txt")
WORKLOADS = ["sketches", "pipeline"]
DEADLINE_S = 175
BUILD_TIMEOUT_S = 840
MB = 1048576.0

# Spark 4 on JDK 17 outside spark-submit (JavaModuleOptions.defaultModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_newer_than(path):
    stamp = os.path.getmtime(path)
    for base in (LIB_SRC, os.path.join(BENCH, "src"), os.path.join(BENCH, "build.sbt")):
        if os.path.isfile(base):
            if os.path.getmtime(base) > stamp:
                return True
            continue
        for d, _, files in os.walk(base):
            if any(os.path.getmtime(os.path.join(d, f)) > stamp for f in files):
                return True
    return False


def build():
    """Compile library + harness with sbt; writes target/classpath.txt."""
    if not os.path.isdir(LIB_SRC):
        raise SystemExit(f"library sources not found at {LIB_SRC}")
    if os.path.exists(CLASSPATH) and not sources_newer_than(CLASSPATH):
        return
    log("building library and harness (sbt writeClasspath)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    t = time.time()
    proc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                          cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr,
                          timeout=BUILD_TIMEOUT_S)
    if proc.returncode != 0 or not os.path.exists(CLASSPATH):
        raise SystemExit(f"build failed (sbt exit {proc.returncode})")
    log(f"build took {time.time() - t:.1f} s")


def run_jvm(args, work, raw, timeout):
    cp = open(CLASSPATH).read().strip()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Harness", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", work, "--out", raw]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        log(f"JVM killed after {timeout:.0f} s")
        return -9


def pct(values, q):
    """Percentile, linear between order statistics."""
    if len(values) < 2:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[round(q * 100) - 1]


def median(values):
    return statistics.median(values) if values else 0.0


def end_to_end(raw, attempts):
    timed = [a for a in attempts if a["phase"] == "timed"]
    ok = [a for a in timed if not a["error"]]
    by_op = {}
    for a in ok:
        by_op.setdefault(a["op"], []).append(a)
    op_medians = [median([a["total_s"] for a in v]) for v in by_op.values()] or [0.0]
    n_failed = sum(1 for a in attempts if a["error"])
    metrics = {
        "setup_s": (median(raw["setup_s"]), "s"),
        "wall_s": (sum(op_medians), "s"),
        "op_p50_s": (pct(op_medians, 0.5), "s"),
        "op_p90_s": (pct(op_medians, 0.9), "s"),
        "ok_op_frac": (1.0 - n_failed / max(1, len(attempts)), "ratio"),
        "heap_live_peak_mb": (max([a["heap_after_op_mb"] for a in timed] or [0.0]), "MB"),
        "stored_mb": (sum(median([a["stored_bytes"] for a in v]) for v in by_op.values()) / MB, "MB"),
    }
    per_op = min([len(v) for v in by_op.values()] or [0])
    samples = {"setup_s": len(raw["setup_s"]), "wall_s": per_op, "op_p50_s": len(op_medians),
               "op_p90_s": len(op_medians), "ok_op_frac": len(attempts),
               "heap_live_peak_mb": len(timed), "stored_mb": per_op}
    return metrics, samples


LAYER_SUMS = ["construct_s", "construct_jobs", "exec_s", "jobs", "stages", "tasks", "task_run_s",
              "task_cpu_s", "gc_s", "shuffle_write_mb", "shuffle_read_mb", "shuffle_records",
              "spill_mb", "scan_mb", "scan_rows", "plan.scan_s", "plan.agg_s", "plan.sort_s",
              "plan.exchange_s", "plan.join_build_s", "streaming.batches", "streaming.planning_s",
              "streaming.wal_commit_s", "streaming.add_batch_s"]
SPAN_NAMES = ["pass", "op", "construct", "exec", "job", "stage", "batch"]
KERNELS = (["hll.hash_ns"] +
           [f"hll.{k}.{f}" for k in ("offer_ns", "merge_ns", "serialize_ns", "deserialize_ns",
                                     "sketch_bytes") for f in ("STRM", "DS", "GRAFT")] +
           ["hll.deserialize_ns.STRM_fast", "theta.update_ns", "theta.union_ns", "kll.update_ns",
            "kll.merge_ns", "freq.update_ns", "freq.merge_ns", "bloom.put_ns", "bloom.merge_ns",
            "dedup.shingle_ns_per_doc", "dedup.minhash_ns_per_doc", "dedup.simhash_ns_per_doc"])
COUNTS = ["dedup.candidate_pairs", "dedup.verified_pairs", "dedup.components",
          "similarity.verified_pairs"]


def self_times(spans):
    """Seconds of self time per span name: duration minus the union of its children."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ms"], s["end_ms"]
        covered, cur = 0.0, lo
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start_ms"]):
            a, b = max(c["start_ms"], cur), min(c["end_ms"], hi)
            if b > a:
                covered += b - a
                cur = b
        out[s["name"]] = out.get(s["name"], 0.0) + max(0.0, (hi - lo) - covered) / 1e3
    return out


def per_layer(raw, attempts):
    traced = [a for a in attempts if a["phase"] == "traced" and not a["error"]]
    passes = [p["pass"] for p in raw["passes"] if p["phase"] == "traced" and p["complete"]] or [0]
    m = {}

    def per_pass(f):
        return median([f([a for a in traced if a["pass"] == p]) for p in passes])

    for k in LAYER_SUMS:
        if k in ("construct_s", "exec_s"):
            m[k] = per_pass(lambda ops, k=k: sum(a[k] for a in ops))
        else:
            m[k] = per_pass(lambda ops, k=k: sum(a["layer"].get(k, 0.0) for a in ops))
    nproc = raw["nproc"]
    m["core_util"] = per_pass(lambda ops: sum(a["layer"].get("task_run_s", 0.0) for a in ops) /
                              max(1e-9, sum(a["total_s"] for a in ops) * nproc))
    m["plan.agg_share"] = per_pass(lambda ops: sum(a["layer"].get("plan.agg_s", 0.0) for a in ops) /
                                   max(1e-9, sum(a["layer"].get("task_run_s", 0.0) for a in ops)))
    batches = [b / 1e3 for a in traced for b in a["layer"].get("streaming.batch_ms", [])]
    m["streaming.batch_s_p50"] = median(batches)
    m["heap_after_op_mb"] = median([a["heap_after_op_mb"] for a in traced])
    m["storage_mb"] = per_pass(lambda ops: max([a["storage_mb"] for a in ops] or [0.0]))
    for k in KERNELS:
        m[k] = raw["kernels"].get(k, 0.0)
    counts = raw["layer_counts"]
    for k in COUNTS:
        m[k] = counts.get(k, 0.0)
    m["dedup.pair_yield"] = m["dedup.verified_pairs"] / m["dedup.candidate_pairs"] \
        if m["dedup.candidate_pairs"] else 0.0
    m["similarity.candidate_pairs"] = max(
        [a["layer"].get("plan.join_rows_max", 0.0) for a in traced if a["op"] == "cosine_pairs"] or [0.0])
    spans = json.load(open(raw["spans_file"])) if raw.get("spans_file") else []
    complete = {f"traced-{p}" for p in passes}
    st = self_times([s for s in spans if s["op"] is None or s["op"].split("/")[0] in complete])
    for n in SPAN_NAMES:
        m[f"self_s.{n}"] = st.get(n, 0.0) / len(passes)
    untraced = [p["wall_s"] for p in raw["passes"] if p["phase"] == "timed" and p["complete"]]
    traced_walls = [p["wall_s"] for p in raw["passes"] if p["phase"] == "traced" and p["complete"]]
    m["trace.overhead_s"] = median(traced_walls) - median(untraced)
    units = {}
    for k in m:
        units[k] = ("s" if k.endswith("_s") or k.startswith("self_s") or k.endswith("_s_p50") else
                    "MB" if k.endswith("_mb") else "ns" if k.endswith("_ns") or "_ns." in k or
                    k.endswith("_ns_per_doc") else "bytes" if "sketch_bytes" in k else
                    "ratio" if k in ("core_util", "plan.agg_share", "dedup.pair_yield") else "count")
    return {k: (v, units[k]) for k, v in m.items()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    build()
    t0 = time.time()  # the deadline is for the run; a first-run build has its own timeout

    work = os.path.join(BENCH, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    raw_path = os.path.join(work, "raw.json")
    rc = run_jvm(args, work, raw_path, DEADLINE_S - (time.time() - t0) - 5)
    if rc != 0 or not os.path.exists(raw_path):
        raise SystemExit(f"benchmark JVM failed (exit {rc})")
    raw = json.load(open(raw_path))
    attempts = raw["attempts"]

    oracle_path = os.path.join(work, "oracle_sql.json")
    if os.path.exists(oracle_path):
        sys.path.insert(0, BENCH)
        import oracle
        sql = json.load(open(oracle_path))
        tables = os.path.join(work, "input", "fixtures")
        for a in attempts:
            if a["op"] in sql and not a["error"]:
                why = oracle.compare(tables, a["path"], sql[a["op"]])
                if why:
                    a["error"] = f"oracle: {why}"
                    log(f"{a['op']} ({a['phase']} {a['pass']}) failed the oracle check: {why}")

    failed = [a for a in attempts if a["error"]]
    e2e, samples = end_to_end(raw, attempts)
    metrics = per_layer(raw, attempts) if args.trace else e2e
    result = {
        "correct": not failed, "attempted": len(attempts), "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    full = dict(result)
    full.update({
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "samples": samples,
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        "provenance": {k: raw[k] for k in (
            "nproc", "jvm", "spark", "scala", "max_heap_mb", "provenance", "expect_s",
            "warmup_s", "kernels_s", "checks_s", "process_start_to_first_op_s", "run_s")},
        "failures": [{"op": a["op"], "phase": a["phase"], "pass": a["pass"], "error": a["error"]}
                     for a in failed],
        "ops": attempts,
        "spans_file": raw.get("spans_file"),
    })
    out_dir = os.path.join(BENCH, "results", args.workload)
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"seed{args.seed}-trace{args.trace}-{int(time.time())}.json"), "w") as f:
        json.dump(full, f, indent=1)
    if not failed:  # a failed run keeps its inputs and outputs for inspection
        for d in ("input", "out", "tmp"):
            shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    print(json.dumps(result), flush=True)
    sys.exit(0 if not failed else 1)


if __name__ == "__main__":
    main()
