#!/usr/bin/env python3
"""Run one benchmark workload against the graft engine and print its metrics.

    python3 perfbench/run.py --workload sql_interactive --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the engine and the
harness (`perfbench/harness`, an sbt build that depends on the root
build) and caches the classpath under `.bench_build/`; later runs reuse
it until a source file changes.

A run generates the input tables from `--seed`, starts one fresh JVM at
`local[cores]` (default: every core) with `spark.sql.shuffle.partitions`
equal to the cores, and drives the workload's ops from one client thread
in a closed loop: three untimed warm passes, then timed passes until
`--seconds` have elapsed. Outputs are checked after the timed region:
against DuckDB for every op with an oracle, and for every op by its row
count and content digest, which must be non-zero and equal in every
digested execution.

The last stdout line is one JSON object: `correct`, `attempted`,
`failed` and `metrics`. With `--trace 0` the metrics are the end-to-end
ones (set-up time, pass time, op latency p50/p90, peak RSS); with
`--trace 1` they are the per-layer ones, computed from spans of
alternate traced passes, and the span file is written under
`.bench_build/results/`. The exit code is non-zero if any output check
fails or an op throws.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import spantree  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

BUILD_DIR = os.path.join(ROOT, ".bench_build", "perfbench")
HARNESS = os.path.join(HERE, "harness")
XMX = "2g"
XMN = "512m"               # fixed young generation: see run_harness
RUN_BUDGET_S = 170         # whole run, set-up and checks included
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every file the build reads, for the cache stamp."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HARNESS, "build.sbt"),
             os.path.join(HARNESS, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(f for f in files if os.path.isfile(f))


def source_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile engine + harness once per source state; returns the classpath."""
    digest = source_digest()
    stamp = os.path.join(BUILD_DIR, "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            cached = json.load(f)
        if cached.get("digest") == digest:
            return cached["classpath"], digest
    log("building engine and harness with sbt")
    t0 = time.time()
    env = dict(os.environ)
    # resolve only from the configured repositories and the local cache
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HARNESS, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit("build failed")
    classpath = lines[-1].strip()
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": classpath,
                   "build_s": time.time() - t0}, f)
    log(f"build done in {time.time() - t0:.1f} s")
    return classpath, digest


def java_bin():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def run_harness(classpath, run_dir, data_dir, ops, seed, seconds, trace_on,
                cores, deadline):
    tmp = os.path.join(run_dir, "tmp")
    out = os.path.join(run_dir, "out")
    os.makedirs(tmp)
    os.makedirs(out)
    # heap pages are touched on first use, so peak RSS follows the heap
    # the run fills as well as off-heap memory; a fixed heap and young
    # generation keep the collector's sizing choices out of that figure.
    # No hsperfdata file is written.
    cmd = [java_bin(), f"-Xms{XMX}", f"-Xmx{XMX}", f"-Xmn{XMN}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Harness",
            f"data={data_dir}", f"out={out}", f"ops={','.join(ops)}",
            f"seed={seed}", f"seconds={seconds}", f"trace={1 if trace_on else 0}",
            f"cores={cores}"]
    log_path = os.path.join(run_dir, "jvm.log")
    launched_ms = time.time() * 1000.0
    with open(log_path, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=lf, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(5.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    result_path = os.path.join(out, "result.json")
    if rc != 0 or not os.path.exists(result_path):
        with open(log_path, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        shutil.copy(log_path, os.path.join(ROOT, ".bench_build", "last-failed-jvm.log"))
        raise SystemExit(f"harness failed ({rc})")
    with open(result_path) as f:
        res = json.load(f)
    res["launched_ms"] = launched_ms
    return res, out


def pass_seconds(p):
    return sum(s["end"] - s["start"] for s in p["samples"]) / 1000.0


def end_to_end(res):
    passes = [p for p in res["passes"] if not p["traced"]]
    lat = [(s["end"] - s["start"]) / 1000.0 for p in passes for s in p["samples"]]
    deciles = statistics.quantiles(lat, n=10, method="inclusive")
    p90 = deciles[8]
    return {
        "setup_s": ((res["first_timed_ms"] - res["launched_ms"]) / 1000.0, "s"),
        "pass_s": (statistics.median(pass_seconds(p) for p in passes), "s"),
        "latency_p50_s": (deciles[4], "s"),
        "latency_p90_s": (p90, "s"),
        "peak_rss_mb": (res["jvm"]["vm_hwm_kb"] / 1024.0, "MB"),
    }, {"latency_samples": len(lat), "beyond_p90": sum(x > p90 for x in lat),
        "timed_passes": len(passes)}


def per_layer(res, spans_path):
    traced = [p for p in res["passes"] if p["traced"]]
    plain = [p for p in res["passes"] if not p["traced"]]
    cores = res["stamp"]["cores"]
    n = len(traced)
    spans, per_pass = [], []
    worst_ms = 0.0  # largest gap between an op's wall time and its spans' self times
    for p in traced:
        first = len(spans)
        ops = spantree.pass_spans(p, spans)
        selfs = spantree.self_times(spans[first:])
        layer_self = dict.fromkeys(spantree.LAYERS, 0.0)
        op_self = dict.fromkeys((o["op_id"] for o in ops), 0.0)
        for s in spans[first:]:
            layer_self[s["name"]] += selfs[s["id"]] / 1000.0
            op_self[s["op_id"]] += selfs[s["id"]]
        for o in ops:
            worst_ms = max(worst_ms, abs(op_self[o["op_id"]] - (o["end"] - o["start"])))
        jobs = [(j["start"], j["end"]) for j in p["jobs"]]
        per_pass.append((p, layer_self, spantree.union_ms(jobs, p["start"], p["end"]) / 1000.0))
    with open(spans_path, "w") as f:
        json.dump(spans, f)

    def mean(fn):
        return sum(fn(x) for x in per_pass) / n

    def ctr(k):
        return mean(lambda x: x[0]["counters"][k])

    mb = 1024.0 * 1024.0
    exec_s = mean(lambda x: x[2])
    task_run_s = ctr("task_run_ms") / 1000.0
    trig = [t for p in traced for t in p["triggers"]]
    state_rows, state_bytes = {}, {}
    for t in trig:
        state_rows[t["run"]] = max(state_rows.get(t["run"], 0), t["state_rows"])
        state_bytes[t["run"]] = max(state_bytes.get(t["run"], 0), t["state_bytes"])
    traced_samples = [s for p in traced for s in p["samples"]]
    attempts = sum(s["api_attempts"] for s in traced_samples)
    pages = sum(s["api_pages"] for s in traced_samples)
    api_per_op = {}  # op -> distinct [attempts, pages] over traced passes
    for s in traced_samples:
        counts = [s["api_attempts"], s["api_pages"]]
        if any(counts) and counts not in api_per_op.setdefault(s["op"], []):
            api_per_op[s["op"]].append(counts)
    staging = res["staging"]
    m = {
        "queries.build_s": (mean(lambda x: sum(s["build_end"] - s["start"]
                                               for s in x[0]["samples"])) / 1000.0, "s"),
        "plans.plan_s": (mean(lambda x: sum(s["plan_end"] - s["build_end"]
                                            for s in x[0]["samples"])) / 1000.0, "s"),
        "exec.s": (exec_s, "s"),
        "exec.jobs": (mean(lambda x: len(x[0]["jobs"])), "count"),
        "exec.stages": (mean(lambda x: len(x[0]["stages"])), "count"),
        "exec.tasks": (ctr("tasks"), "count"),
        "exec.task_wait_s": (ctr("task_wait_ms") / 1000.0, "s"),
        "exec.task_run_s": (task_run_s, "s"),
        "exec.core_busy": (task_run_s / (exec_s * cores) if exec_s else 0.0, "ratio"),
        "exec.task_cpu_s": (ctr("task_cpu_ns") / 1e9, "s"),
        "exec.shuffle_write_mb": (ctr("shuffle_write_bytes") / mb, "MB"),
        "exec.shuffle_read_mb": (ctr("shuffle_read_bytes") / mb, "MB"),
        "exec.spill_mb": (ctr("spill_bytes") / mb, "MB"),
        "exec.input_mb": (ctr("input_bytes") / mb, "MB"),
        "exec.write_mb": (ctr("write_bytes") / mb, "MB"),
        "exec.write_rows": (ctr("write_rows"), "count"),
        "exec.failed_tasks": (ctr("failed_tasks"), "count"),
        "staging.builds": (float(len(staging)), "count"),
        "staging.build_s": (float(sum(staging.values())), "s"),
        "streaming.triggers": (mean(lambda x: x[0]["meter_triggers"]), "count"),
        "streaming.trigger_p50_ms": (
            statistics.median(t["trigger_ms"] for t in trig) if trig else 0.0, "ms"),
        "streaming.add_batch_s": (sum(t["add_batch_ms"] for t in trig) / 1000.0 / n, "s"),
        "streaming.commit_s": (sum(t["commit_ms"] for t in trig) / 1000.0 / n, "s"),
        "streaming.state_rows": (sum(state_rows.values()) / n, "count"),
        "streaming.state_mb": (sum(state_bytes.values()) / mb / n, "MB"),
        "sources.api_attempts": (attempts / n, "count"),
        "sources.api_pages": (pages / n, "count"),
        "sources.api_useful_ratio": (pages / attempts if attempts else 0.0, "ratio"),
        "jvm.gc_s": (sum(p["gc_ms"] for p in res["passes"]) / 1000.0 / len(res["passes"]), "s"),
        "jvm.jit_s": (res["jvm"]["jit_ms"] / 1000.0, "s"),
        "jvm.heap_peak_mb": (res["jvm"]["heap_peak_bytes"] / mb, "MB"),
        "trace_overhead": (
            statistics.median(pass_seconds(p) for p in traced)
            / statistics.median(pass_seconds(p) for p in plain) - 1.0, "ratio"),
    }
    for layer in spantree.LAYERS[1:]:  # an op's own span is fully covered by its phases
        m[f"self.{layer}_s"] = (mean(lambda x, k=layer: x[1][k]), "s")
    return m, {"spans": os.path.relpath(spans_path, ROOT), "traced_passes": n,
               "untraced_passes": len(plain), "self_time_vs_wall_max_error_ms": worst_ms,
               "pass_s_traced": statistics.median(pass_seconds(p) for p in traced),
               "pass_s_untraced": statistics.median(pass_seconds(p) for p in plain),
               "api_per_op": api_per_op}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--cores", type=int, default=0,
                    help="local[cores]; default: every available core")
    args = ap.parse_args(argv)

    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft", "SparkEntry.scala")):
        if not os.path.isfile(os.path.join(ROOT, need)):
            log(f"engine sources not found: {need} is missing under {ROOT}")
            return 2

    classpath, digest = build()
    deadline = time.time() + RUN_BUDGET_S
    wl = WORKLOADS[args.workload]
    cores = args.cores or os.cpu_count() or 1
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}-cores{cores}"
    run_dir = os.path.join(BUILD_DIR, "runs", tag)
    shutil.rmtree(run_dir, ignore_errors=True)
    data_dir = os.path.join(run_dir, "data")
    try:
        tables = gen.write(data_dir, args.seed, wl["sf"])
        res, out = run_harness(classpath, run_dir, data_dir, wl["ops"], args.seed,
                               args.seconds, args.trace == 1, cores, deadline)
        oracle = check.oracle_compare(data_dir, os.path.join(out, "oracle"), res["oracle_sql"])
        bad = check.op_failures(res, oracle)
        results_dir = os.path.join(ROOT, ".bench_build", "results")
        os.makedirs(results_dir, exist_ok=True)
        shutil.copy(os.path.join(run_dir, "jvm.log"), os.path.join(results_dir, f"jvm-{tag}.log"))
        if args.trace:
            spans_path = os.path.join(results_dir, f"spans-{tag}.json")
            metrics, info = per_layer(res, spans_path)
        else:
            metrics, info = end_to_end(res)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    samples = [s for p in res["passes"] for s in p["samples"]]
    failed = sum(1 for s in samples if s["op"] in bad)
    stamp = dict(res["stamp"], xmx=XMX, xmn=XMN, seed=args.seed, workload=args.workload,
                 sf=wl["sf"], source_sha256=digest,
                 tables={k: {"rows": r, "bytes": b} for k, (r, b) in tables.items()})
    detail = {"stamp": stamp, "info": info, "failed_ops": bad, "staging": res["staging"],
              "metrics": {k: v for k, (v, _) in metrics.items()},
              "op_latency_s": per_op_latency(res)}
    with open(os.path.join(results_dir, f"result-{tag}.json"), "w") as f:
        json.dump(detail, f, indent=1)

    log(f"stamp: {json.dumps(stamp)}")
    for k, v in info.items():
        log(f"{k}: {v}")
    for op, why in sorted(bad.items()):
        log(f"FAILED {op}: {why}")
    for k, (v, unit) in metrics.items():
        print(f"{k} = {v:.6g} {unit}")
    print(f"failed_ratio = {failed / len(samples):.6g} ({failed}/{len(samples)})")
    print(json.dumps({"correct": not bad, "attempted": len(samples), "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    return 0 if not bad else 1


def per_op_latency(res):
    by_op = {}
    for p in res["passes"]:
        for s in p["samples"]:
            by_op.setdefault(s["op"], []).append((s["end"] - s["start"]) / 1000.0)
    return {op: statistics.median(v) for op, v in sorted(by_op.items())}


if __name__ == "__main__":
    sys.exit(main())
