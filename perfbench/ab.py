#!/usr/bin/env python3
"""A/B compare two checkouts of the engine on the benchmark.

    python3 perfbench/ab.py --parent ../parent --change . --pairs 10 \\
        --workloads sql_interactive,curate_llm

Each pair runs the benchmark once in the parent checkout and once in
the change checkout, with the same seed and BENCHMARK.json's
`run_seconds`, and alternates which side runs first; pair i uses seed
FIRST_SEED + i. For each workload and end-to-end metric it reports each
side's median and quartiles, the change's win fraction (ties count for
neither side) and a verdict:

- `improved`: the change wins at least 9 of 10 pairs and the medians
  differ by more than the parent's interquartile range;
- `regressed`: the change's median is worse than the parent's by more
  than the metric's bound from BENCHMARK.json;
- `unresolved`: either side's spread (interquartile range over median)
  is wider than the bound, unless every change run beat every parent
  run;
- `unchanged`: otherwise.

`--report FILE` re-analyses the raw runs a previous invocation saved
with `--save FILE`, without running anything.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
FIRST_SEED = 1000


def quartiles(values):
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def compare(parent, change, better, bound):
    """Verdict for one metric from paired runs (lists in pair order)."""
    assert len(parent) == len(change) and parent
    sign = 1.0 if better == "higher" else -1.0
    wins = sum(1 for p, c in zip(parent, change) if sign * (c - p) > 0)
    losses = sum(1 for p, c in zip(parent, change) if sign * (c - p) < 0)
    p1, pm, p3 = quartiles(parent)
    c1, cm, c3 = quartiles(change)
    p_iqr = p3 - p1
    spread = max(p_iqr / abs(pm) if pm else 0.0, (c3 - c1) / abs(cm) if cm else 0.0)
    worse_by = sign * (pm - cm) / abs(pm) if pm else 0.0
    all_better = (min(change) > max(parent)) if sign > 0 else (max(change) < min(parent))
    if wins >= 0.9 * len(parent) and abs(cm - pm) > p_iqr:
        verdict = "improved"
    elif worse_by > bound:
        verdict = "regressed"
    elif spread > bound and not all_better:
        verdict = "unresolved"
    else:
        verdict = "unchanged"
    return {"parent": {"q1": p1, "median": pm, "q3": p3},
            "change": {"q1": c1, "median": cm, "q3": c3},
            "pairs": len(parent), "wins": wins, "losses": losses,
            "win_fraction": wins / len(parent), "spread": spread,
            "worse_by": worse_by, "verdict": verdict}


def run_side(checkout, workload, seed, seconds):
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, text=True)
    last = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else "{}"
    out = json.loads(last)
    if proc.returncode != 0 or not out.get("correct"):
        raise SystemExit(f"{checkout}: {workload} seed {seed} failed (exit {proc.returncode})")
    return {k: v["value"] for k, v in out["metrics"].items()}


def collect(parent, change, workloads, pairs, seconds):
    runs = {w: {"parent": [], "change": []} for w in workloads}
    for i in range(pairs):
        seed = FIRST_SEED + i
        for w in workloads:
            order = [("parent", parent), ("change", change)]
            if i % 2:
                order.reverse()
            for side, checkout in order:
                runs[w][side].append(run_side(checkout, w, seed, seconds))
                print(f"pair {i + 1}/{pairs} {w} {side} done", file=sys.stderr, flush=True)
    return runs


def report(runs, spec):
    rows = []
    for w, sides in runs.items():
        for m in spec["end_to_end"]:
            name = m["name"]
            res = compare([r[name] for r in sides["parent"]], [r[name] for r in sides["change"]],
                          m["better"], m["bound"])
            rows.append({"workload": w, "metric": name, **res})
    return rows


def print_rows(rows):
    print(f"{'workload':16} {'metric':14} {'parent q1/med/q3':>26} {'change q1/med/q3':>26} "
          f"{'wins':>6} verdict")
    for r in rows:
        p, c = r["parent"], r["change"]
        print(f"{r['workload']:16} {r['metric']:14} "
              f"{p['q1']:8.4g}/{p['median']:8.4g}/{p['q3']:8.4g} "
              f"{c['q1']:8.4g}/{c['median']:8.4g}/{c['q3']:8.4g} "
              f"{r['wins']:>2}/{r['pairs']:<3} {r['verdict']}")


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent")
    ap.add_argument("--change")
    ap.add_argument("--workloads", help="comma list; default: all in BENCHMARK.json")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--spec", default=os.path.join(os.path.dirname(HERE), "BENCHMARK.json"))
    ap.add_argument("--save")
    ap.add_argument("--report")
    args = ap.parse_args(argv)
    with open(args.spec) as f:
        spec = json.load(f)
    if args.report:
        with open(args.report) as f:
            runs = json.load(f)
    else:
        if not (args.parent and args.change):
            ap.error("--parent and --change are required unless --report is given")
        workloads = (args.workloads.split(",") if args.workloads
                     else [w["name"] for w in spec["workloads"]])
        runs = collect(os.path.abspath(args.parent), os.path.abspath(args.change), workloads,
                       args.pairs, spec["run_seconds"])
        if args.save:
            with open(args.save, "w") as f:
                json.dump(runs, f)
    rows = report(runs, spec)
    print_rows(rows)
    return 1 if any(r["verdict"] == "regressed" for r in rows) else 0


if __name__ == "__main__":
    sys.exit(main())
