"""Span tree and self times for traced passes.

Each timed op is a span with three phase children: `build` (the query
function call), `plan` (forcing the executed plan) and `exec` (running
it). Spark jobs hang under the phase that was running when they started
and are tied to their op by the job group the harness sets (by time
when a job carries another group, as micro-batch jobs do); stages hang
under their job; micro-batch triggers hang under the phase in which
they started. Children are clipped to their parent.

A span's self time is the part of its interval that no child covers.
Where siblings overlap (concurrent stages, or a trigger beside its own
jobs), each instant is split evenly among the deepest spans active at
that instant, so the self times of one op's spans add up to its wall
time exactly.
"""
import bisect
from collections import defaultdict

LAYERS = ["op", "build", "plan", "exec", "job", "stage", "trigger"]


def _span(spans, parent, op_id, name, start, end, **extra):
    if parent is not None:
        start = min(max(start, parent["start"]), parent["end"])
        end = min(max(end, start), parent["end"])
    s = {"id": len(spans), "parent": None if parent is None else parent["id"],
         "op_id": op_id, "name": name, "start": start, "end": end, **extra}
    spans.append(s)
    return s


def pass_spans(p, spans):
    """Append the spans of one traced pass to `spans`; returns the op spans."""
    ops = []
    phases = {}
    for smp in p["samples"]:
        op = _span(spans, None, smp["id"], "op", smp["start"], smp["end"], op=smp["op"])
        phases[smp["id"]] = [
            _span(spans, op, smp["id"], "build", smp["start"], smp["build_end"]),
            _span(spans, op, smp["id"], "plan", smp["build_end"], smp["plan_end"]),
            _span(spans, op, smp["id"], "exec", smp["plan_end"], smp["end"]),
        ]
        ops.append(op)
    starts = [o["start"] for o in ops]

    def owner(t, group=""):
        if group.startswith("perfbench-"):
            sid = int(group[len("perfbench-"):])
            if sid in phases:
                return sid
        i = bisect.bisect_right(starts, t) - 1
        if i >= 0 and t <= ops[i]["end"]:
            return ops[i]["op_id"]
        return None

    def phase_at(sid, t):
        for ph in phases[sid]:
            if t < ph["end"]:
                return ph
        return phases[sid][-1]

    job_span = {}
    for j in p.get("jobs", []):
        sid = owner(j["start"], j["group"])
        if sid is not None:
            job_span[j["job"]] = _span(spans, phase_at(sid, j["start"]), sid, "job",
                                       j["start"], j["end"], job=j["job"])
    for st in p.get("stages", []):
        parent = job_span.get(st["job"])
        if parent is not None:
            _span(spans, parent, parent["op_id"], "stage", st["start"], st["end"],
                  stage=st["stage"], tasks=st["tasks"])
    for t in p.get("triggers", []):
        sid = owner(t["start"])
        if sid is not None:
            _span(spans, phase_at(sid, t["start"]), sid, "trigger", t["start"],
                  t["start"] + t["trigger_ms"], batch=t["batch"])
    return ops


def self_times(spans):
    """{span id: self ms} for a list of spans forming trees."""
    children = defaultdict(set)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].add(s["id"])
    by_root = defaultdict(list)
    root_of = {}
    for s in spans:  # parents precede children in the list
        root_of[s["id"]] = s["id"] if s["parent"] is None else root_of[s["parent"]]
        by_root[root_of[s["id"]]].append(s)
    out = defaultdict(float)
    for tree in by_root.values():
        cuts = sorted({x for s in tree for x in (s["start"], s["end"])})
        for a, b in zip(cuts, cuts[1:]):
            active = {s["id"] for s in tree if s["start"] <= a and s["end"] >= b}
            leaves = [i for i in active if not (children[i] & active)]
            for i in leaves:
                out[i] += (b - a) / len(leaves)
    return out


def union_ms(intervals, lo, hi):
    """Length of the union of [start, end] intervals clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
