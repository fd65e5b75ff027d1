#!/usr/bin/env python3
"""Per-layer table of one traced perfbench pass, or of two side by side.

Reads a `trace-<workload>-<seed>.jsonl` written by
`perfbench/run.py ... --trace 1` and prints, for every operation span
of the traced pass, its wall time, the Spark jobs it issued, their
summed job time, and the driver time between those jobs (wall time in
which none of them was running). A span's own numbers exclude its
child operation spans, which get rows of their own; the totals at the
bottom sum each layer over the pass.

Given two traces (say the parent commit's and a change's, same
workload and seed), it prints wall time and jobs per span and per
layer for both, with the change minus the parent. Spans are matched by
name and by their order among spans of that name.

Usage:
    python3 tools/trace_layers.py perfbench/.work/trace-pos_nightly-11.jsonl
    python3 tools/trace_layers.py PARENT.jsonl CHANGE.jsonl
"""
import argparse
import json
from collections import defaultdict


def union_s(intervals):
    """Total length in seconds of the union of (start_ns, end_ns)."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total / 1e9


def rows(spans):
    ops = [s for s in spans if not s["layer"].startswith("spark.")]
    jobs = defaultdict(list)
    for s in spans:
        if s["layer"] == "spark.job":
            jobs[s["parent"]].append((s["start_ns"], s["end_ns"]))
    children = defaultdict(list)
    for s in ops:
        children[s["parent"]].append(s)
    depth = {}

    def depth_of(s):
        if s["id"] not in depth:
            parent = next((p for p in ops if p["id"] == s["parent"]), None)
            depth[s["id"]] = 0 if parent is None else depth_of(parent) + 1
        return depth[s["id"]]

    out = []
    for s in sorted(ops, key=lambda s: s["start_ns"]):
        wall = (s["end_ns"] - s["start_ns"]) / 1e9
        own = wall - sum((c["end_ns"] - c["start_ns"]) / 1e9
                         for c in children[s["id"]])
        js = jobs[s["id"]]
        job_s = sum(e - b for b, e in js) / 1e9
        out.append({"name": s["name"], "layer": s["layer"],
                    "depth": depth_of(s), "wall_s": own, "jobs": len(js),
                    "job_s": job_s, "driver_s": own - union_s(js)})
    return out


def load(path):
    with open(path) as f:
        return rows([json.loads(line) for line in f if line.strip()])


def layer_totals(table):
    """{layer: [wall_s, jobs, job_s, driver_s]} summed over the pass."""
    by_layer = defaultdict(lambda: [0.0, 0, 0.0, 0.0])
    for r in table:
        t = by_layer[r["layer"]]
        t[0] += r["wall_s"]
        t[1] += r["jobs"]
        t[2] += r["job_s"]
        t[3] += r["driver_s"]
    return by_layer


def show(table):
    head = f"{'span':34} {'layer':18} {'wall_s':>8} {'jobs':>5} " \
           f"{'job_s':>8} {'driver_s':>9}"
    print(head)
    print("-" * len(head))
    for r in table:
        name = "  " * r["depth"] + r["name"]
        print(f"{name:34} {r['layer']:18} {r['wall_s']:8.3f} {r['jobs']:5d} "
              f"{r['job_s']:8.3f} {r['driver_s']:9.3f}")
    print("-" * len(head))
    by_layer = layer_totals(table)
    for layer, (wall, n, job_s, driver_s) in sorted(by_layer.items()):
        print(f"{'= ' + layer:34} {'':18} {wall:8.3f} {n:5d} "
              f"{job_s:8.3f} {driver_s:9.3f}")
    total = [sum(t[i] for t in by_layer.values()) for i in range(4)]
    print(f"{'= pass':34} {'':18} {total[0]:8.3f} {int(total[1]):5d} "
          f"{total[2]:8.3f} {total[3]:9.3f}")


def keyed(table):
    """Each span keyed by (name, its index among spans of that name)."""
    seen = defaultdict(int)
    out = {}
    for r in table:
        out[(r["name"], seen[r["name"]])] = r
        seen[r["name"]] += 1
    return out


def diff_line(label, layer, a, b):
    """One row: wall and jobs of both traces and change minus parent;
    `a` or `b` is None where a span is in one trace only."""
    wa, ja = (a[0], a[1]) if a else (0.0, 0)
    wb, jb = (b[0], b[1]) if b else (0.0, 0)
    fw = lambda v, x: f"{v:8.3f}" if x else f"{'-':>8}"
    fj = lambda v, x: f"{v:6d}" if x else f"{'-':>6}"
    print(f"{label:34} {layer:18} {fw(wa, a)} {fw(wb, b)} {wb - wa:+8.3f} "
          f"{fj(ja, a)} {fj(jb, b)} {jb - ja:+6d}")


def show_diff(parent, change):
    head = f"{'span':34} {'layer':18} {'wall_a':>8} {'wall_b':>8} " \
           f"{'d_wall':>8} {'jobs_a':>6} {'jobs_b':>6} {'d_jobs':>6}"
    print("a = parent, b = change, d = b - a")
    print(head)
    print("-" * len(head))
    ka, kb = keyed(parent), keyed(change)
    order = list(ka) + [k for k in kb if k not in ka]
    for k in order:
        r = ka.get(k) or kb[k]
        a, b = ka.get(k), kb.get(k)
        diff_line("  " * r["depth"] + r["name"], r["layer"],
                  a and (a["wall_s"], a["jobs"]),
                  b and (b["wall_s"], b["jobs"]))
    print("-" * len(head))
    la, lb = layer_totals(parent), layer_totals(change)
    for layer in sorted(set(la) | set(lb)):
        diff_line("= " + layer, "", la.get(layer), lb.get(layer))
    ta = [sum(t[i] for t in la.values()) for i in range(2)]
    tb = [sum(t[i] for t in lb.values()) for i in range(2)]
    diff_line("= pass", "", (ta[0], int(ta[1])), (tb[0], int(tb[1])))


def main():
    ap = argparse.ArgumentParser(
        description=__doc__.split("\n\n")[0],
        formatter_class=argparse.RawDescriptionHelpFormatter,
        epilog=__doc__.split("\n\n", 1)[1])
    ap.add_argument("trace", help="a trace-<workload>-<seed>.jsonl "
                    "(the parent's, when a second trace is given)")
    ap.add_argument("change", nargs="?",
                    help="a second trace to compare against the first")
    args = ap.parse_args()
    if args.change is None:
        show(load(args.trace))
    else:
        show_diff(load(args.trace), load(args.change))


if __name__ == "__main__":
    main()
