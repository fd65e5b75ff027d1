#!/usr/bin/env python3
"""Per-layer table of one traced perfbench pass.

Reads a `trace-<workload>-<seed>.jsonl` written by
`perfbench/run.py ... --trace 1` and prints, for every operation span
of the traced pass, its wall time, the Spark jobs it issued, their
summed job time, and the driver time between those jobs (wall time in
which none of them was running). A span's own numbers exclude its
child operation spans, which get rows of their own; the totals at the
bottom sum each layer over the pass.

Usage:
    python3 tools/trace_layers.py perfbench/.work/trace-pos_nightly-11.jsonl
"""
import json
import sys
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


def main(path):
    with open(path) as f:
        spans = [json.loads(line) for line in f if line.strip()]
    table = rows(spans)
    head = f"{'span':34} {'layer':18} {'wall_s':>8} {'jobs':>5} " \
           f"{'job_s':>8} {'driver_s':>9}"
    print(head)
    print("-" * len(head))
    for r in table:
        name = "  " * r["depth"] + r["name"]
        print(f"{name:34} {r['layer']:18} {r['wall_s']:8.3f} {r['jobs']:5d} "
              f"{r['job_s']:8.3f} {r['driver_s']:9.3f}")
    print("-" * len(head))
    by_layer = defaultdict(lambda: [0.0, 0, 0.0, 0.0])
    for r in table:
        t = by_layer[r["layer"]]
        t[0] += r["wall_s"]
        t[1] += r["jobs"]
        t[2] += r["job_s"]
        t[3] += r["driver_s"]
    for layer, (wall, n, job_s, driver_s) in sorted(by_layer.items()):
        print(f"{'= ' + layer:34} {'':18} {wall:8.3f} {n:5d} "
              f"{job_s:8.3f} {driver_s:9.3f}")
    total = [sum(t[i] for t in by_layer.values()) for i in range(4)]
    print(f"{'= pass':34} {'':18} {total[0]:8.3f} {int(total[1]):5d} "
          f"{total[2]:8.3f} {total[3]:9.3f}")


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    main(sys.argv[1])
