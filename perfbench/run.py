#!/usr/bin/env python3
"""Benchmark entry point: builds the harness (once per source state), makes
the seeded inputs, runs the workload's JVM and prints the result line.

    python3 perfbench/run.py --workload pos_nightly --seed 1 \
        --seconds 8 --trace 0

The last line of stdout is one JSON object with exactly the keys
`correct`, `attempted`, `failed` and `metrics`. `--trace 0` reports the
end-to-end metrics of BENCHMARK.json, `--trace 1` the per-layer ones.
Build output, inputs, logs, traces and a full result artifact with its
provenance go under `perfbench/.work/`.
"""
import argparse
import hashlib
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import gen_tables  # noqa: E402

WORKLOADS = ("pos_nightly", "analyst_queries")
# warehouse scale factor (sf 1.0 = 6M lineitem rows); the warehouse
# seed is fixed so the recorded expected-output file holds for every
# --seed (the seed shuffles the query order of each pass)
SHAPES = {"full": 0.005, "tiny": 0.001}
WAREHOUSE_SEED = 20240101
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]
JVM_TIMEOUT_S = 150
END_TO_END = {"setup_s": "s", "pass_s": "s", "op_p50_s": "s",
              "op_p75_s": "s", "rss_peak_mb": "MB"}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every source and build file the harness is built from."""
    h = hashlib.sha256()
    roots = [os.path.join(REPO, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(REPO, "build.sbt"),
             os.path.join(REPO, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for dp, _, fs in os.walk(r):
            files += [os.path.join(dp, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, REPO).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt when the sources changed; return the classpath."""
    if not os.path.isdir(os.path.join(REPO, "src", "main", "scala")):
        raise SystemExit("perfbench: engine sources (src/main/scala) "
                         "not found next to perfbench/")
    stamp = source_stamp()
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp_file = os.path.join(WORK, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and \
            open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    log("building harness with sbt ...")
    t0 = time.time()
    with open(os.path.join(WORK, "build.log"), "w") as lf:
        p = subprocess.run(
            ["sbt", "-batch", "-Dsbt.server.forcestart=false", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, stdout=subprocess.PIPE, stderr=lf, text=True,
            stdin=subprocess.DEVNULL, timeout=840)
        lf.write(p.stdout)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines or "scala-library" not in lines[-1]:
        raise SystemExit(f"perfbench: build failed, see {WORK}/build.log")
    cp = lines[-1].strip()
    open(cp_file, "w").write(cp)
    open(stamp_file, "w").write(stamp)
    log(f"built in {time.time() - t0:.0f} s")
    return cp


def make_inputs(workload, scale):
    """Inputs made outside the JVM, cached per scale; returns seconds."""
    t0 = time.time()
    if workload == "analyst_queries":
        d = os.path.join(WORK, f"warehouse-{scale}")
        if not os.path.exists(os.path.join(d, "_complete")):
            gen_tables.generate(d, SHAPES[scale], WAREHOUSE_SEED)
            open(os.path.join(d, "_complete"), "w").close()
    # pos_nightly generates its workbooks from the seed inside the JVM
    # (through the engine's own xlsx writer); that time is reported as
    # gen_s and kept out of setup_s as well
    return time.time() - t0


def run_jvm(cp, args, tag):
    # temporary files stay inside the checkout too
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={tmp}"]
    for o in JVM_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main"] + args
    errf = os.path.join(WORK, f"jvm-{tag}.log")
    with open(errf, "w") as ef:
        p = subprocess.run(cmd, cwd=HERE, stdout=subprocess.PIPE, stderr=ef,
                           text=True, stdin=subprocess.DEVNULL,
                           timeout=JVM_TIMEOUT_S)
    out = [ln for ln in p.stdout.splitlines() if ln.startswith("PERFBENCH ")]
    if p.returncode != 0 or not out:
        raise SystemExit(f"perfbench: JVM run failed (exit {p.returncode}),"
                         f" see {errf}")
    return json.loads(out[-1][len("PERFBENCH "):])


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=REPO,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=sorted(SHAPES), default="full")
    ap.add_argument("--corrupt", action="store_true",
                    help="drop rows from one checked output (smoke test)")
    ap.add_argument("--record", metavar="DIR",
                    help="analyst_queries: run the warm-up pass only and "
                    "dump every result, oracle SQL and expected.txt to DIR")
    a = ap.parse_args()

    load0 = os.getloadavg()
    os.makedirs(WORK, exist_ok=True)
    cp = build()
    gen_s = make_inputs(a.workload, a.scale)
    tag = f"{a.workload}-{a.seed}-{a.trace}"
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", WORK, "--scale", a.scale]
    if a.record:
        run_jvm(cp, args + ["--dump", os.path.abspath(a.record),
                            "--setup-only"], f"{tag}-record")
        log(f"recorded into {a.record}; confirm with tools/check_oracle.py")
        return
    if a.workload == "analyst_queries":
        args += ["--expected",
                 os.path.join(HERE, "expected", f"analyst_{a.scale}.txt")]
    if a.corrupt:
        args.append("--corrupt")
    # one set-up per run: a set-up costs 25-45 s of cold codegen and JIT
    # on a 4-core box, and the run budget does not fit a second one
    r = run_jvm(cp, args, tag)
    warm_failed = int(r["warm_failed"])

    lat, passes = r["latencies"], r["pass_s"]
    attempted, failed = int(r["attempted"]), int(r["failed"])
    if a.trace:
        metrics = {k: {"value": r["layers"].get(k, 0.0), "unit": unit}
                   for k, unit in PER_LAYER.items()}
    else:
        # Times are net of stolen CPU: the machine's steal during a span
        # (time the hypervisor ran other guests on this VM's CPUs),
        # divided by the CPU count. On dedicated hardware it is 0.
        ncpu = os.cpu_count()
        # each operation's median over the timed passes, so one slow
        # pass (the first is still warming) moves no figure; pass_s is
        # the sum of them, a typical pass
        by_op = {}
        for name, t, st in zip(r["ops"], lat, r["op_steal_s"]):
            by_op.setdefault(name, []).append(t - st / ncpu)
        per_op = [statistics.median(v) for v in by_op.values()]
        values = {"setup_s": r["setup_s"] - r["setup_steal_s"] / ncpu,
                  "pass_s": sum(per_op),
                  "op_p50_s": statistics.median(per_op),
                  "op_p75_s": statistics.quantiles(per_op, n=4)[2],
                  "rss_peak_mb": r["rss_peak_mb"]}
        metrics = {k: {"value": values[k], "unit": u}
                   for k, u in END_TO_END.items()}
    prov = dict(r["provenance"])
    prov.update({
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "nproc": os.cpu_count(), "loadavg_start": load0,
        "loadavg_end": os.getloadavg(), "git_commit": git_commit(),
        "source_stamp": source_stamp()[:16], "input_gen_s": gen_s,
        "ops": len(lat), "ops_per_pass": len(lat) / max(1, len(passes)),
        "failed_frac": failed / max(1, attempted),
        "warm_failed": warm_failed, "failures": r["failures"]})
    correct = failed == 0 and warm_failed == 0
    result = {"correct": correct, "attempted": attempted, "failed": failed,
              "metrics": metrics}
    prov["steal_s"] = sum(r["op_steal_s"])
    prov["setup_steal_s"] = r["setup_steal_s"]
    prov["setup_wall_s"] = r["setup_s"]
    with open(os.path.join(WORK, f"result-{tag}.json"), "w") as f:
        json.dump({"result": result, "provenance": prov, "pass_s": passes,
                   "ops": r["ops"], "latencies": lat,
                   "op_cpu_s": r["op_cpu_s"], "op_steal_s": r["op_steal_s"]},
                  f, indent=1)
    if r["failures"]:
        log("failures: " + "; ".join(r["failures"][:5]))
    print("provenance " + json.dumps(prov, sort_keys=True))
    print(json.dumps(result))


def _per_layer():
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer"]}


PER_LAYER = _per_layer() if os.path.exists(
    os.path.join(REPO, "BENCHMARK.json")) else {}

if __name__ == "__main__":
    main()
