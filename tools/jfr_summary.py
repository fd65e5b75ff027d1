#!/usr/bin/env python3
"""Summarise a JDK Flight Recorder file: who starts processes, and
where each thread spends its samples.

    python3 tools/jfr_summary.py REC.jfr [--after SECONDS] [--top N]
                                 [--frames PATTERN ...]

Record a JVM with `-XX:StartFlightRecording=filename=REC.jfr,settings=profile`
(for a perfbench run, pass it through `JAVA_TOOL_OPTIONS`). The report has
two parts, both read with the JDK's `jfr print --json`:

- process starts (`jdk.ProcessStart`), grouped by command (argv[0]) and by
  caller: the first frames outside the JDK and outside the process
  launchers (Hadoop's `Shell`, Spark's `Utils.execute*`);
- execution samples (`jdk.ExecutionSample`) per thread, with each thread's
  most sampled top frames. Digits in thread names are folded to `N`, so the
  per-task names of Spark's executor threads form one group.
- with `--frames`, per thread group, the inclusive sample count of each
  PATTERN: the samples with a matching frame anywhere in their recorded
  stack (a regular expression searched in `package.Class.method`), e.g.
  `--frames SerializableConfiguration.readObject parseMoneyFn
  FileFormatWriter.executeTask`.

`--after SECONDS` keeps only events at least that long after JVM start,
e.g. a perfbench run's `setup_s`, to look at its timed passes alone.
"""
import argparse
import collections
import datetime
import json
import re
import signal
import subprocess
import sys

JDK = ("java.", "javax.", "jdk.", "sun.", "com.sun.")
STACK_DEPTH = 64  # JFR's default recorded depth
LAUNCHERS = ("org.apache.hadoop.util.Shell", "org.apache.spark.util.Utils.execute")


def events(rec, names, depth):
    out = subprocess.run(
        ["jfr", "print", "--json", "--stack-depth", str(depth),
         "--events", ",".join(names), rec],
        check=True, stdout=subprocess.PIPE, text=True).stdout
    return json.loads(out)["recording"]["events"]


def instant(s):
    # "2026-10-18T04:04:43.524041856Z": keep microseconds for fromisoformat
    m = re.match(r"(.*T\d\d:\d\d:\d\d)(?:\.(\d+))?Z$", s)
    frac = (m.group(2) or "0")[:6].ljust(6, "0")
    return datetime.datetime.fromisoformat(f"{m.group(1)}.{frac}+00:00")


def frame_name(f):
    m = f["method"]
    return m["type"]["name"].replace("/", ".") + "." + m["name"]


def frames(ev):
    st = ev["values"].get("stackTrace") or {}
    return [frame_name(f) for f in st.get("frames") or []]


def caller(stack, n=3):
    """The first `n` frames outside the JDK and the process launchers."""
    own = [f for f in stack if not f.startswith(JDK + LAUNCHERS)]
    return " < ".join(own[:n]) or "(JDK only)"


def thread(ev):
    t = ev["values"].get("sampledThread") or ev["values"].get("eventThread")
    name = (t or {}).get("javaName") or (t or {}).get("osName") or "?"
    return re.sub(r"\d+", "N", name)


def top(counter, n, indent="  "):
    for key, c in counter.most_common(n):
        print(f"{indent}{c:7d}  {key}")


def main():
    signal.signal(signal.SIGPIPE, signal.SIG_DFL)  # quiet under `| head`
    ap = argparse.ArgumentParser(
        description=__doc__.split("\n\n")[0],
        formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("rec", metavar="REC.jfr")
    ap.add_argument("--after", type=float, default=0.0, metavar="SECONDS",
                    help="only events this long after JVM start")
    ap.add_argument("--top", type=int, default=10, metavar="N",
                    help="rows per group (default 10)")
    ap.add_argument("--frames", nargs="+", default=[], metavar="PATTERN",
                    help="inclusive sample counts per thread group of the "
                         "stacks with a frame matching each PATTERN")
    a = ap.parse_args()

    info = events(a.rec, ["jdk.JVMInformation"], 1)
    start = (instant(info[0]["values"]["jvmStartTime"]) if info else None)

    def kept(evs):
        if start is None or a.after <= 0:
            return evs
        return [e for e in evs if (instant(e["values"]["startTime"]) - start)
                .total_seconds() >= a.after]

    procs = kept(events(a.rec, ["jdk.ProcessStart"], 64))
    print(f"process starts: {len(procs)}"
          + (f" (from {a.after:g} s after JVM start)" if a.after > 0 else ""))
    by_cmd = collections.Counter(
        (e["values"].get("command") or "?").split()[0].rsplit("/", 1)[-1]
        for e in procs)
    print(" by command:")
    top(by_cmd, a.top)
    print(" by caller:")
    top(collections.Counter(caller(frames(e)) for e in procs), a.top)

    patterns = [(p, re.compile(p)) for p in a.frames]
    samples = kept(events(a.rec, ["jdk.ExecutionSample"],
                          STACK_DEPTH if patterns else 1))
    print(f"\nexecution samples: {len(samples)}")
    per = collections.defaultdict(collections.Counter)
    hits = collections.defaultdict(collections.Counter)
    for e in samples:
        fs = frames(e)
        per[thread(e)][fs[0] if fs else "?"] += 1
        for p, rx in patterns:
            hits[thread(e)][p] += any(rx.search(f) for f in fs)
    groups = sorted(per.items(), key=lambda kv: -sum(kv[1].values()))
    for name, c in groups:
        print(f" {sum(c.values()):7d}  {name}")
        top(c, min(a.top, 3), indent="   ")
    if patterns:
        print(f"\ninclusive samples per frame pattern "
              f"(stacks recorded to depth {STACK_DEPTH}):")
        for name, c in groups:
            print(f" {sum(c.values()):7d}  {name}")
            for p, _ in patterns:
                print(f"   {hits[name][p]:7d}  {p}")


if __name__ == "__main__":
    sys.exit(main())
