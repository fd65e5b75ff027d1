#!/usr/bin/env python3
"""Count repeated blocks of Scala code in src/main.

A block is a window of N consecutive code lines (default 4). Code lines
are source lines with surrounding whitespace stripped, skipping blank
lines, comment lines, package and import lines, punctuation-only lines
(`}`, `})`) and everything inside triple-quoted strings (the DuckDB
oracle SQL). A line counts as
duplicated when some window covering it occurs more than once anywhere
in the tree. Prints the duplicated-line count per file and the total.

Informational only: it is not a gate, and a count is comparable only
between runs with the same window size.

    python3 tools/dup_blocks.py [--root DIR] [--window N] [--show]
"""
import argparse
import collections
import os
import re
import sys

PUNCT = re.compile(r"^[\s{}()\[\],;]*$")


def code_lines(text):
    """(line number, normalized line) for each code line of `text`."""
    out = []
    in_string = False
    in_block_comment = False
    for no, raw in enumerate(text.splitlines(), 1):
        line = raw.strip()
        quotes = line.count('"""')
        if in_string:
            if quotes % 2 == 1:
                in_string = False
            continue
        if quotes % 2 == 1:
            # the line opens a multi-line string: keep the code before it
            in_string = True
            line = line[:line.index('"""')].strip()
        if in_block_comment:
            if "*/" in line:
                in_block_comment = False
            continue
        if line.startswith("/*"):
            in_block_comment = "*/" not in line
            continue
        if not line or line.startswith(("//", "*", "package ", "import ")) \
                or PUNCT.match(line):
            continue
        out.append((no, line))
    return out


def main(argv):
    ap = argparse.ArgumentParser(
        description="Count repeated N-line code windows (outside "
                    "triple-quoted strings) in Scala sources, per file.")
    ap.add_argument("--root", default="src/main",
                    help="source tree to scan (default: src/main)")
    ap.add_argument("--window", type=int, default=4,
                    help="window size in code lines (default: 4)")
    ap.add_argument("--show", action="store_true",
                    help="also print each repeated window and its sites")
    args = ap.parse_args(argv)

    files = {}
    for d, _, names in os.walk(args.root):
        for n in sorted(names):
            if n.endswith(".scala"):
                p = os.path.join(d, n)
                with open(p, encoding="utf-8") as f:
                    files[p] = code_lines(f.read())

    sites = collections.defaultdict(list)
    for p, lines in files.items():
        for i in range(len(lines) - args.window + 1):
            key = tuple(l for _, l in lines[i:i + args.window])
            sites[key].append((p, i))

    dup = collections.defaultdict(set)
    for key, where in sites.items():
        if len(where) < 2:
            continue
        for p, i in where:
            dup[p].update(no for no, _ in files[p][i:i + args.window])
        if args.show:
            print("---", ", ".join(f"{p}:{files[p][i][0]}" for p, i in where))
            print("\n".join(key))

    total = 0
    for p in sorted(files):
        if dup[p]:
            print(f"{len(dup[p]):6d}  {p}")
            total += len(dup[p])
    print(f"{total:6d}  total duplicated code lines "
          f"(window {args.window}, {len(files)} files)")


if __name__ == "__main__":
    main(sys.argv[1:])
