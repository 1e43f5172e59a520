#!/usr/bin/env python3
"""Duplicate-block scan over Scala sources.

Slides a 6-line window over every file's whitespace-stripped lines. A
window counts when at least 5 of its 6 lines are code (not blank, not a
comment line) and the same 6 stripped lines occur at an earlier place in
the scanned tree (files in path order, lines in file order). Every line a
repeated window covers is a duplicated line: the lines a shared helper
could take out. The scan prints the per-file counts of those lines.

    python3 tools/dupscan.py [root ...]     # default: src/main
"""
import os
import sys
from collections import defaultdict

WINDOW = 6
MIN_CODE = 5


def is_code(line):
    return bool(line) and not line.startswith(("//", "/*", "*"))


def scala_files(roots):
    for root in roots:
        for d, _, names in os.walk(root):
            for n in sorted(names):
                if n.endswith(".scala"):
                    yield os.path.join(d, n)


def scan(roots):
    files = {}
    where = defaultdict(list)
    for path in scala_files(roots):
        with open(path, encoding="utf-8") as f:
            lines = [l.strip() for l in f]
        files[path] = lines
        for i in range(len(lines) - WINDOW + 1):
            w = tuple(lines[i:i + WINDOW])
            if sum(map(is_code, w)) >= MIN_CODE:
                where[w].append((path, i))
    covered = defaultdict(set)
    for sites in where.values():
        if len(sites) > 1:
            for path, i in sites[1:]:
                covered[path].update(range(i, i + WINDOW))
    return {p: len(s) for p, s in covered.items()}


def main():
    counts = scan(sys.argv[1:] or ["src/main"])
    for path, n in sorted(counts.items(), key=lambda kv: -kv[1]):
        print(f"{n:6d}  {path}")
    print(f"{sum(counts.values()):6d}  total")


if __name__ == "__main__":
    main()
