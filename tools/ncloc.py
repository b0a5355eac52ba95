#!/usr/bin/env python3
"""Count non-comment lines of Scala sources, the rule CHANGES.md quotes:
a line counts when, stripped, it is non-blank and starts with none of
`//`, `/*` or `*` (so scaladoc and block-comment bodies are skipped;
trailing comments on a code line still count as code).

Usage: python3 tools/ncloc.py PATH... prints one `count path` line per
file, then a `total` line when more than one file is counted. A
directory PATH counts every `*.scala` file under it, in path order.
"""
import os
import sys


def ncloc(path):
    with open(path, encoding="utf-8") as f:
        return sum(1 for line in f
                   if (s := line.strip())
                   and not s.startswith(("//", "/*", "*")))


def files(path):
    if not os.path.isdir(path):
        return [path]
    return sorted(os.path.join(d, f) for d, _, fs in os.walk(path)
                  for f in fs if f.endswith(".scala"))


def main(paths):
    if not paths:
        sys.exit(__doc__.strip())
    counts = [(ncloc(f), f) for p in paths for f in files(p)]
    for n, p in counts:
        print(f"{n} {p}")
    if len(counts) > 1:
        print(f"{sum(n for n, _ in counts)} total")


if __name__ == "__main__":
    main(sys.argv[1:])
